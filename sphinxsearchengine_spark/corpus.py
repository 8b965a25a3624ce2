"""Deterministic synthetic source-code corpus (FIXTURES.md §1).

Generates the input table of exactly the shape mandated by
``BASELINE.json input_hint``: ``(repo, path, commit, lang, content)``, then
derives the engine's document columns (SURVEY.md §1.1 mapping of the
reference schema at sphinx.conf:4-21):

- ``docid = md5_low64(repo, path, commit)``  (analog of RT BIGINT id,
  SphinxSearchEngine_class.php:377,524; md5 so the DuckDB oracle can
  recompute it in SQL)
- ``content_sha = sha256(content)``          (per-row invariant)
- ``category = [repo, lang]``                (ArrayType, replaces the
  '|'-joined string of SphinxSearchEngine_class.php:371-372)
- ``category_search``                        (mangled tokens, :348-359)
- ``date_insert <= date_modify``             (sphinx.conf:13-14), pinned
  deterministic timestamps (no wall clock)

Content is seeded token soup per doc id, mixing English/Russian words,
blend-char identifiers, 1-char droppables, plus planted terms:
- ``needleuniq``      in exactly one doc  (rare-term tests)
- ``hotterm``         in ~50% of docs     (skew/salting tests)
- ``alpha beta``      adjacent pair       (phrase tests)
Generation is distributed (mapInPandas over spark.range) and depends
only on doc index, never on partitioning — identical at any parallelism.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from sphinxsearchengine_spark.config import FIELD_SIZE_CAP
from sphinxsearchengine_spark.text.tokenizer import mangle_category_col

SEED = 42

EN_WORDS = (
    "query engine index search token document ranking score field weight "
    "partition shuffle broadcast column vector batch stream window merge "
    "join filter group order limit offset parse plan optimize execute "
    "running searches indexed matching relational generalization caching "
    "buffer memory disk segment compress encode decode posting dictionary "
    "checkpoint lineage manifest resume cluster executor driver task stage"
).split()

RU_WORDS = (
    "поиск запрос индекс слово документ база данные система машина книга "
    "страница категория заголовок текст число время работа файл строка "
    "таблица функция модуль процесс память диск сеть узел кластер задача"
).split()

IDENT_HEADS = ["get", "set", "build", "parse", "read", "write", "merge", "scan"]
IDENT_TAILS = ["index", "config", "buffer", "token", "field", "stats", "batch"]
BLENDS = "_-&+@$"

LANGS = ["python", "php", "rust", "go", "java"]

CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string"

# ---------------------------------------------------------------------------
# Vectorized generator (r6).  numpy's legacy RandomState consumes the
# MT19937 stream for every bounded randint as masked 32-bit rejection
# sampling — one raw word per attempt, identical for scalar and array
# draws (verified against RandomState for the bounds used here;
# tests/test_corpus_fast.py asserts full-row byte equality with a
# reference twin of per-draw scalar RandomState calls).  So each doc's
# whole draw sequence can be replayed from ONE bulk raw-word call, and
# the per-word draw machine runs vectorized ACROSS the docs of a batch:
# corpus generation drops from ~210 scalar randint calls per doc
# (~11.5 s of the sf1.0 build's docs stage) to a few numpy passes per
# word position.

_HEXMAP = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)


def _smear(v: int) -> int:
    v |= v >> 1
    v |= v >> 2
    v |= v >> 4
    v |= v >> 8
    v |= v >> 16
    return v


_U32 = np.uint32
_MT_N = 624


def _mt_init(seeds: np.ndarray) -> np.ndarray:
    """Legacy MT19937 init_genrand, vectorized across seeds — the exact
    seeding RandomState(int_seed) performs."""
    mt = np.empty((len(seeds), _MT_N), dtype=np.uint32)
    mt[:, 0] = seeds
    f = _U32(1812433253)
    for i in range(1, _MT_N):
        prev = mt[:, i - 1]
        mt[:, i] = f * (prev ^ (prev >> _U32(30))) + _U32(i)
    return mt


def _mt_twist(mt: np.ndarray) -> np.ndarray:
    """One MT19937 state twist, vectorized across rows (the classic
    3-segment in-place recurrence unrolled into slice ops)."""
    up, lo, ma = _U32(0x80000000), _U32(0x7FFFFFFF), _U32(0x9908B0DF)
    new = np.empty_like(mt)
    y = (mt[:, 0:227] & up) | (mt[:, 1:228] & lo)
    new[:, 0:227] = mt[:, 397:624] ^ (y >> _U32(1)) ^ ((y & _U32(1)) * ma)
    y = (mt[:, 227:454] & up) | (mt[:, 228:455] & lo)
    new[:, 227:454] = new[:, 0:227] ^ (y >> _U32(1)) ^ ((y & _U32(1)) * ma)
    y = (mt[:, 454:623] & up) | (mt[:, 455:624] & lo)
    new[:, 454:623] = new[:, 227:396] ^ (y >> _U32(1)) ^ ((y & _U32(1)) * ma)
    y = (mt[:, 623] & up) | (new[:, 0] & lo)
    new[:, 623] = new[:, 396] ^ (y >> _U32(1)) ^ ((y & _U32(1)) * ma)
    return new


def _mt_temper(y: np.ndarray) -> np.ndarray:
    y = y ^ (y >> _U32(11))
    y = y ^ ((y << _U32(7)) & _U32(0x9D2C5680))
    y = y ^ ((y << _U32(15)) & _U32(0xEFC60000))
    return y ^ (y >> _U32(18))


class _VecDraws:
    """Per-doc raw MT19937 word streams + vectorized masked-rejection
    bounded draws — bit-exact twins of RandomState(SEED+i).randint
    (verified: one masked 32-bit word per attempt for every bound used
    here; tests/test_corpus_fast.py).  The streams themselves come from
    a numpy MT19937 implementation vectorized ACROSS docs, so no
    RandomState object is ever constructed (construction alone cost
    ~70 µs/doc)."""

    def __init__(self, ids):
        self.m = len(ids)
        seeds = (SEED + np.asarray(ids, dtype=np.int64)) & 0xFFFFFFFF
        self.mt = _mt_init(seeds.astype(np.uint32))
        chunks = [_mt_twist(self.mt)]
        self.mt = chunks[0]
        self.raw = _mt_temper(chunks[0])
        self.k = _MT_N
        self.pos = np.zeros(self.m, dtype=np.int64)

    def _grow(self):
        self.mt = _mt_twist(self.mt)
        self.raw = np.concatenate([self.raw, _mt_temper(self.mt)], axis=1)
        self.k += _MT_N

    def draw(self, bound: int, rows: np.ndarray) -> np.ndarray:
        """One bounded draw per row of `rows` (program order per doc is
        preserved; cross-doc interleaving is free — streams are
        independent)."""
        mask = _smear(bound - 1) if bound > 1 else 0
        out = np.empty(len(rows), dtype=np.int64)
        pending = np.arange(len(rows))
        while len(pending):
            rr = rows[pending]
            while int(self.pos[rr].max(initial=0)) >= self.k:
                self._grow()
            v = self.raw[rr, self.pos[rr]] & mask
            self.pos[rr] += 1
            ok = v <= bound - 1
            out[pending[ok]] = v[ok]
            pending = pending[~ok]
        return out

    def draw1(self, j: int, bound: int) -> int:
        """Scalar draw (plain-Python masked rejection over the buffered
        words — the per-doc insertion draws are too few to vectorize)."""
        mask = _smear(bound - 1) if bound > 1 else 0
        pos = int(self.pos[j])
        while True:
            if pos >= self.k:
                self._grow()
            v = int(self.raw[j, pos]) & mask
            pos += 1
            if v <= bound - 1:
                self.pos[j] = pos
                return v


_EN_ARR = np.asarray(EN_WORDS, dtype=object)
_RU_ARR = np.asarray(RU_WORDS, dtype=object)
_HEAD_ARR = np.asarray(IDENT_HEADS, dtype=object)
_TAIL_ARR = np.asarray(IDENT_TAILS, dtype=object)
_BLEND_ARR = np.asarray(list(BLENDS), dtype=object)


def _gen_rows_fast(ids: np.ndarray):
    """(repo, path, commit, lang, content) rows for `ids` — byte-equal
    to the reference twin in tests/test_corpus_fast.py, vectorized
    across the batch."""
    m = len(ids)
    d = _VecDraws(ids)
    all_rows = np.arange(m, dtype=np.int64)

    # commit: 40 draws of bound 256 per doc — first consumption, equal
    # positions, mask 0xFF never rejects: one 2-D slice
    commit_words = d.raw[:, :40] & 0xFF
    d.pos[:] = 40
    hexbytes = _HEXMAP[commit_words & 15].astype(np.uint8)
    commits = [hexbytes[j].tobytes().decode() for j in range(m)]

    n = 40 + d.draw(160, all_rows)
    maxn = int(n.max()) if m else 0
    words = np.empty((m, maxn), dtype=object)
    n_en, n_ru = len(_EN_ARR), len(_RU_ARR)
    n_head, n_tail, n_blend = len(_HEAD_ARR), len(_TAIL_ARR), len(_BLEND_ARR)
    for w in range(maxn):
        active = all_rows[n > w]
        if not len(active):
            break
        r = d.draw(100, active)
        en_rows = active[r < 55]
        if len(en_rows):
            words[en_rows, w] = _EN_ARR[d.draw(n_en, en_rows)]
        ru_rows = active[(r >= 55) & (r < 70)]
        if len(ru_rows):
            words[ru_rows, w] = _RU_ARR[d.draw(n_ru, ru_rows)]
        id_rows = active[(r >= 70) & (r < 85)]
        if len(id_rows):
            # program order per doc: blend, then head, then tail
            blend = _BLEND_ARR[d.draw(n_blend, id_rows)]
            head = _HEAD_ARR[d.draw(n_head, id_rows)]
            tail = _TAIL_ARR[d.draw(n_tail, id_rows)]
            words[id_rows, w] = head + blend + tail
        dr_rows = active[(r >= 85) & (r < 92)]
        if len(dr_rows):
            xyzq = np.asarray(list("xyzq"), dtype=object)
            words[dr_rows, w] = xyzq[d.draw(4, dr_rows)]
        num_rows = active[r >= 92]
        if len(num_rows):
            words[num_rows, w] = np.char.mod(
                "%d", d.draw(9999, num_rows)
            ).astype(object)

    rows = []
    for j in range(m):
        i = int(ids[j])
        wl = list(words[j, : int(n[j])])
        if i == 0:
            wl.insert(d.draw1(j, len(wl)), "needleuniq")
        if d.draw1(j, 2) == 0:
            wl.insert(d.draw1(j, len(wl)), "hotterm")
        if d.draw1(j, 4) == 0:
            kk = d.draw1(j, len(wl))
            wl[kk:kk] = ["alpha", "beta"]
        lang = LANGS[i % len(LANGS)]
        rows.append(
            (
                f"org{i % 7}/repo{i % 50}",
                f"src/mod{i % 13}/file_{i}.{lang[:2]}",
                commits[j],
                lang,
                " ".join(wl),
            )
        )
    return rows


def _gen_batch(pdf_iter):
    for pdf in pdf_iter:
        ids = pdf["id"].to_numpy()
        if len(ids) == 0:
            continue
        yield pd.DataFrame(
            _gen_rows_fast(ids),
            columns=["repo", "path", "commit", "lang", "content"],
        )


def generate_corpus(spark: SparkSession, n_docs: int, partitions: int = 8) -> DataFrame:
    """Distributed deterministic corpus of `n_docs` files."""
    return spark.range(0, n_docs, numPartitions=partitions).mapInPandas(
        _gen_batch, schema=CORPUS_SCHEMA
    )


# Pinned epoch window for deterministic timestamps (no wall clock):
# date_insert in [2020-09-13, +3y), date_modify in [insert, insert+1y).
_TS_BASE = 1_600_000_000
_TS_SPAN = 94_608_000  # 3 years
_TS_MOD_SPAN = 31_536_000  # 1 year

# Pinned "query time" used by tests/bench for the freshness ranker term
# (the reference's now() at SphinxSearchEngine_class.php:113 — pinned for
# determinism per SURVEY.md §7 hard-part (c)).
PINNED_NOW = _TS_BASE + _TS_SPAN + _TS_MOD_SPAN


def _md5_i64(col, lo: bool = True):
    """Signed-int64 view of the low (or high) 64 bits of md5(col).

    Chosen over xxhash64 so the driver's DuckDB oracle can recompute
    docids and date attributes in SQL — ('0x' || substr(md5(k), 17, 16))
    ::UBIGINT gives the identical unsigned value; dispersion is
    equivalent (uniform over the 64-bit space)."""
    h = F.md5(col)
    part = F.substring(h, 17, 16) if lo else F.substring(h, 1, 16)
    d = F.conv(part, 16, 10).cast("decimal(20,0)")
    wrap = F.lit("18446744073709551616").cast("decimal(38,0)")
    half = F.lit("9223372036854775808").cast("decimal(38,0)")
    return (
        F.when(d >= half, (d.cast("decimal(38,0)") - wrap)).otherwise(d)
    ).cast("long")


def derive_documents(corpus: DataFrame) -> DataFrame:
    """Corpus table -> engine document table (all native column fns).

    docid and the date attributes are md5-derived (one digest: docid =
    low 64 bits, date entropy = high 64 bits) so the DuckDB correctness
    oracle can reproduce attribute-dependent outputs (ordering,
    freshness-ranked scores) value-for-value in SQL.

    Everything here is native column functions — the category mangling
    runs through mangle_category_col (translate+regexp_replace), not a
    Python UDF, so the whole derivation stays inside whole-stage codegen
    (plan-tested: no BatchEvalPython, tests/test_plans.py)."""
    key = F.concat_ws("\x1f", "repo", "path", "commit")
    return (
        corpus.withColumn("docid", _md5_i64(key, lo=True))
        .withColumn("_dateseed", _md5_i64(key, lo=False))
        .withColumn("content", F.substring("content", 1, FIELD_SIZE_CAP))
        .withColumn("content_sha", F.sha2(F.col("content"), 256))
        .withColumn("category", F.array("repo", "lang"))
        .withColumn(
            "category_search",
            F.concat_ws(
                " ",
                mangle_category_col(F.col("repo")),
                mangle_category_col(F.col("lang")),
            ),
        )
        .withColumn(
            "date_insert",
            F.lit(_TS_BASE) + F.pmod("_dateseed", F.lit(_TS_SPAN)),
        )
        .withColumn(
            "date_modify",
            F.col("date_insert") + F.pmod("docid", F.lit(_TS_MOD_SPAN)),
        )
        .drop("_dateseed")
    )
