"""Bulk inverted-index build (SURVEY.md §3.3, reference S1/S2).

The reference's bulk path (`build_index`,
SphinxSearchEngine_class.php:397-453) streams a SQL join through batched
``REPLACE INTO`` statements into searchd.  Spark-first redesign:

    documents DF
      → mapInPandas tokenize (Arrow batches; unique-token stem cache —
        the vectorized analog of the reference's per-row PHP loop)
      → postings rows (term, field, docid, tf, varbyte positions, attrs)
      → repartition on (term-bucket, docid-salt)       [the ONE shuffle]
      → fused reducer task: sort (bucket, term, field, docid), write the
        sorted per-bucket postings parquet files as a side output, and
        emit the per-(term, docid) rollup rows
      → groupBy (bucket, term, blk) → blockmax table   [tiny shuffle]
    dictionary = blockmax rollup (blocks partition each term's docids)
    docs table = straight parallel write; n_docs observed on the write

Salting: the docid-salt splits every term — hot or not — into
``salt_factor`` (bucket, salt) keys per bucket, so a term occurring in
50% of all docs (see FIXTURES.md planted ``hotterm``) cannot pin a
single reducer.  ``salt_factor`` is a cap, not the width: the reducer
count comes from the segment's size (`build_widths`, one task per
`BUILD_DOCS_PER_TASK` docs, at most nb × salt_factor), so a small delta
runs on one task while a large build keeps nb × salt_factor.  A task may
hold several (bucket, salt) keys and writes one sorted file per bucket
it holds, so readers see each bucket as up to `salt_factor` sorted runs.
This is the explicit skew defusal mandated by the north rule; AQE
remains enabled as backstop.  The tokenize split count is sized the same
way (at most 2 × parallelism).

Resume: each build writes a per-stage lineage manifest
(manifests/<seg>.json) recording stage → output path + row count +
config; a re-run with the same manifest skips completed stages
(checkpointed segment state, north rule).
"""

from __future__ import annotations

import json
import os
import time

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from sphinxsearchengine_spark import codec
from sphinxsearchengine_spark.config import EngineConfig, FIELD_NAMES, FIELDS
from sphinxsearchengine_spark.npsort import int_order
from sphinxsearchengine_spark.index.layout import (
    IndexLayout,
    IndexMeta,
    POSTINGS_SCHEMA,
    TABLE_SCHEMAS,
    TOMBSTONE_SCHEMA,
)

# Document columns fed to the tokenizer, in field order (SURVEY.md §1.5):
# content -> text(0), path -> title(1), category_search -> category_search(2).
_FIELD_SOURCE = {"text": "content", "title": "path", "category_search": "category_search"}


def _tokenize_batch_ref(pdf_iter):
    """Reference-semantics tokenizer twin (per-row loop).  Kept ONLY as
    the equality oracle for tests/test_builder_vectorized.py — the
    production path below must emit the identical row set."""
    from sphinxsearchengine_spark.text.tokenizer import tokenize, stem_token
    from sphinxsearchengine_spark.config import EXACT_PREFIX

    for pdf in pdf_iter:
        out_term, out_field, out_docid, out_tf, out_etf = [], [], [], [], []
        out_pos, out_lang, out_di, out_dm = [], [], [], []
        for row in pdf.itertuples(index=False):
            for fname in FIELD_NAMES:
                text = getattr(row, _FIELD_SOURCE[fname])
                if not text:
                    continue
                fid = FIELDS[fname]
                acc: dict[str, list] = {}  # term -> [positions, exact_tf]
                for pos, forms in tokenize(text):
                    seen: set[str] = set()
                    for raw in forms:
                        stem = stem_token(raw)
                        if stem not in seen:
                            seen.add(stem)
                            slot = acc.setdefault(stem, [[], 0])
                            slot[0].append(pos)
                            if raw == stem:
                                slot[1] += 1
                        if stem != raw:
                            ex = EXACT_PREFIX + raw
                            if ex not in seen:
                                seen.add(ex)
                                slot = acc.setdefault(ex, [[], 0])
                                slot[0].append(pos)
                                slot[1] += 1
                for term, (positions, etf) in acc.items():
                    out_term.append(term)
                    out_field.append(fid)
                    out_docid.append(row.docid)
                    out_tf.append(len(positions))
                    out_etf.append(etf)
                    out_pos.append(codec.delta_encode_small(positions))
                    out_lang.append(row.lang)
                    out_di.append(row.date_insert)
                    out_dm.append(row.date_modify)
        yield pd.DataFrame(
            {
                "term": out_term,
                "field": pd.array(out_field, dtype="int32"),
                "docid": pd.array(out_docid, dtype="int64"),
                "tf": pd.array(out_tf, dtype="int32"),
                "exact_tf": pd.array(out_etf, dtype="int32"),
                "pos_vb": out_pos,
                "lang": out_lang,
                "date_insert": pd.array(out_di, dtype="int64"),
                "date_modify": pd.array(out_dm, dtype="int64"),
            }
        )


# Emission cache: primary token -> (n_parts, [(pos_offset, term, etf)]).
# The mapping "primary token -> emitted (offset, term, exact_tf) tuples"
# depends only on the token string, so it is computed once per UNIQUE
# token (worker-lifetime cache, like the stem lru_cache) and the per-
# occurrence work below is pure numpy.
_EMIT_CACHE: dict[str, tuple] = {}
_EMIT_CACHE_CAP = 1 << 20


def _emission_table(uniq_toks):
    """Per unique primary token: advance width + flattened emissions.

    Returns (n_adv, estart, ecount, eoffs, etids, eetfs, term_pool):
    token i advances the position counter by n_adv[i] and emits
    ecount[i] postings rows described by the flat arrays at
    [estart[i], estart[i]+ecount[i]): position offset, term id into
    term_pool, exact_tf contribution.
    """
    import numpy as np

    from sphinxsearchengine_spark.config import EXACT_PREFIX
    from sphinxsearchengine_spark.text import charset
    from sphinxsearchengine_spark.text.tokenizer import stem_token, tokenize

    n = len(uniq_toks)
    n_adv = np.empty(n, dtype=np.int64)
    estart = np.empty(n, dtype=np.int64)
    ecount = np.empty(n, dtype=np.int64)
    offs: list[int] = []
    tids: list[int] = []
    etfs: list[int] = []
    term_ids: dict[str, int] = {}
    pool: list[str] = []
    for i, tok in enumerate(uniq_toks):
        ent = _EMIT_CACHE.get(tok)
        if ent is None:
            # fold here, per UNIQUE token (input spans were matched with
            # the unfolded class — same span structure, see charset.py)
            ftok = tok.translate(charset.FOLD_TABLE)
            parts = [p for p in charset.BLEND_SPLIT_RE.split(ftok) if p]
            ems: list[tuple] = []
            for pos, forms in tokenize(ftok):
                seen: set[str] = set()
                for raw in forms:
                    stem = stem_token(raw)
                    if stem not in seen:
                        seen.add(stem)
                        ems.append((pos - 1, stem, 1 if raw == stem else 0))
                    if stem != raw:
                        ex = EXACT_PREFIX + raw
                        if ex not in seen:
                            seen.add(ex)
                            ems.append((pos - 1, ex, 1))
            ent = (len(parts), tuple(ems))
            if len(_EMIT_CACHE) < _EMIT_CACHE_CAP:
                _EMIT_CACHE[tok] = ent
        n_adv[i] = ent[0]
        estart[i] = len(offs)
        ecount[i] = len(ent[1])
        for off, t, e in ent[1]:
            tid = term_ids.get(t)
            if tid is None:
                tid = len(pool)
                term_ids[t] = tid
                pool.append(t)
            offs.append(off)
            tids.append(tid)
            etfs.append(e)
    import numpy as _np

    return (
        n_adv, estart, ecount,
        _np.asarray(offs, dtype=_np.int64),
        _np.asarray(tids, dtype=_np.int64),
        _np.asarray(etfs, dtype=_np.int64),
        _np.asarray(pool, dtype=object),
    )


def _field_postings(texts, docids, langs, dis, dms, fid):
    """Vectorized postings for one field over an Arrow batch.

    Per-occurrence and per-posting work is numpy (segmented cumsum for
    positions, one lexsort for (doc, term) grouping, one batch varbyte
    encode); Python loops touch only unique tokens (emission table) and
    group-boundary byte slicing.
    """
    import numpy as np

    from sphinxsearchengine_spark.text import charset

    # NFC-normalize whole texts first (T7): composition changes char
    # counts, so span matching must see normalized input.  Tokens are
    # then NFC-stable (token-class chars are non-combining and
    # NFC-invariant), so the per-unique-token fold stays a plain
    # case-fold translate.  Match UNFOLDED token spans (identical span
    # structure; folding happens once per unique token inside the
    # emission table).
    findall = charset.PRIMARY_TOKEN_UNFOLDED_RE.findall
    tok_lists = [findall(charset.nfc(t)) if t else [] for t in texts]
    counts = np.fromiter((len(x) for x in tok_lists), np.int64, len(tok_lists))
    n_occ = int(counts.sum())
    empty = {
        "term": np.empty(0, object), "field": np.empty(0, np.int32),
        "docid": np.empty(0, np.int64), "tf": np.empty(0, np.int32),
        "exact_tf": np.empty(0, np.int32), "pos_blob": b"",
        "pos_len": np.empty(0, np.int64),
        "lang": np.empty(0, object), "date_insert": np.empty(0, np.int64),
        "date_modify": np.empty(0, np.int64),
    }
    if n_occ == 0:
        return empty
    from itertools import chain

    prim = np.asarray(list(chain.from_iterable(tok_lists)), dtype=object)
    doc_of_occ = np.repeat(np.arange(len(tok_lists)), counts)
    # hash-based factorize beats np.unique's string argsort by ~5x here
    inv, uniq = pd.factorize(prim, sort=False)
    n_adv, estart, ecount, eoffs, etids, eetfs, pool = _emission_table(uniq)

    # base position of each occurrence: segmented exclusive cumsum of the
    # per-token advance widths
    adv = n_adv[inv]
    g = np.cumsum(adv) - adv
    doc_start = np.cumsum(counts) - counts
    # clip: a trailing zero-token doc's start index == n_occ (repeated 0×)
    base = g - np.repeat(g[np.minimum(doc_start, n_occ - 1)], counts)

    # expand occurrences into emissions (ragged -> flat, no Python loop).
    # r6 fusion: flat emission indices come from ONE repeat of a combined
    # base (estart - exclusive-cumsum) plus arange, and base/doc expand
    # via np.repeat directly — the old occ_of_emit fancy-index built two
    # extra tot-sized temporaries and three gathers.
    e = ecount[inv]
    tot = int(e.sum())
    if tot == 0:
        return empty
    flat = np.repeat(estart[inv] - (np.cumsum(e) - e), e) + np.arange(tot)
    tid_v = etids[flat]
    pos_v = np.repeat(base, e) + eoffs[flat] + 1
    etf_v = eetfs[flat]
    doc_v = np.repeat(doc_of_occ, e)

    # group by (doc, term); positions ascend within each group.
    # (doc, tid, pos) triples are UNIQUE — one emission per distinct term
    # per occurrence, occurrence base positions strictly increase — so
    # the packed-key quicksort (npsort.int_order) orders identically to
    # the old stable 3-key lexsort (measured ~10x faster per 4M rows).
    order = int_order(pos_v, tid_v, doc_v)
    d_s, t_s, p_s, e_s = doc_v[order], tid_v[order], pos_v[order], etf_v[order]
    newgrp = np.empty(tot, dtype=bool)
    newgrp[0] = True
    newgrp[1:] = (d_s[1:] != d_s[:-1]) | (t_s[1:] != t_s[:-1])
    starts = np.flatnonzero(newgrp)
    glens = np.diff(np.append(starts, tot))

    # delta + varbyte encode ALL position lists in one pass.  Groups are
    # consecutive runs of the sorted emissions, so the encoded blob IS
    # the in-order concatenation of every group's pos_vb bytes: ship the
    # blob + per-group lengths instead of slicing ~2M Python bytes
    # objects here (r6 — pack_batch was immediately re-joining them; the
    # row-per-posting path materializes slices in _tokenize_batch).
    deltas = p_s.copy()
    deltas[1:] -= p_s[:-1]
    deltas[starts] = p_s[starts]
    blob, nb = codec.vb_encode(deltas.astype(np.uint64), return_lens=True)
    gb_len = np.add.reduceat(nb, starts)

    gdoc = d_s[starts]
    return {
        "term": pool[t_s[starts]],
        "field": np.full(len(starts), fid, dtype=np.int32),
        "docid": docids[gdoc],
        "tf": glens.astype(np.int32),
        "exact_tf": np.add.reduceat(e_s, starts).astype(np.int32),
        "pos_blob": blob,
        "pos_len": gb_len,  # known here — saves a 2.4M len() pass downstream
        "lang": langs[gdoc],
        "date_insert": dis[gdoc],
        "date_modify": dms[gdoc],
    }


def _batch_postings_columns(pdf):
    """One Arrow batch of documents -> flat postings columns dict
    (numpy arrays + one contiguous pos_blob with per-posting pos_len) —
    shared by the row-per-posting and packed tokenizer emitters.  Each
    field's blob is already its groups' bytes in order, so the batch
    blob is a plain bytes concat and per-posting starts are the
    exclusive cumsum of pos_len."""
    import numpy as np

    docids = pdf["docid"].to_numpy(dtype=np.int64)
    langs = pdf["lang"].to_numpy(dtype=object)
    dis = pdf["date_insert"].to_numpy(dtype=np.int64)
    dms = pdf["date_modify"].to_numpy(dtype=np.int64)
    cols = {k: [] for k in (
        "term", "field", "docid", "tf", "exact_tf", "pos_blob", "pos_len",
        "lang", "date_insert", "date_modify",
    )}
    for fname in FIELD_NAMES:
        texts = pdf[_FIELD_SOURCE[fname]].tolist()
        part = _field_postings(texts, docids, langs, dis, dms, FIELDS[fname])
        for kcol in cols:
            cols[kcol].append(part[kcol])
    out = {}
    for kcol, chunks in cols.items():
        if kcol == "pos_blob":
            out[kcol] = b"".join(chunks)
        else:
            out[kcol] = np.concatenate(chunks)
    return out


def _tokenize_batch(pdf_iter):
    """Arrow-batch tokenizer: documents -> postings rows (vectorized).

    Same contract as the reference twin above (exact-word dual indexing
    row-merged per sphinx.conf:19; tests assert bit-identical output);
    Python-level work is bounded by *unique primary tokens* per worker —
    the per-occurrence pipeline is numpy throughout, per BASELINE.json
    input_hint ("no per-row Python").
    """
    import numpy as np

    for pdf in pdf_iter:
        out = _batch_postings_columns(pdf)
        pl = out["pos_len"]
        ends = np.cumsum(pl)
        starts = ends - pl
        buf = out["pos_blob"]
        yield pd.DataFrame(
            {
                "term": out["term"],
                "field": pd.array(out["field"], dtype="int32"),
                "docid": pd.array(out["docid"], dtype="int64"),
                "tf": pd.array(out["tf"], dtype="int32"),
                "exact_tf": pd.array(out["exact_tf"], dtype="int32"),
                "pos_vb": [
                    buf[a:b] for a, b in zip(starts.tolist(), ends.tolist())
                ],
                "lang": out["lang"],
                "date_insert": pd.array(out["date_insert"], dtype="int64"),
                "date_modify": pd.array(out["date_modify"], dtype="int64"),
            }
        )


# Documents per builder Python task, for both the tokenize map and the
# (bucket, salt) reducer: the break-even point of one more task.
# Measured on a 4-core host (local[4], perfbench's 1968-doc corpus,
# widths forced): a Python task costs ~0.29 s of executor time before
# it touches a row (worker round-trip, Arrow framing, scheduling, the
# reducer's per-bucket files; the reducer went 0.98 s → 3.04 s of
# executor time from 1 task to 8, and a 52-doc upsert spent 9.2 s on 32
# reducer tasks), of which ~0.1 s lands on the wall once the cores are
# busy (1 → 8 reducer tasks: 1.01 → 0.86 s of wall, ~0.07 s per extra
# task; the scorer measured 0.1 s, see SCORE_ROWS_PER_TASK).  A document
# costs ~0.30 ms of tokenize + pack and ~0.35 ms of reduce (one task
# each: 0.83 s and 0.98 s of executor time, less the fixed cost).
# Splitting D docs over n ≤ cores tasks saves (1 - 1/n)·D·0.33 ms of
# wall, which pays for the 0.1 s at D ≈ 0.1 / (0.75 · 0.33e-3) ≈ 400
# docs; rounded down to 384 so a 50k-doc build (bench.py at sf0.1)
# still reaches the 128-reducer cap on 32 cores.
BUILD_DOCS_PER_TASK = 384


def build_widths(n_docs: int, parallelism: int, nb: int,
                 salt_factor: int) -> tuple[int, int]:
    """(tokenize splits, reducer tasks) for a segment of ``n_docs``."""
    tasks = max(1, -(-n_docs // BUILD_DOCS_PER_TASK))
    return min(tasks, 2 * parallelism), min(tasks, nb * salt_factor)


class _split_hint:
    """Temporarily size parquet input splits so a stage's scan has
    ``n_splits`` partitions.  By default Spark bins small files into
    splits of maxPartitionBytes (+4 MB open cost each) and also cuts the
    split size to total / ``spark.sql.files.minPartitionNum`` (the
    default parallelism when unset), so a 52-doc delta would tokenize on
    5 tasks whatever it asked for.  Here the split size is
    ceil(total / n_splits) with no open cost, and minPartitionNum is 1 so
    nothing re-cuts it: one file gives exactly n_splits splits (once it
    has at least n_splits² bytes), and n_splits = 1 gives one split over
    any number of files.  Several files are packed greedily, which can
    add a split.  A split reads only the row groups whose midpoint falls
    inside it, so a one-row-group file is still read by one task however
    it is cut.  At production scale (>=128 MB per split) the defaults
    already split fine and this becomes a no-op.

    CONCURRENCY: this (and _whole_files) mutates session-level
    spark.sql.files.* conf for the duration of the stage — run ONE build
    per SparkSession at a time; for concurrent builds use
    ``spark.newSession()`` per build so each gets its own conf."""

    _KEYS = (
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.openCostInBytes",
        "spark.sql.files.minPartitionNum",
    )

    def __init__(self, spark, path: str, n_splits: int):
        from sphinxsearchengine_spark import fs

        self.spark = spark
        self.n = max(n_splits, 1)
        self.target = max(-(-fs.total_size(path) // self.n), 1)

    def __enter__(self):
        conf = self.spark.conf
        self.old = {k: conf.get(k, None) for k in self._KEYS}
        if self.target < 128 * 1024 * 1024:
            conf.set(self._KEYS[0], str(self.target))
            conf.set(self._KEYS[1], "0")
            conf.set(self._KEYS[2], "1")
        return self

    def __exit__(self, *exc):
        for k, v in self.old.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)


def block_shift_for(n_docs: int) -> int:
    """Docid-block width so one block holds ~POSTINGS_BLOCK docs.

    Docids are md5-derived hashes, uniform over the 64-bit space, so the
    top (64 - shift) bits partition docs evenly; the SAME shift is used
    by every segment of one index so blocks align across segments."""
    from sphinxsearchengine_spark.config import POSTINGS_BLOCK

    bits = max(1, (max(n_docs, 1) // POSTINGS_BLOCK).bit_length())
    return min(max(64 - bits, 0), 63)


class _whole_files:
    """Read parquet with one-file-per-partition (no splitting, no
    binning): huge open cost forces every file into its own partition,
    huge maxPartitionBytes prevents splitting a file.  Used where a
    stage's correctness relies on file-level row co-location (blockmax
    per-doc aggregation below)."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        conf = self.spark.conf
        self.old_mpb = conf.get("spark.sql.files.maxPartitionBytes")
        self.old_open = conf.get("spark.sql.files.openCostInBytes")
        conf.set("spark.sql.files.maxPartitionBytes", str(1 << 40))
        conf.set("spark.sql.files.openCostInBytes", str(1 << 40))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", self.old_mpb)
        self.spark.conf.set("spark.sql.files.openCostInBytes", self.old_open)


ROLLUP_SCHEMA = (
    "bucket int, term string, blk long, tfd long, etfd long, "
    "fmask long, dsum long"
)


def _rollup_pdf(pdf: pd.DataFrame, block_shift: int) -> pd.DataFrame:
    """Doc-level rollup of one partition's postings rows (numpy): one row
    per (term, docid) with tf/exact-tf sums, field mask, freshness sum
    and the docid's block id.  Exact only when the partition holds EVERY
    row of each (term, docid) it touches — guaranteed by the
    (bucket, docid-salt) partitioning (term fixes bucket, docid fixes
    salt)."""
    import numpy as np

    tcode, tuniq = pd.factorize(pdf["term"], sort=False)
    pairs = np.stack(
        [tcode.astype(np.int64), pdf["docid"].to_numpy(np.int64)], axis=1
    )
    uniq, inv = np.unique(pairs, axis=0, return_inverse=True)
    n = len(uniq)
    tfd = np.zeros(n, np.int64)
    etfd = np.zeros(n, np.int64)
    fmask = np.zeros(n, np.int64)
    np.add.at(tfd, inv, pdf["tf"].to_numpy(np.int64))
    np.add.at(etfd, inv, pdf["exact_tf"].to_numpy(np.int64))
    np.bitwise_or.at(
        fmask, inv, np.int64(1) << pdf["field"].to_numpy(np.int64)
    )
    dsum = np.zeros(n, np.int64)
    np.maximum.at(
        dsum, inv,
        pdf["date_insert"].to_numpy(np.int64)
        + pdf["date_modify"].to_numpy(np.int64),
    )
    bucket = np.zeros(n, np.int32)
    bucket[inv] = pdf["bucket"].to_numpy(np.int32)
    docids = uniq[:, 1]
    blk = (docids.astype(np.uint64) >> np.uint64(block_shift)).astype(np.int64)
    return pd.DataFrame(
        {
            "bucket": bucket,
            "term": np.asarray(tuniq, dtype=object)[uniq[:, 0]],
            "blk": blk,
            "tfd": tfd,
            "etfd": etfd,
            "fmask": fmask,
            "dsum": dsum,
        }
    )


def _per_doc_batches(block_shift: int):
    """Partition-local doc-level rollup of postings rows (resume
    fallback path: blockmax derived by re-reading written postings).

    Exactness relies on the write layout: postings are partitioned by
    (bucket, docid-salt) before the per-bucket write, so ALL rows of one
    (term, docid) live in one file, and _whole_files keeps files intact
    per input partition — no shuffle needed for the docid level.
    """

    def gen(pdf_iter):
        # one partition == one postings file (see _whole_files), but
        # Arrow hands it over as ~10k-row batches — concatenate so the
        # (term, docid) grouping sees the whole file
        chunks = list(pdf_iter)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        else:
            pdf = None
        if pdf is not None and len(pdf):
            yield _rollup_pdf(pdf, block_shift)

    return gen


# Arrow schema of one postings file — must stay byte-compatible with
# what Spark's own parquet writer produced in rounds 1-2 (readers are
# unchanged; `bucket` lives in the directory name, hive-style).
def _postings_arrow_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("term", pa.string()),
            ("field", pa.int32()),
            ("docid", pa.int64()),
            ("tf", pa.int32()),
            ("exact_tf", pa.int32()),
            ("pos_vb", pa.binary()),
            ("lang", pa.string()),
            ("date_insert", pa.int64()),
            ("date_modify", pa.int64()),
        ]
    )


def _task_write_parquet(base: str, bucket: int, pid: int, table) -> None:
    """Executor-side parquet write of one bucket's rows to
    ``base/bucket=<b>/part-<pid>.parquet``.

    The filename is DETERMINISTIC per shuffle partition, and the write
    goes through tmp+rename on rename-capable filesystems, so task
    retries / speculative attempts overwrite idempotently with
    bit-identical content (partition contents are a pure function of the
    deterministic hash partitioning and the (bucket,term,field,docid)
    sort; that key is unique per row, so the sort is total)."""
    import pyarrow.parquet as pq

    from sphinxsearchengine_spark import fs as _fs

    fname = f"part-{pid:05d}.parquet"
    if _fs.is_local(base):
        import os as _os

        d = _os.path.join(_fs.strip_file_scheme(base), f"bucket={bucket}")
        _os.makedirs(d, exist_ok=True)
        tmp = _os.path.join(d, f".{fname}.tmp")
        pq.write_table(table, tmp, compression="snappy")
        _os.replace(tmp, _os.path.join(d, fname))
    else:
        # object stores / HDFS from an executor: pyarrow.fs (the driver's
        # JVM-backed fs.py helpers are not reachable here).  PUT is
        # atomic on object stores; HDFS gets create-then-rename via
        # pyarrow's HadoopFileSystem semantics.
        from pyarrow import fs as pafs

        fsys, rel = pafs.FileSystem.from_uri(f"{base}/bucket={bucket}/{fname}")
        fsys.create_dir(rel.rsplit("/", 1)[0], recursive=True)
        pq.write_table(table, rel, filesystem=fsys, compression="snappy")


def _rollup_arrow(table, block_shift: int):
    """Doc-level rollup of one task's (JVM-pre-sorted) postings Arrow
    table — the zero-pandas twin of _rollup_pdf.  All columns come out
    of Arrow as numpy views (fixed-width) or a C++ dictionary encode
    (term), so the only Python-loop-free cost is a couple of segmented
    numpy reductions."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    enc = pc.dictionary_encode(table.column("term")).combine_chunks()
    tcode = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    tuniq = enc.dictionary.to_pylist()
    docid = table.column("docid").to_numpy(zero_copy_only=False)
    pairs = np.stack([tcode, docid], axis=1)
    uniq, inv = np.unique(pairs, axis=0, return_inverse=True)
    n = len(uniq)
    tf = table.column("tf").to_numpy(zero_copy_only=False).astype(np.int64)
    etf = table.column("exact_tf").to_numpy(zero_copy_only=False).astype(np.int64)
    fld = table.column("field").to_numpy(zero_copy_only=False).astype(np.int64)
    di = table.column("date_insert").to_numpy(zero_copy_only=False)
    dm = table.column("date_modify").to_numpy(zero_copy_only=False)
    bkt = table.column("bucket").to_numpy(zero_copy_only=False).astype(np.int32)
    tfd = np.zeros(n, np.int64)
    etfd = np.zeros(n, np.int64)
    fmask = np.zeros(n, np.int64)
    dsum = np.zeros(n, np.int64)
    bucket = np.zeros(n, np.int32)
    np.add.at(tfd, inv, tf)
    np.add.at(etfd, inv, etf)
    np.bitwise_or.at(fmask, inv, np.int64(1) << fld)
    np.maximum.at(dsum, inv, di + dm)
    bucket[inv] = bkt
    blk = (uniq[:, 1].astype(np.uint64) >> np.uint64(block_shift)).astype(
        np.int64
    )
    terms = np.asarray(tuniq, dtype=object)[uniq[:, 0]]
    return pa.RecordBatch.from_arrays(
        [
            pa.array(bucket, pa.int32()),
            pa.array(terms, pa.string()),
            pa.array(blk, pa.int64()),
            pa.array(tfd, pa.int64()),
            pa.array(etfd, pa.int64()),
            pa.array(fmask, pa.int64()),
            pa.array(dsum, pa.int64()),
        ],
        names=["bucket", "term", "blk", "tfd", "etfd", "fmask", "dsum"],
    )


def _postings_writer_and_rollup_arrow(postings_path: str, block_shift: int):
    """mapInArrow twin of the fused writer: Arrow batches in, per-bucket
    parquet side-output, rollup RecordBatch out.  No pandas anywhere —
    the postings (pos_vb bytes included) never convert to Python
    objects; the input arrives JVM-sorted by (bucket, term, field,
    docid), so bucket boundaries are a searchsorted, and each bucket's
    slice writes zero-copy."""
    import numpy as np
    import pyarrow as pa
    from pyspark import TaskContext

    def gen(batch_iter):
        batches = list(batch_iter)
        if not batches:
            return
        table = pa.Table.from_batches(batches)
        try:
            table = table.combine_chunks()
        except pa.lib.ArrowInvalid:
            # >2 GiB in one task's term/pos_vb column: 32-bit offsets
            # overflow on concatenation (ADVICE r3).  Retry with 64-bit
            # offset types — zero cost on the common path, and parquet
            # writes large_* identically.
            for name, typ in (("term", pa.large_string()),
                              ("pos_vb", pa.large_binary())):
                i = table.schema.get_field_index(name)
                table = table.set_column(
                    i, pa.field(name, typ), table.column(name).cast(typ)
                )
            table = table.combine_chunks()
        if table.num_rows == 0:
            return
        pid = TaskContext.get().partitionId()
        bkt = table.column("bucket").to_numpy(zero_copy_only=False)
        bounds = np.flatnonzero(np.diff(bkt)) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(bkt)]))
        out_cols = table.select(
            ["term", "field", "docid", "tf", "exact_tf", "pos_vb", "lang",
             "date_insert", "date_modify"]
        )
        for s, e in zip(starts, ends):
            _task_write_parquet(
                postings_path, int(bkt[s]), pid, out_cols.slice(s, e - s)
            )
        yield _rollup_arrow(table, block_shift)

    return gen


def _manifest_load(path: str) -> dict:
    from sphinxsearchengine_spark import fs

    return fs.read_json(path, default={"stages": {}})


def _manifest_save(path: str, manifest: dict) -> None:
    from sphinxsearchengine_spark import fs

    fs.write_json_atomic(path, manifest)


def build_segment(
    spark: SparkSession,
    documents: DataFrame,
    index_dir: str,
    seg: str,
    cfg: EngineConfig,
    salt_factor: int = 4,
    preprocess=None,
    block_shift: int | None = None,
    packed: bool = True,
) -> dict:
    """Tokenize + write one immutable segment; resumable per stage.

    ``preprocess``: optional Column-expression hook ``f(content_col) ->
    Column`` applied to the text field before indexing — the analog of
    the reference's ``SearchUpdate`` extension hook that lets plugins
    rewrite indexed text (SphinxSearchEngine_class.php:426,
    SphinxSearchUpdate.php:58), kept declarative so Catalyst still
    pipelines it into the scan.

    ``packed``: ship the (bucket, salt) exchange as per-(term, salt)
    group blobs + a per-doc attr sideband instead of one row per
    posting (index/packed.py — measured 2.42× fewer compressed shuffle
    bytes/doc and 9.5× fewer rows at 20k docs/local[8], same warm build
    time); False falls back to the round-4 row-per-posting path.  Both
    produce identical postings/blockmax/dict output
    (tests/test_packed.py)."""
    layout = IndexLayout(index_dir)
    man_path = layout.manifest(seg)
    manifest = _manifest_load(man_path)
    stages = manifest["stages"]
    nb = cfg.term_buckets

    def done(stage: str) -> bool:
        return stage in stages and stages[stage].get("ok")

    def mark(stage: str, **info) -> None:
        stages[stage] = {"ok": True, "ts": time.time(), **info}
        _manifest_save(man_path, manifest)

    # the docs write is cast to the declared schema readers use
    doc_cols = [
        F.col(f.name).cast(f.dataType).alias(f.name)
        for f in StructType.fromDDL(TABLE_SCHEMAS["docs"])
    ]

    if not done("docs"):
        # Straight parallel write — NO shuffle.  Hydration is a broadcast
        # join of k docids against this table (executor.py S8), which
        # pushes no docid range predicate, so the round-1 docid
        # repartition+sort bought nothing and moved the heaviest bytes
        # (content) through an exchange.  n_docs comes from an observed
        # metric on the write itself — no separate count job.
        from pyspark.sql import Observation

        obs = Observation()
        (
            documents.select(*doc_cols)
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .parquet(layout.docs(seg))
        )
        n_docs = int(obs.get["n"])
        mark("docs", path=layout.docs(seg), n_docs=n_docs)

    parallelism = spark.sparkContext.defaultParallelism
    tok_tasks, reduce_tasks = build_widths(
        stages["docs"]["n_docs"], parallelism, nb, salt_factor
    )
    # the blockmax and dict writes: one file per bucket either way, so a
    # delta needs no more tasks than its reducers
    bucket_tasks = min(nb, reduce_tasks)

    if block_shift is None:
        block_shift = stages.get("blockmax", {}).get("block_shift")
    if block_shift is None:
        block_shift = block_shift_for(stages["docs"]["n_docs"])

    def _agg_blockmax(per_doc: DataFrame) -> None:
        # Per-block max-score metadata (the north rule's block-max WAND
        # substrate): one row per (term, ~128-docid block) with doc
        # count, tf/exact-tf bounds, per-field presence mask and
        # freshness bound.  The query planner prunes whole blocks from
        # the postings scan before any positional work
        # (query/executor._plan_blocks).  Only these pre-aggregated
        # (term, blk) rows shuffle — the docid level never does.
        bmx = per_doc.groupBy("bucket", "term", "blk").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("tfd").alias("hits"),
            F.max("tfd").alias("max_tf"),
            F.count_if(F.col("etfd") > 0).alias("n_exact"),
            F.sum("etfd").alias("sum_etf"),
            F.max("etfd").alias("max_etf"),
            F.expr("bit_or(fmask)").alias("fmask"),
            F.max("dsum").alias("max_dsum"),
        )
        (
            bmx.repartition(bucket_tasks, "bucket")
            .sortWithinPartitions("bucket", "term", "blk")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(layout.blockmax(seg))
        )

    if not done("postings"):
        # FUSED postings+blockmax: one tokenize pass, ONE wide shuffle on
        # (bucket, docid-salt); each reducer task sorts its rows, writes
        # the sorted per-bucket postings files itself (deterministic
        # names → idempotent retries), and emits the per-(term, docid)
        # rollup that the blockmax aggregation consumes — the postings
        # bytes are never re-read (round 2 paid a second full scan).
        from sphinxsearchengine_spark import fs
        from sphinxsearchengine_spark import metrics as _metrics

        _pre_stage = _metrics.latest_stage_id(spark)

        fs.delete(layout.postings(seg))  # clean slate for side-output files
        with _split_hint(spark, layout.docs(seg), tok_tasks):
            tok_src = layout.read(spark, "docs", seg).select(
                "docid", "path", "lang", "content", "category_search",
                "date_insert", "date_modify",
            )
            if preprocess is not None:
                # rewrite only the INDEXED text; the stored docs table —
                # and with it the content_sha invariant — is untouched,
                # matching the reference hook's semantics
                tok_src = tok_src.withColumn(
                    "content", preprocess(F.col("content"))
                )
            if packed:
                # packed exchange (index/packed.py): one row per
                # (term, salt) group + per-doc attr sideband; the writer
                # decodes, sorts and re-attaches attrs itself, so no JVM
                # sort is needed (far fewer, fatter rows)
                from sphinxsearchengine_spark.index import packed as _packed

                tok = tok_src.mapInArrow(
                    _packed.packed_tokenize(nb, salt_factor),
                    schema=_packed.PACKED_SCHEMA,
                )
                per_doc = (
                    tok.repartition(reduce_tasks, "bucket", "salt")
                    .mapInArrow(
                        _packed.packed_writer_and_rollup(
                            layout.postings(seg), block_shift
                        ),
                        schema=ROLLUP_SCHEMA,
                    )
                )
            else:
                tok = tok_src.mapInPandas(
                    _tokenize_batch, schema=POSTINGS_SCHEMA
                )
                tok = tok.withColumn(
                    "bucket", F.pmod(F.xxhash64("term"), F.lit(nb)).cast("int")
                ).withColumn(
                    "salt",
                    F.pmod(F.xxhash64("docid"), F.lit(salt_factor)).cast("int"),
                )
                # sort JVM-side (Tungsten radix/UTF8 sort, spillable),
                # then a zero-pandas Arrow task writes each bucket's
                # slice and emits the rollup — measured at local[8]/200k
                # docs the pandas writer's object-string mergesort +
                # to/from-pandas conversions cost ~35% of the whole
                # postings stage
                per_doc = (
                    tok.repartition(reduce_tasks, "bucket", "salt")
                    .drop("salt")
                    .sortWithinPartitions("bucket", "term", "field", "docid")
                    .mapInArrow(
                        _postings_writer_and_rollup_arrow(
                            layout.postings(seg), block_shift
                        ),
                        schema=ROLLUP_SCHEMA,
                    )
                )
            _agg_blockmax(per_doc)
        # measured shuffle volume of this step (the (bucket, salt)
        # exchange is the dominant stage by write bytes; blockmax's tiny
        # rollup exchange is included in the total) — recorded per
        # segment so BENCH can report bytes-shuffled/doc
        shuf = _metrics.shuffle_summary(
            _metrics.stage_metrics(spark, _pre_stage)
        )
        n_docs_seg = stages["docs"]["n_docs"]
        shuf["shuffle_bytes_per_doc"] = round(
            shuf["shuffle_write_bytes"] / max(n_docs_seg, 1), 2
        )
        mark("postings", path=layout.postings(seg), salt_factor=salt_factor,
             packed=packed, tokenize_tasks=tok_tasks,
             reduce_tasks=reduce_tasks, **shuf)
        mark("blockmax", path=layout.blockmax(seg), block_shift=block_shift)

    if not done("blockmax"):
        # Resume fallback (postings completed by an earlier run whose
        # blockmax didn't): derive the rollup by re-reading the postings
        # whole-file, partition-local (the write co-located every
        # (term, docid) in one file).
        with _whole_files(spark):
            post = layout.read(spark, "postings", seg).select(
                "bucket", "term", "docid", "tf", "exact_tf", "field",
                "date_insert", "date_modify",
            )
            per_doc = post.mapInPandas(
                _per_doc_batches(block_shift), schema=ROLLUP_SCHEMA
            )
            _agg_blockmax(per_doc)
        mark("blockmax", path=layout.blockmax(seg), block_shift=block_shift)

    if not done("dict"):
        # Dictionary stats roll up exactly from block-max rows (blocks
        # partition each term's docids), saving a second postings pass.
        with _split_hint(spark, layout.blockmax(seg), min(tok_tasks, parallelism)):
            bmx = layout.read(spark, "blockmax", seg)
            dic = bmx.groupBy("bucket", "term").agg(
                F.sum("n").alias("df"),
                F.sum("hits").alias("hits"),
                F.max("max_tf").alias("max_tf"),
                F.sum("n_exact").alias("exact_df"),
                F.sum("sum_etf").alias("exact_hits"),
            )
            (
                dic.repartition(bucket_tasks, "bucket")
                .sortWithinPartitions("bucket", "term")
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(layout.dict(seg))
            )
        mark("dict", path=layout.dict(seg))

    return stages


def build_index(
    spark: SparkSession,
    documents: DataFrame,
    index_dir: str,
    cfg: EngineConfig | None = None,
    salt_factor: int = 4,
    preprocess=None,
    packed: bool = True,
) -> IndexMeta:
    """Full bulk build: one base segment + fresh meta (reference S1/S2,
    auto-bootstrap analog of init_index, SphinxSearchEngine_class.php:484-535).
    """
    from sphinxsearchengine_spark import fs

    cfg = cfg or EngineConfig()
    fs.makedirs(index_dir)
    layout = IndexLayout(index_dir)
    seg = "seg_00000"
    stages = build_segment(
        spark, documents, index_dir, seg, cfg, salt_factor, preprocess,
        packed=packed,
    )
    meta = IndexMeta(
        n_docs=stages["docs"]["n_docs"],
        term_buckets=cfg.term_buckets,
        segments=[{"name": seg, "seq": 0, "n_docs": stages["docs"]["n_docs"]}],
        next_seq=1,
        block_shift=stages["blockmax"]["block_shift"],
    )
    meta.save(index_dir)
    # empty tombstones (a LocalRelation writes them on one task)
    from sphinxsearchengine_spark.query.executor import local_frame

    local_frame(spark, [], TOMBSTONE_SCHEMA).write.mode("overwrite").parquet(
        layout.tombstones()
    )
    return meta
