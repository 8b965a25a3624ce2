"""Bulk inverted-index build (SURVEY.md §3.3, reference S1/S2).

The reference's bulk path (`build_index`,
SphinxSearchEngine_class.php:397-453) streams a SQL join through batched
``REPLACE INTO`` statements into searchd.  Spark-first redesign:

    documents DF
      → mapInArrow tokenize (Arrow batches; unique-token stem cache —
        the vectorized analog of the reference's per-row PHP loop)
      → packed exchange rows (index/packed.py): one row per
        (term, docid-salt) group of postings + a per-doc attr sideband
      → repartition on (term-bucket, docid-salt)       [the ONE shuffle]
      → fused reducer task: decode, sort (bucket, term, field, docid),
        re-attach attrs, write the sorted per-bucket postings parquet
        files as a side output, and emit the per-(term, docid) rollup
      → groupBy (bucket, term, blk) → blockmax table   [tiny shuffle]
    dictionary = blockmax rollup (blocks partition each term's docids)
    docs table = straight parallel write; n_docs and the docs pin's byte
                 bound observed on the write

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
(checkpointed segment state, north rule).  Postings and blockmax come
from one fused stage and are recorded in one manifest save, so a re-run
redoes both or neither.
"""

from __future__ import annotations

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
    TABLE_SCHEMAS,
)

# Document columns fed to the tokenizer, in field order (SURVEY.md §1.5):
# content -> text(0), path -> title(1), category_search -> category_search(2).
_FIELD_SOURCE = {"text": "content", "title": "path", "category_search": "category_search"}


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
    # objects here (r6 — pack_batch was immediately re-joining them).
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
    (numpy arrays + one contiguous pos_blob with per-posting pos_len),
    the input of the packed exchange's `pack_batch`.  Each
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

    CONCURRENCY: this mutates session-level
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


ROLLUP_SCHEMA = (
    "bucket int, term string, blk long, tfd long, etfd long, "
    "fmask long, dsum long"
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


def _manifest_load(path: str) -> dict:
    from sphinxsearchengine_spark import fs

    return fs.read_json(path, default={"stages": {}})


def _manifest_save(path: str, manifest: dict) -> None:
    from sphinxsearchengine_spark import fs

    fs.write_json_atomic(path, manifest)


def _refuse_repeated_docids(spark: SparkSession, layout: IndexLayout, seg: str) -> None:
    """Raise ValueError when segment ``seg``'s written docs repeat a
    docid (one aggregate job over the docid column).  A write's
    tombstones kill only the copies in OLDER segments, so a docid
    repeated in one batch would stay live twice."""
    dup = (layout.read(spark, "docs", seg).groupBy("docid").count()
           .filter(F.col("count") > 1).select("docid").limit(1).collect())
    if dup:
        raise ValueError(f"docid {dup[0].docid} is repeated in one write batch")


def build_segment(
    spark: SparkSession,
    documents: DataFrame,
    index_dir: str,
    seg: str,
    cfg: EngineConfig,
    salt_factor: int = 4,
    preprocess=None,
    block_shift: int | None = None,
    distinct_docids: bool = False,
) -> dict:
    """Tokenize + write one immutable segment; resumable per stage.

    A batch that repeats a docid is refused before its docs stage is
    recorded (`_refuse_repeated_docids`), unless the caller passes
    ``distinct_docids=True`` because its documents hold each docid once
    by construction (compact's input is `live_docs`).

    ``preprocess``: optional Column-expression hook ``f(content_col) ->
    Column`` applied to the text field before indexing — the analog of
    the reference's ``SearchUpdate`` extension hook that lets plugins
    rewrite indexed text (SphinxSearchEngine_class.php:426,
    SphinxSearchUpdate.php:58), kept declarative so Catalyst still
    pipelines it into the scan."""
    layout = IndexLayout(index_dir)
    man_path = layout.manifest(seg)
    manifest = _manifest_load(man_path)
    stages = manifest["stages"]
    nb = cfg.term_buckets

    def done(*names: str) -> bool:
        return all(stages.get(name, {}).get("ok") for name in names)

    def mark(**done_stages: dict) -> None:
        """Record finished stages in ONE manifest save."""
        now = time.time()
        for name, info in done_stages.items():
            stages[name] = {"ok": True, "ts": now, **info}
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
        # (content) through an exchange.  n_docs and the docs pin's byte
        # bound come from metrics observed on the write itself — no
        # separate aggregate job.
        from pyspark.sql import Observation

        from sphinxsearchengine_spark.query.executor import doc_pin_bytes

        obs = Observation()
        (
            documents.select(*doc_cols)
            .observe(obs, F.count(F.lit(1)).alias("n"),
                     F.sum(doc_pin_bytes()).alias("pin_bytes"))
            .write.mode("overwrite")
            .parquet(layout.docs(seg))
        )
        if not distinct_docids:
            _refuse_repeated_docids(spark, layout, seg)
        mark(docs={"path": layout.docs(seg), "n_docs": int(obs.get["n"]),
                   "pin_bytes_ub": int(obs.get["pin_bytes"] or 0)})

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

    if not done("postings", "blockmax"):
        # FUSED postings+blockmax: one tokenize pass, ONE wide shuffle on
        # (bucket, docid-salt) of the packed exchange (index/packed.py:
        # one row per (term, salt) group of postings + a per-doc attr
        # sideband).  Each reducer task decodes, sorts and re-attaches
        # attrs, writes the sorted per-bucket postings files itself
        # (deterministic names → idempotent retries), and emits the
        # per-(term, docid) rollup that the blockmax aggregation consumes
        # — the postings bytes are never re-read.  Both stages commit in
        # one manifest save, so a resume reruns the pair or neither.
        from sphinxsearchengine_spark import fs
        from sphinxsearchengine_spark import metrics as _metrics
        from sphinxsearchengine_spark.index import packed as _packed

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
            per_doc = (
                tok_src.mapInArrow(
                    _packed.packed_tokenize(nb, salt_factor),
                    schema=_packed.PACKED_SCHEMA,
                )
                .repartition(reduce_tasks, "bucket", "salt")
                .mapInArrow(
                    _packed.packed_writer_and_rollup(
                        layout.postings(seg), block_shift
                    ),
                    schema=ROLLUP_SCHEMA,
                )
            )
            # Per-block max-score metadata (the north rule's block-max
            # WAND substrate): one row per (term, ~128-docid block) with
            # doc count, tf/exact-tf bounds, per-field presence mask and
            # freshness bound.  The query planner, in the driver, prunes
            # whole blocks from the postings scan before any positional
            # work (query/executor._plan_blocks, over these rows merged
            # across segments, pinned or collected per query).  Only these
            # pre-aggregated
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
        # `packed` stays in the record for manifest readers (bench.py)
        mark(postings={"path": layout.postings(seg), "salt_factor": salt_factor,
                       "packed": True, "tokenize_tasks": tok_tasks,
                       "reduce_tasks": reduce_tasks, **shuf},
             blockmax={"path": layout.blockmax(seg), "block_shift": block_shift})

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
        mark(dict={"path": layout.dict(seg)})

    return stages


def build_index(
    spark: SparkSession,
    documents: DataFrame,
    index_dir: str,
    cfg: EngineConfig | None = None,
    salt_factor: int = 4,
    preprocess=None,
) -> IndexMeta:
    """Full bulk build: one base segment + fresh meta (reference S1/S2,
    auto-bootstrap analog of init_index, SphinxSearchEngine_class.php:484-535).
    """
    from sphinxsearchengine_spark import fs

    cfg = cfg or EngineConfig()
    fs.makedirs(index_dir)
    seg = "seg_00000"
    stages = build_segment(
        spark, documents, index_dir, seg, cfg, salt_factor, preprocess
    )
    meta = IndexMeta(
        n_docs=stages["docs"]["n_docs"],
        term_buckets=cfg.term_buckets,
        segments=[{"name": seg, "seq": 0, "n_docs": stages["docs"]["n_docs"]}],
        next_seq=1,
        block_shift=stages["blockmax"]["block_shift"],
    )
    meta.save(index_dir)
    return meta
