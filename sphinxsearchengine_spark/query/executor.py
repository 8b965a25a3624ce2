"""Distributed BM25 top-k search (SURVEY.md §3.1 Spark lifecycle).

Pipeline per query:

1. parse + sanitize (T8/T9) → AND-of-OR groups        [driver]
2. dictionary lookup, partition-pruned by term bucket; prefix atoms use a
   ``term >= p AND term < p+MAX`` range (pushed to parquet min/max);
   prefix expansion capped at EXPANSION_LIMIT most-frequent terms
   (Sphinx expansion_limit semantics) → concrete terms + df stats +
   bucket ids (no extra job: the dictionary rows carry their bucket)
3. idf per term computed on the driver (constant folding — the analog of
   the reference's client-side maxScore precompute, Q14)
4. postings scan: bucket-pruned, term-pruned, attribute filter (Q6)
   pushed into the parquet scan; tombstone anti-join only when
   tombstones exist (meta fast path).  A `engine.Searcher` whose live
   postings are pinned in driver RAM reads a driver-scored plan's rows
   from the pin instead, with the same pre-filters, in numpy
   (`MatchPlan.pinned_inputs`): no Spark job
5. scoring (`plan_matches` plans steps 2-4 and the scorer; then): a
   plan that fits one scorer task and the driver byte budget is scored
   in the driver, its input read from the pin or collected in one Arrow
   job with no exchange; any other plan takes ONE shuffle — repartition
   by docid → mapInPandas.  Both run the same scorer, fully
   numpy-vectorized: batch varbyte decode of ALL position lists in one
   pass, phrase adjacency via sorted-code intersections, LCS chain DP as
   n_groups vectorized rounds; no per-document Python loop
6. ORDER BY (Q9) + LIMIT/OFFSET (Q10) on the driver: executor-scored
   plans collect only their top offset+limit rows (TakeOrderedAndProject)
7. hydration (S8), rank preserved (Q15): from the Searcher's pinned docs
   columns, or one ``docid IN (top-k)`` lookup against the docs table;
   the result is a LocalRelation

The reference delegates all of this to searchd over one SphinxQL string
(SphinxSearchEngine_class.php:106-123); here the same contract is a
declarative Spark scan plus one Arrow-vectorized scorer, in the driver
or on executors.
"""

from __future__ import annotations

import mmap
from dataclasses import dataclass
from functools import cached_property
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from sphinxsearchengine_spark import codec, npsort
from sphinxsearchengine_spark.config import (
    BM25_K1,
    EXACT_PREFIX,
    EXPANSION_LIMIT,
    FIELD_NAMES,
    FIELD_WEIGHTS,
    FIELDS,
    MATCH_CAP,
)
from sphinxsearchengine_spark.index.layout import IndexLayout
from sphinxsearchengine_spark.query import ranker
from sphinxsearchengine_spark.query.parser import Query, parse_query
from sphinxsearchengine_spark.text.tokenizer import stem_token

_MAX_CHAR = "￿"
_POS_BITS = 21  # 2 MB field cap → < 2^21 token positions
# low bits of the scorer's (docid rank, field) pack: wide enough for the
# largest field id in config.FIELDS
_FIELD_BITS = max(FIELDS.values()).bit_length()
_FIELD_MASK = (1 << _FIELD_BITS) - 1

# Scorer input rows per Python task: the break-even point of one more
# task.  Measured on a 4-core host (local[4], `hotterm` on 3k- and
# 24k-doc indexes, task count forced, noop sink): each extra task costs
# ~0.29 s of executor time and, spreading 1 task to 4, ~0.1 s of wall
# (worker round-trip, Arrow framing, scheduling), while a scorer row
# costs ~4.7 µs (3k → 24k rows on one task: +0.1 s).  Splitting R rows
# over n ≤ cores tasks saves (1 - 1/n)·R·4.7 µs of wall, which pays for
# the 0.1 s at R ≈ 0.1 / (0.75 · 4.7e-6) ≈ 28k rows; at 24k rows one
# task and four ran the same wall, four at 3x the executor time.
# It also gates the two-pass τ branch: a plan that fits one task cannot
# save a task by cutting blocks.
SCORE_ROWS_PER_TASK = 25_000

SCORED_SCHEMA = (
    "docid long, weight_raw double, score double, bm25 double, prox double, "
    "fresh double, lang string, date_insert long, date_modify long"
)

RESULT_COLS = [
    "rank", "docid", "score", "weight_raw", "repo", "path", "commit", "lang",
    "content_sha", "category", "date_insert", "date_modify",
]
# the result contract of `search`, hits or none (RESULT_COLS in order)
RESULT_SCHEMA = (
    "rank int NOT NULL, docid long, score double, weight_raw double, "
    "repo string, path string, commit string, lang string, "
    "content_sha string, category array<string>, date_insert long, "
    "date_modify long"
)


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Driver-side rows (tuples in ``schema`` DDL column order) as a
    LocalRelation.

    ``spark.createDataFrame(list_of_tuples, schema)`` plans a parallelized
    LogicalRDD, and broadcasting that runs a Spark job per use; an Arrow
    table becomes a LocalRelation, which the planner broadcasts (or
    inlines) on the driver with no job at all."""
    struct = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=struct)


def _live_union(spark: SparkSession, layout: IndexLayout, sub: str) -> DataFrame | None:
    """Union one sub-table (postings/dict/docs) across live segments with
    a seq column; newest-segment-wins and tombstones applied by callers."""
    meta = layout.meta
    dfs = []
    for seg in meta.segments:
        df = layout.read(spark, sub, seg["name"])
        dfs.append(df.withColumn("seq", F.lit(seg["seq"])))
    if not dfs:
        return None
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def _apply_tombstones(spark, layout: IndexLayout, df: DataFrame) -> DataFrame:
    ts = layout.read(spark, "tombstones")
    cond = (df.docid == ts.docid) & (df.seq < ts.asof_seq)
    return df.join(F.broadcast(ts), cond, "left_anti")


def live_postings(spark, layout: IndexLayout, post: DataFrame,
                  live: DataFrame | None = None) -> DataFrame:
    """The live rows of a (possibly filtered) postings relation:
    tombstones out, and newest-segment-wins for updated docs — postings
    of a docid that appears in a newer segment are dropped (upsert
    supersedes, SURVEY.md §3.2).  A one-segment index without tombstones
    passes through unchanged.  ``live``: the live docs' (docid, seq),
    when the caller holds them as a LocalRelation (the Searcher's docs
    pin) — one semi-join with it then does both, with no job of its
    own."""
    meta = layout.meta
    if len(meta.segments) == 1 and not meta.n_tombstones:
        return post
    if live is not None:
        return post.join(F.broadcast(live), ["docid", "seq"], "left_semi")
    if meta.n_tombstones:
        post = _apply_tombstones(spark, layout, post)
    if len(meta.segments) > 1:
        docs_union = _live_union(spark, layout, "docs")
        if meta.n_tombstones:
            docs_union = _apply_tombstones(spark, layout, docs_union)
        docs_seq = docs_union.groupBy("docid").agg(F.max("seq").alias("mseq"))
        post = post.join(F.broadcast(docs_seq), "docid", "left").filter(
            F.col("seq") == F.col("mseq")
        ).drop("mseq")
    return post


def live_docs(spark: SparkSession, index_dir: str,
              keep_seq: bool = False) -> DataFrame:
    """Current visible document set (newest segment wins, tombstones out),
    with the ``seq`` of each doc's segment when ``keep_seq``.

    Fast path: a freshly-built/compacted index (one segment, no
    tombstones) is a plain parquet scan — no window, no anti-join.
    """
    layout = IndexLayout(index_dir)
    meta = layout.meta
    if len(meta.segments) == 1 and meta.n_tombstones == 0:
        seg = meta.segments[0]
        docs = layout.read(spark, "docs", seg["name"])
        return docs.withColumn("seq", F.lit(seg["seq"])) if keep_seq else docs

    from pyspark.sql import Window

    docs = _live_union(spark, layout, "docs")
    if meta.n_tombstones:
        docs = _apply_tombstones(spark, layout, docs)
    w = Window.partitionBy("docid").orderBy(F.col("seq").desc())
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", *([] if keep_seq else ["seq"]))
    )


def _expand_groups(spark, layout, query: Query, dict_pdf=None):
    """Steps 2-3: dict lookup → per-(term, gid) mapping + idf constants.

    Returns (mapping_rows, stats, buckets):
    mapping_rows = [(term, gid, idf, is_phrase_member, member_idx, fld,
    use_exact_tf, pid)], stats = {term: (df, hits, max_tf, exact_df,
    exact_hits)}, buckets = postings partitions to scan.  ``pid`` indexes
    the phrase alternative within its group (-1 for non-phrase rows) so
    OR groups may hold several phrases ('"a b"|"c d"').
    """
    exact_terms: set[str] = set()
    prefixes: set[str] = set()

    def exact_lookup(w: str) -> str:
        """Dictionary key of w's exact form: a stem-identical surface
        lives on its stem row (exact_tf column); a stem-changing surface
        has its own '=w' row."""
        return w if stem_token(w) == w else EXACT_PREFIX + w

    for g in query.groups:
        for a in g.alts:
            if a.kind == "kw":
                w = a.words[0]
                exact_terms.add(stem_token(w))
                exact_terms.add(exact_lookup(w))
                prefixes.add(w)  # expand_keywords=1 → kw* too
            elif a.kind == "exact":
                exact_terms.add(exact_lookup(a.words[0]))
            elif a.kind == "prefix":
                prefixes.add(a.words[0])
            else:  # phrase
                exact_terms.update(stem_token(w) for w in a.words)

    if dict_pdf is not None:
        # driver-RAM dictionary (Searcher): no Spark job for expansion.
        # The pinned frame is SORTED by term (engine.py), so exact terms
        # and prefix ranges resolve by binary search — O(hits + log n)
        # per query instead of the r5 full-frame isin + str.startswith
        # scans (O(dict) Python-level string ops per query, ~1 s/query
        # on a 1.5M-term sf1.0 dictionary).  Prefix semantics are the
        # same [p, p+_MAX_CHAR) range the distributed path pushes into
        # the dict scan.
        terms_arr = dict_pdf["term"].to_numpy()
        n_dict = len(terms_arr)
        parts = []
        for t in sorted(exact_terms):
            i = int(np.searchsorted(terms_arr, t))
            if i < n_dict and terms_arr[i] == t:
                parts.append(np.array([i], dtype=np.int64))
        for p in sorted(prefixes):
            lo = int(np.searchsorted(terms_arr, p))
            hi = int(np.searchsorted(terms_arr, p + _MAX_CHAR))
            if hi > lo:
                parts.append(np.arange(lo, hi, dtype=np.int64))
        if parts:
            idx = np.unique(np.concatenate(parts))
        else:
            idx = np.empty(0, dtype=np.int64)
        # matched slice as SORTED numpy columns (dict_pdf is term-sorted
        # and idx ascending preserves that) — no pandas frame and no
        # Python dict over the full match set: a wide prefix matches
        # 111k terms at sf1.0 but contributes at most EXPANSION_LIMIT
        # rows to the query, so per-term stats entries are seeded lazily
        # for the terms actually selected (r6: the eager dict build cost
        # 1.2 s of driver time per '@title file_2*' query).
        _terms_c = terms_arr[idx]
        _cols = tuple(
            dict_pdf[c].to_numpy()[idx]
            for c in ("df", "hits", "max_tf", "exact_df", "exact_hits")
        )
        _bucket_c = dict_pdf["bucket"].to_numpy()[idx]
    else:
        dic = _live_union(spark, layout, "dict")
        cond = F.col("term").isin(list(exact_terms)) if exact_terms else F.lit(False)
        for p in sorted(prefixes):
            cond = cond | ((F.col("term") >= p) & (F.col("term") < p + _MAX_CHAR))
        dic_pdf = (
            dic.filter(cond)
            .groupBy("term")
            .agg(
                F.sum("df").alias("df"),
                F.sum("hits").alias("hits"),
                F.max("max_tf").alias("max_tf"),
                F.sum("exact_df").alias("exact_df"),
                F.sum("exact_hits").alias("exact_hits"),
                F.first("bucket").alias("bucket"),
            )
            .toPandas()
            .sort_values("term")  # the lazy-lookup arrays below assume
            .reset_index(drop=True)  # term-sorted order (binary search)
        )
        _terms_c = dic_pdf["term"].to_numpy()
        _cols = tuple(
            dic_pdf[c].to_numpy()
            for c in ("df", "hits", "max_tf", "exact_df", "exact_hits")
        )
        _bucket_c = dic_pdf["bucket"].to_numpy()
    n_match = len(_terms_c)

    stats: dict[str, tuple] = {}
    bucket_of: dict[str, int] = {}

    def _seed(term: str) -> bool:
        """Materialize the stats/bucket entry for one term (binary
        search into the sorted matched slice); True iff present."""
        if term in stats:
            return True
        i = int(np.searchsorted(_terms_c, term))
        if i < n_match and _terms_c[i] == term:
            stats[term] = tuple(int(c[i]) for c in _cols)
            bucket_of[term] = int(_bucket_c[i])
            return True
        return False

    n_docs = layout.meta.n_docs
    nk = len(query.groups)
    mapping: list[tuple] = []

    def add(term: str, gid: int, is_pm: int, midx: int, fld: int,
            uex: int = 0, pid: int = -1):
        if _seed(term):
            df_ = stats[term][3] if uex else stats[term][0]
            if df_ <= 0:
                return
            mapping.append(
                (term, gid, ranker.idf(df_, n_docs, nk), is_pm, midx, fld,
                 uex, pid)
            )

    def add_exact(w: str, gid: int, fld: int):
        s = stem_token(w)
        if s == w:
            add(w, gid, 0, -1, fld, uex=1)
        else:
            add(EXACT_PREFIX + w, gid, 0, -1, fld, uex=0)

    _stat_dfs = _cols[0]

    def prefix_expand(w: str, exclude: set[str]) -> list[str]:
        """Top-EXPANSION_LIMIT most-frequent dict terms with prefix w
        (deterministic: df desc, term asc) — Sphinx expansion_limit."""
        lo = int(np.searchsorted(_terms_c, w))
        hi = int(np.searchsorted(_terms_c, w + _MAX_CHAR))
        if hi <= lo:
            return []
        sl = _terms_c[lo:hi]
        order = np.lexsort((sl, -_stat_dfs[lo:hi]))
        out: list[str] = []
        for j in order:
            t = sl[j]
            if t in exclude or t.startswith(EXACT_PREFIX):
                continue
            out.append(t)
            if len(out) >= EXPANSION_LIMIT:
                break
        return out

    for gid, g in enumerate(query.groups):
        pid = 0
        for a in g.alts:
            if a.kind == "kw":
                w = a.words[0]
                seen = {stem_token(w)}
                add(stem_token(w), gid, 0, -1, g.field)
                add_exact(w, gid, g.field)
                for t in prefix_expand(w, seen):
                    add(t, gid, 0, -1, g.field)
            elif a.kind == "exact":
                add_exact(a.words[0], gid, g.field)
            elif a.kind == "prefix":
                # seed the bare word's stats row (if matched) so meta /
                # suggest keyword lookups see it even when it is not
                # among the top-EXPANSION_LIMIT expansions — parity with
                # the r5 eager stats dict over the full match set
                _seed(stem_token(a.words[0]))
                for t in prefix_expand(a.words[0], set()):
                    add(t, gid, 0, -1, g.field)
            else:
                for i, w in enumerate(a.words):
                    add(stem_token(w), gid, 1, i, g.field, pid=pid)
                pid += 1
    buckets = sorted({bucket_of[m[0]] for m in mapping})
    return mapping, stats, buckets


# Driver-side cap on surviving blocks the planner may hand back; queries
# whose rarest group exceeds it skip block pruning entirely (a broad
# query scans most blocks anyway, so the planner job would be pure cost).
BLOCK_PLAN_CAP = 200_000


def _finish_block_plan(pdf: pd.DataFrame, now_ts: int):
    """Shared tail: bm25 + proximity + freshness bounds -> weight ub.

    The proximity bound uses the block's field mask: per-field LCS is at
    most n_groups, so wsum ≤ n_groups·Σ_{f present} w_f and
    prox ≤ 2000·Σ_present/Σ_all — a block whose terms live only in the
    body field (weight 1 of 23) is bounded at ~87, not 2000, which is
    what lets τ actually cut blocks."""
    import numpy as np

    from sphinxsearchengine_spark.config import (
        BM25_SCALE, FIELD_NAMES, FIELD_WEIGHTS, FRESHNESS_BOOST,
        FRESHNESS_HORIZON_S, FRESHNESS_POW, PROXIMITY_SCALE,
    )

    w_sum_all = float(sum(FIELD_WEIGHTS.values()))
    w_by_fid = np.asarray([FIELD_WEIGHTS[n] for n in FIELD_NAMES], dtype=np.float64)
    fm = pdf["fmask"].to_numpy()
    w_present = np.zeros(len(pdf), dtype=np.float64)
    for fid, w in enumerate(w_by_fid):
        w_present += w * ((fm >> fid) & 1)
    prox_ub = PROXIMITY_SCALE * w_present / w_sum_all
    bm25_ub = (pdf["raw_ub"].to_numpy() + 0.5) * BM25_SCALE
    fb = np.maximum(
        1.0 - (now_ts - pdf["dmax"].to_numpy() / 2.0) / FRESHNESS_HORIZON_S, 0.0
    )
    pdf = pdf.assign(ub=bm25_ub + prox_ub + FRESHNESS_BOOST * fb**FRESHNESS_POW)
    return pdf[["blk", "ub", "cap"]].reset_index(drop=True)


def blockmax_aggs() -> list:
    """The merge of one (term, blk) across segments, shared by the pinned
    blockmax frame and the distributed planner."""
    return [
        F.sum("n").alias("n"),
        F.max("max_tf").alias("max_tf"),
        F.max("max_etf").alias("max_etf"),
        F.expr("bit_or(fmask)").alias("fmask"),
        F.max("max_dsum").alias("max_dsum"),
    ]


def _plan_blocks_pandas(bmx_pdf: pd.DataFrame, mapping, n_groups,
                        phrase_alts, now_ts):
    """Driver-RAM twin of the Spark planner below (Searcher pins the
    blockmax table like searchd pins its wordlist) — keep the filter and
    bound logic in sync with _plan_blocks."""
    import numpy as np

    map_pdf = pd.DataFrame(
        mapping,
        columns=["term", "gid", "idf", "is_pm", "midx", "fld", "uex", "pid"],
    )
    sub = bmx_pdf.merge(map_pdf, on="term", how="inner")
    if sub.empty:
        return sub.assign(ub=0.0, cap=0)[["blk", "ub", "cap"]]
    fld = sub["fld"].to_numpy()
    keep = (fld == -1) | (
        ((sub["fmask"].to_numpy() >> np.maximum(fld, 0)) & 1) == 1
    )
    keep &= (sub["uex"].to_numpy() == 0) | (sub["max_etf"].to_numpy() > 0)
    sub = sub[keep]
    if sub.empty:
        return sub.assign(ub=0.0, cap=0)[["blk", "ub", "cap"]]
    mtf = np.where(sub["uex"] == 1, sub["max_etf"], sub["max_tf"]).astype(np.float64)
    sub = sub.assign(contrib=sub["idf"].to_numpy() * mtf / (mtf + BM25_K1))
    ub = sub.groupby("blk").agg(
        raw_ub=("contrib", "sum"),
        dmax=("max_dsum", "max"),
        fmask=("fmask", lambda s: int(np.bitwise_or.reduce(s.to_numpy()))),
    )
    pres = (
        sub.groupby(["blk", "gid", "pid"])
        .agg(nmidx=("midx", "nunique"), gn=("n", "sum"))
        .reset_index()
    )
    if phrase_alts:
        nmem = {
            (g, p): nm for g, pids in phrase_alts.items() for p, nm in pids.items()
        }
        req = np.asarray(
            [nmem.get((g, p), 0) for g, p in zip(pres["gid"], pres["pid"])]
        )
        pres = pres[(pres["pid"].to_numpy() == -1) | (pres["nmidx"].to_numpy() >= req)]
    per_gid = pres.groupby(["blk", "gid"]).agg(gn=("gn", "sum")).reset_index()
    blocks = per_gid.groupby("blk").agg(ng=("gid", "nunique"), cap=("gn", "min"))
    blocks = blocks[blocks["ng"] == n_groups].join(ub).reset_index()
    return _finish_block_plan(blocks, now_ts)


def _plan_blocks(spark, layout, mapping, stats, buckets,
                 n_groups, phrase_alts, now_ts, bmx_pdf=None):
    """Block-max planner (north rule: block-max WAND).

    Reads the per-(term, docid-block) metadata written at build time
    (index/builder.py blockmax stage) and returns the blocks that can
    possibly satisfy the AND query, each with an upper bound on any
    contained doc's weight:

    - presence (exact): a block survives only if every group has a
      matchable alternative in it — kw alternative term present
      (field-mask and exact-tf aware), or ALL members of some phrase
      alternative present (same doc ⇒ same block, so this is a valid
      necessary condition).  Dropping non-surviving blocks never changes
      results.
    - ub: Σ over present mapping rows of idf·max_tf/(max_tf+k1), scaled
      like the scorer, + max proximity + block freshness bound.  Used by
      the caller's two-pass τ refinement; dropping rows from the sum is
      impossible (all present rows counted) and idf ≥ 0, so ub dominates
      every contained doc's score.

    Returns (pandas[blk, ub, cap] or None, info).  pandas is None when
    the index has no block metadata or the rarest group is too frequent
    (guard: min group df ≤ BLOCK_PLAN_CAP keeps the driver collect
    bounded; the Spark-side aggregation over hot terms' block rows stays
    distributed either way).
    """
    import numpy as np

    meta = layout.meta
    shift = meta.block_shift
    info = {"planned": False, "n_blocks": 0, "min_df": None}
    if shift is None:
        return None, info
    df_by_gid: dict[int, int] = {}
    for term, gid, _idf, _is_pm, _midx, _fld, uex, _pid in mapping:
        df_by_gid[gid] = df_by_gid.get(gid, 0) + stats[term][3 if uex else 0]
    min_df = min(df_by_gid.values())
    info["min_df"] = min_df
    if min_df > BLOCK_PLAN_CAP:
        return None, info
    if bmx_pdf is not None:
        # the pinned blockmax frame is SORTED by term (engine.py): each
        # query term resolves to a row range by binary search — the r5
        # full-frame isin cost O(blockmax rows) of Python string
        # hashing per query (~0.4 s on the sf1.0 table)
        bm_terms = bmx_pdf["term"].to_numpy()
        parts = []
        for t in sorted({m[0] for m in mapping}):
            lo = int(np.searchsorted(bm_terms, t, side="left"))
            hi = int(np.searchsorted(bm_terms, t, side="right"))
            if hi > lo:
                parts.append(np.arange(lo, hi, dtype=np.int64))
        sub = (
            bmx_pdf.iloc[np.concatenate(parts)]
            if parts else bmx_pdf.iloc[:0]
        )
        pdf = _plan_blocks_pandas(sub, mapping, n_groups, phrase_alts, now_ts)
        info.update(planned=True, n_blocks=len(pdf), driver_ram=True)
        return pdf, info
    try:
        bm = _live_union(spark, layout, "blockmax")
        terms = sorted({m[0] for m in mapping})
        bm = bm.filter(F.col("bucket").isin(buckets) & F.col("term").isin(terms))
        # one row per (term, blk) across segments, merged as the pinned
        # frame merges them (engine.Searcher._pin_blockmax): a block's ub
        # then adds each term's contrib once, whatever the segment count
        bm = bm.groupBy("term", "blk").agg(*blockmax_aggs())
        j = bm.join(F.broadcast(_map_frame(spark, mapping)), "term")
        j = j.filter((F.col("fld") == -1) | (F.expr("(fmask >> fld) & 1") == 1))
        j = j.filter((F.col("uex") == 0) | (F.col("max_etf") > 0))
        j = j.withColumn(
            "mtf",
            F.when(F.col("uex") == 1, F.col("max_etf")).otherwise(F.col("max_tf")),
        ).withColumn(
            "contrib", F.col("idf") * F.col("mtf") / (F.col("mtf") + BM25_K1)
        )
        # ub over ALL present rows (partial phrase members still add BM25)
        ub = j.groupBy("blk").agg(
            F.sum("contrib").alias("raw_ub"),
            F.max("max_dsum").alias("dmax"),
            F.expr("bit_or(fmask)").alias("fmask"),
        )
        # presence: per (blk, gid, pid) — kw rows (pid=-1) trivially
        # present; phrase alternatives need every member index
        pres = j.groupBy("blk", "gid", "pid").agg(
            F.count_distinct("midx").alias("nmidx"), F.sum("n").alias("gn")
        )
        nmem_rows = [
            (gid, pid, nmem)
            for gid, pids in phrase_alts.items()
            for pid, nmem in pids.items()
        ]
        if nmem_rows:
            nmem_df = local_frame(spark, nmem_rows, "gid int, pid int, nmem int")
            pres = pres.join(F.broadcast(nmem_df), ["gid", "pid"], "left")
            pres = pres.filter(F.col("nmem").isNull() | (F.col("nmidx") >= F.col("nmem")))
        per_gid = pres.groupBy("blk", "gid").agg(F.sum("gn").alias("gn"))
        blocks = (
            per_gid.groupBy("blk")
            .agg(F.count(F.lit(1)).alias("ng"), F.min("gn").alias("cap"))
            .filter(F.col("ng") == n_groups)
            .join(ub, "blk")
        )
        pdf = blocks.toPandas()
    except Exception as e:
        # planner failure degrades to the unpruned scan; say why
        info["fallback"] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        return None, info
    pdf = _finish_block_plan(pdf, now_ts)
    info.update(planned=True, n_blocks=len(pdf))
    return pdf, info


def _decode_all(pr: pd.DataFrame):
    """Vectorized varbyte decode of every pos_vb in the frame.

    Returns (row_of_val, positions): for each decoded position, the
    source row index and the absolute (1-based) token position.
    """
    bufs = list(pr["pos_vb"])
    if not bufs:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    byte_lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=len(bufs))
    if not any(byte_lens):
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    big = b"".join(bufs)
    deltas = codec.vb_decode(big).astype(np.int64)
    b_arr = np.frombuffer(big, dtype=np.uint8)
    is_last = (b_arr & 0x80) == 0
    row_of_byte = np.repeat(np.arange(len(bufs)), byte_lens)
    row_of_val = row_of_byte[is_last]
    total = np.cumsum(deltas)
    val_counts = np.bincount(row_of_val, minlength=len(bufs))
    row_starts = np.concatenate(([0], np.cumsum(val_counts)[:-1]))
    base = np.where(row_starts > 0, total[row_starts - 1], 0)
    positions = total - np.repeat(base, val_counts)
    return row_of_val, positions


def _make_scorer(n_groups: int, phrase_alts: dict[int, dict[int, int]],
                 now_ts: int, weights_by_fid: list[int],
                 prune: dict | None = None,
                 max_score_val: float | None = None,
                 match_only: bool = False):
    """Partition scorer, fully numpy-vectorized (no per-doc Python loop):
    BM25 + AND first; positions decoded in ONE batch pass only for AND
    survivors; phrase adjacency and LCS chain DP as per-group vector
    rounds over (docid,field,pos) codes.

    ``prune`` = {"topn": K, "order": col, "sort": dir} enables the
    MaxScore/WAND-spirit top-k path (exact results): per doc the score's
    certain LOWER bound (every matched field has LCS >= 1) and UPPER
    bound (LCS_f <= #groups matched in field f) are computed from
    tf-level data only; τ = the partition's K-th best lower bound, and
    positional work runs only for docs whose upper bound reaches τ.
    A partition-local τ under-estimates the global τ, so the kept set is
    a superset of the partition's contribution to the global top-K —
    pruning never changes results.  Single-keyword queries collapse
    entirely (lb == ub) and never decode positions.

    ``phrase_alts``: gid -> {pid -> n_members} for every phrase
    alternative; a group with BOTH kw and phrase alternatives matches a
    doc when either side does (OR semantics, ADVICE r1 medium).
    """
    k1 = BM25_K1
    w_fid = np.asarray(weights_by_fid, dtype=np.float64)
    mls = float(ranker.max_lcs(n_groups))
    ms_norm = max_score_val if max_score_val is not None else ranker.max_score(n_groups)
    from sphinxsearchengine_spark.config import PROXIMITY_SCALE

    def decode_codes(pr: pd.DataFrame):
        """One-pass positional decode of a row frame → sorted-code space."""
        row_of_val, positions = _decode_all(pr)
        docid_v = pr["docid"].to_numpy()[row_of_val]
        gid_v = pr["gid"].to_numpy()[row_of_val]
        fld_v = pr["field"].to_numpy()[row_of_val]
        midx_v = pr["midx"].to_numpy()[row_of_val]
        ispm_v = pr["is_pm"].to_numpy()[row_of_val]
        pid_v = pr["pid"].to_numpy()[row_of_val]
        if len(docid_v):
            # exact np.unique(pairs, axis=0, return_inverse=True)
            # replacement (r6): factorize docid with SORTED uniques, pack
            # (rank, field) into one int64 and quicksort-argsort it — the
            # void-dtype row sort was ~5x slower at the same output.
            # Sorted-docid order is preserved EXACTLY (rank is docid's
            # ascending rank), so downstream float accumulation order —
            # and with it every rounded score — is unchanged.
            codes, du = pd.factorize(docid_v, sort=True)
            pkey = (codes.astype(np.int64) << _FIELD_BITS) | fld_v.astype(np.int64)
            po = np.argsort(pkey)
            k_o = pkey[po]
            knew = np.ones(len(k_o), dtype=bool)
            knew[1:] = k_o[1:] != k_o[:-1]
            key_of_val = np.empty(len(po), dtype=np.int64)
            key_of_val[po] = np.cumsum(knew) - 1
            ks = k_o[knew]
            uniq = np.stack([du[ks >> _FIELD_BITS], ks & _FIELD_MASK], axis=1)
        else:
            uniq = np.empty((0, 2), dtype=np.int64)
            key_of_val = np.empty(0, dtype=np.int64)
        code = (key_of_val.astype(np.int64) << _POS_BITS) | positions
        return uniq, code, gid_v, ispm_v, midx_v, positions, pid_v

    def validate_phrases(dec):
        """→ (starts_by_gid, matched_df[docid, field, gid]); starts are
        the union over the group's phrase alternatives (pids)."""
        uniq, code, gid_v, ispm_v, midx_v, positions, pid_v = dec
        starts_by_gid: dict[int, np.ndarray] = {}
        rows = []
        for gid, pids in phrase_alts.items():
            g_starts = np.empty(0, dtype=np.int64)
            for pid, nmem in pids.items():
                sel = (gid_v == gid) & (ispm_v == 1) & (pid_v == pid)
                starts = np.unique(code[sel & (midx_v == 0)])
                for mi in range(1, nmem):
                    smi = sel & (midx_v == mi) & (positions > mi)
                    aligned = np.unique(code[smi] - mi)
                    starts = starts[np.isin(starts, aligned, assume_unique=True)]
                    if starts.size == 0:
                        break
                g_starts = np.union1d(g_starts, starts)
            starts_by_gid[gid] = g_starts
            keys = np.unique(g_starts >> _POS_BITS)
            rows.append(
                pd.DataFrame(
                    {"docid": uniq[keys, 0], "field": uniq[keys, 1], "gid": gid}
                )
            )
        matched = pd.concat(rows, ignore_index=True) if rows else pd.DataFrame(
            columns=["docid", "field", "gid"]
        )
        return starts_by_gid, matched

    def lcs_wsum(dec, starts_by_gid) -> pd.Series:
        """Weighted per-doc LCS sum via chain DP over sorted codes."""
        uniq, code, gid_v, ispm_v, _midx_v, _positions, _pid_v = dec
        best_arr = np.zeros(len(uniq), dtype=np.int32)
        prev_codes = np.empty(0, dtype=np.int64)
        prev_lens = np.empty(0, dtype=np.int32)
        for g in range(n_groups):
            # group positions = kw-alternative positions ∪ phrase starts
            cur = np.unique(code[(gid_v == g) & (ispm_v == 0)])
            ph = starts_by_gid.get(g)
            if ph is not None and ph.size:
                cur = np.union1d(cur, ph)
            if cur.size == 0:
                prev_codes = np.empty(0, dtype=np.int64)
                prev_lens = np.empty(0, dtype=np.int32)
                continue
            lens = np.ones(cur.size, dtype=np.int32)
            if prev_codes.size:
                idx = np.searchsorted(prev_codes, cur - 1)
                idxc = np.clip(idx, 0, prev_codes.size - 1)
                hit = prev_codes[idxc] == (cur - 1)
                lens = np.where(hit, prev_lens[idxc] + 1, 1).astype(np.int32)
            # cur is sorted, so equal high-bits keys are contiguous:
            # per-run maxima via reduceat, then one gathered np.maximum —
            # ufunc.at is an unvectorized scatter loop (r6)
            keys = cur >> _POS_BITS
            rnew = np.ones(keys.size, dtype=bool)
            rnew[1:] = keys[1:] != keys[:-1]
            rs = np.flatnonzero(rnew)
            kk = keys[rs]
            best_arr[kk] = np.maximum(
                best_arr[kk], np.maximum.reduceat(lens, rs)
            )
            prev_codes, prev_lens = cur, lens
        lcs_df = pd.DataFrame(
            {
                "docid": uniq[:, 0],
                "wl": best_arr.astype(np.float64) * w_fid[uniq[:, 1]],
            }
        )
        return lcs_df.groupby("docid", sort=False)["wl"].sum()

    def assemble(att: pd.DataFrame, bm25_raw: pd.Series, wsum: pd.Series):
        out = att.join(wsum.rename("wsum"), how="left").join(
            bm25_raw.rename("raw"), how="left"
        )
        if out.empty:
            return None
        out = out.fillna({"wsum": 0.0, "raw": 0.0})
        prox = out["wsum"].to_numpy() / mls * PROXIMITY_SCALE
        bm = (out["raw"].to_numpy() + 0.5) * 999
        dates = out[["date_insert", "date_modify"]].to_numpy(dtype=np.float64)
        age = now_ts - dates.sum(axis=1) / 2.0
        freshb = np.maximum(1.0 - age / 47_304_000, 0.0)
        fresh = 1000.0 * freshb**4
        raw_w = prox + bm + fresh
        return pd.DataFrame(
            {
                "docid": out.index.to_numpy(),
                "weight_raw": raw_w,
                "score": raw_w / ms_norm,
                "bm25": bm,
                "prox": prox,
                "fresh": fresh,
                "lang": out["lang"].to_numpy(),
                "date_insert": out["date_insert"].to_numpy(),
                "date_modify": out["date_modify"].to_numpy(),
            }
        )

    def score_partition(pdf_iter):
        chunks = list(pdf_iter)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return

        # --- BM25 (doc-level tf across fields, per (docid,gid,term)) ----
        # uex duplicates a term within a group (stem + exact expansion on
        # one row) — they are distinct scoring keywords, so uex is a key.
        if not match_only:
            per_term = (
                pdf.groupby(["docid", "gid", "tid", "uex"], sort=False)
                .agg(tfd=("tf", "sum"), idf=("idf", "first"))
                .reset_index()
            )
            # the per-doc float sum below adds contributions in row order;
            # ordering them by (gid, tid, uex) makes every score
            # independent of the order rows reach the scorer (exchange
            # fetch order, or the driver's collect)
            per_term = per_term.iloc[npsort.int_order(
                per_term["uex"].to_numpy(), per_term["tid"].to_numpy(),
                per_term["gid"].to_numpy(),
            )]
            per_term["contrib"] = (
                per_term["idf"] * per_term["tfd"] / (per_term["tfd"] + k1)
            )
            bm25_raw = per_term.groupby("docid", sort=False)["contrib"].sum()

        # --- AND matching: strict (phrase-free) groups first --------------
        dg = pdf.loc[pdf["is_pm"] == 0, ["docid", "gid"]].drop_duplicates()
        need_strict = [g for g in range(n_groups) if g not in phrase_alts]
        if need_strict:
            cnt = (
                dg[dg["gid"].isin(need_strict)]
                .groupby("docid", sort=False)
                .size()
            )
            surv = cnt[cnt == len(need_strict)].index.to_numpy()
        else:
            surv = pdf["docid"].unique()
        if surv.size == 0:
            return
        pr = pdf[pdf["docid"].isin(surv)].reset_index(drop=True)

        # --- groups with phrase alternatives: kw-alt match OR any
        # validated phrase alternative satisfies the group (OR semantics)
        starts_by_gid: dict[int, np.ndarray] = {}
        phrase_matched = None
        if phrase_alts:
            pm = pr[pr["is_pm"] == 1].reset_index(drop=True)
            dec_pm = decode_codes(pm)
            starts_by_gid, phrase_matched = validate_phrases(dec_pm)
            alive = set(surv.tolist())
            for g in phrase_alts:
                kw_docs = set(dg.loc[dg["gid"] == g, "docid"])
                ph_docs = set(
                    phrase_matched.loc[phrase_matched["gid"] == g, "docid"]
                )
                alive &= kw_docs | ph_docs
                if not alive:
                    return
            pr = pr[pr["docid"].isin(alive)].reset_index(drop=True)

        att = pr.drop_duplicates("docid").set_index("docid")[
            ["lang", "date_insert", "date_modify"]
        ]

        if match_only:
            # membership only (facet path, Q13): AND + phrase validation
            # done above — skip BM25/LCS/positional scoring entirely
            z = np.zeros(len(att))
            yield pd.DataFrame(
                {
                    "docid": att.index.to_numpy(),
                    "weight_raw": z, "score": z, "bm25": z, "prox": z,
                    "fresh": z,
                    "lang": att["lang"].to_numpy(),
                    "date_insert": att["date_insert"].to_numpy(),
                    "date_modify": att["date_modify"].to_numpy(),
                }
            )
            return

        # --- WAND-spirit pruning: bound pass on tf-level data -------------
        if prune is not None and len(pr) and prune["topn"] < len(att):
            nm = pr.loc[pr["is_pm"] == 0, ["docid", "field", "gid"]].drop_duplicates()
            if phrase_matched is not None and not phrase_matched.empty:
                nm = pd.concat(
                    [nm, phrase_matched[nm.columns]], ignore_index=True
                ).drop_duplicates()
            gf = (
                nm.groupby(["docid", "field"], sort=False)["gid"]
                .nunique()
                .reset_index(name="gmatch")
            )
            gf["lb_w"] = w_fid[gf["field"].to_numpy()]
            gf["ub_w"] = gf["lb_w"] * gf["gmatch"]
            agg = gf.groupby("docid", sort=False)[["lb_w", "ub_w"]].sum()
            bounds = att.join(agg, how="left").join(bm25_raw.rename("raw"), how="left")
            bounds = bounds.fillna({"lb_w": 0.0, "ub_w": 0.0, "raw": 0.0})
            bm_b = (bounds["raw"].to_numpy() + 0.5) * 999
            dts = bounds[["date_insert", "date_modify"]].to_numpy(dtype=np.float64)
            fb = np.maximum(1.0 - (now_ts - dts.sum(axis=1) / 2.0) / 47_304_000, 0.0)
            fr_b = 1000.0 * fb**4
            k_ = prune["topn"]
            if prune["order"] == "weight":
                lb = bm_b + fr_b + bounds["lb_w"].to_numpy() / mls * PROXIMITY_SCALE
                ub = bm_b + fr_b + bounds["ub_w"].to_numpy() / mls * PROXIMITY_SCALE
                if prune["sort"] == "desc":
                    tau = np.partition(lb, -k_)[-k_] if lb.size > k_ else -np.inf
                    keep_ids = bounds.index.to_numpy()[ub >= tau]
                else:
                    tau = np.partition(ub, k_ - 1)[k_ - 1] if ub.size > k_ else np.inf
                    keep_ids = bounds.index.to_numpy()[lb <= tau]
            else:
                col = bounds[prune["order"]].to_numpy()
                if prune["sort"] == "desc":
                    tau = np.partition(col, -k_)[-k_] if col.size > k_ else -np.inf
                    keep_ids = bounds.index.to_numpy()[col >= tau]
                else:
                    tau = np.partition(col, k_ - 1)[k_ - 1] if col.size > k_ else np.inf
                    keep_ids = bounds.index.to_numpy()[col <= tau]
            pr = pr[pr["docid"].isin(set(keep_ids.tolist()))].reset_index(drop=True)
            att = att.loc[att.index.isin(keep_ids)]

        # --- single-keyword fast path: LCS ≡ 1 per matched field ----------
        if n_groups == 1 and not phrase_alts:
            nm = pr.loc[pr["is_pm"] == 0, ["docid", "field"]].drop_duplicates()
            nm["w"] = w_fid[nm["field"].to_numpy()]
            wsum = nm.groupby("docid", sort=False)["w"].sum()
            res = assemble(att, bm25_raw, wsum)
            if res is not None:
                yield res
            return

        # --- full positional pass (possibly on the pruned survivor set) --
        dec = decode_codes(pr)
        if phrase_alts:
            # map starts into the current decode's key space: recompute
            starts_by_gid, _pm3 = validate_phrases(dec)
        wsum = lcs_wsum(dec, starts_by_gid)
        res = assemble(att, bm25_raw, wsum)
        if res is not None:
            yield res

    return score_partition


# scorer-input columns and their Arrow types: `MatchPlan.inputs` and
# `MatchPlan.pinned_inputs` both produce exactly these
_INPUT_SCHEMA = pa.schema([
    ("docid", pa.int64()), ("tid", pa.int32()), ("gid", pa.int32()),
    ("idf", pa.float64()), ("is_pm", pa.int32()), ("midx", pa.int32()),
    ("pid", pa.int32()), ("field", pa.int32()), ("tf", pa.int32()),
    ("uex", pa.int32()), ("pos_vb", pa.binary()), ("lang", pa.string()),
    ("date_insert", pa.int64()), ("date_modify", pa.int64()),
])


def _map_frame(spark: SparkSession, mapping) -> DataFrame:
    """The term mapping as a LocalRelation, each row with ``tid``: its
    term's rank among the mapped terms — the scorer's per-term BM25
    groupby key, so the term STRING never crosses the Python boundary
    (Arrow framing + pandas object-key hashing of ~1M rows per hot
    query)."""
    tid = {t: i for i, t in enumerate(sorted({m[0] for m in mapping}))}
    return local_frame(
        spark,
        [m + (tid[m[0]],) for m in mapping],
        "term string, gid int, idf double, is_pm int, midx int, fld int, "
        "uex int, pid int, tid int",
    )


# Driver bytes of one pinned postings row besides its position list:
# the doc row (4), field (1), tf (4) and exact_tf (4), and the 4-byte
# pos_vb offset.
PIN_ROW_BYTES = 17


def postings_pin_bytes_ub(dict_pdf: pd.DataFrame) -> int:
    """Upper bound on the bytes of `PinnedPostings`, from the pinned
    dictionary alone: `_input_bytes_ub` summed over every term, at the
    pinned row width, plus the term offsets.  df and hits sum over every
    segment (superseded and tombstoned copies included), so the bound
    holds for the live rows."""
    df_ = dict_pdf["df"].to_numpy(dtype=np.int64)
    hits = dict_pdf["hits"].to_numpy(dtype=np.int64)
    rows = np.minimum(hits, df_ * len(FIELDS))
    return int((rows * PIN_ROW_BYTES + 3 * hits).sum()) + 8 * (len(dict_pdf) + 1)


def _narrow(a: np.ndarray) -> np.ndarray:
    """``a`` (non-negative integers) in the narrowest unsigned dtype
    that holds its maximum."""
    return a.astype(np.min_scalar_type(int(a.max()) if len(a) else 0))


def _mapped(arrays: list[np.ndarray]) -> list[np.ndarray]:
    """Copies of ``arrays`` in ONE anonymous memory mapping, 8-byte
    aligned: long-lived pinned columns then sit outside the malloc heap,
    where they would keep the pages of every later short-lived
    allocation around them from being returned to the OS, and the
    whole mapping is unmapped when the last view is dropped."""
    sizes = [-(-a.nbytes // 8) * 8 for a in arrays]
    buf = mmap.mmap(-1, max(sum(sizes), 8))
    out, off = [], 0
    for a, n in zip(arrays, sizes):
        v = np.frombuffer(buf, dtype=a.dtype, count=a.size, offset=off)
        v[...] = a
        out.append(v)
        off += n
    return out


@dataclass
class PinnedPostings:
    """The live postings in driver RAM (`engine.Searcher`), only the
    columns the scorer reads, grouped by term: the rows of the pinned
    dictionary's term ``terms[i]`` are ``starts[i]:starts[i+1]``.  A row
    names its document by ``drow``, the document's row in ``docs`` (the
    pinned docs columns, sorted by docid), which also holds the per-doc
    attributes the scorer reads.  Integer columns take the narrowest
    dtype their values fit, and all columns share one memory mapping
    (`_mapped`); ``pos_vb`` is a zero-copy Arrow view of two of them."""

    terms: np.ndarray
    starts: np.ndarray
    drow: np.ndarray
    field: np.ndarray
    tf: np.ndarray
    exact_tf: np.ndarray
    pos_vb: pa.Array
    docs: pa.Table
    docid: np.ndarray  # docs["docid"]
    nbytes: int  # driver bytes held (the docs table not included)

    @classmethod
    def collect(cls, live: DataFrame, terms: np.ndarray,
                docs: pa.Table) -> "PinnedPostings":
        """Collect the live postings rows (`live_postings`) in one Arrow
        job and group them by their row in ``terms``, the pinned
        dictionary's sorted term column.  Raises ValueError when a row's
        term or docid is missing from the pinned dictionary or docs."""
        t = live.select(
            "term", "docid", F.col("field").cast("byte").alias("field"),
            "tf", "exact_tf", "pos_vb",
        ).toArrow()
        trow = pc.index_in(t["term"], value_set=pa.array(terms, pa.string()))
        if trow.null_count:
            raise ValueError(f"{trow.null_count} postings rows have a term "
                             "missing from the pinned dictionary")
        trow = trow.to_numpy()
        order = np.argsort(trow, kind="stable")
        starts = np.zeros(len(terms) + 1, dtype=np.int64)
        np.cumsum(np.bincount(trow, minlength=len(terms)), out=starts[1:])
        del trow
        docid = docs["docid"].to_numpy()
        row_docid = t["docid"].to_numpy()[order]
        drow = np.searchsorted(docid, row_docid)
        if len(drow) and (drow.max() >= len(docid)
                          or (docid[drow] != row_docid).any()):
            raise ValueError("a postings docid is missing from the pinned docs")
        del row_docid
        pos = t["pos_vb"].take(order).combine_chunks()
        pos_off = np.frombuffer(pos.buffers()[1], dtype=np.int32,
                                count=len(pos) + 1)
        pos_data = np.frombuffer(pos.buffers()[2], dtype=np.uint8,
                                 count=int(pos_off[-1]))
        cols = _mapped([
            starts, _narrow(drow),
            *(_narrow(t[c].to_numpy()[order]) for c in ("field", "tf", "exact_tf")),
            pos_off, pos_data,
        ])
        del t, pos, order
        pos_vb = pa.Array.from_buffers(
            pa.binary(), len(cols[5]) - 1,
            [None, pa.py_buffer(cols[5]), pa.py_buffer(cols[6])])
        return cls(terms, *cols[:5], pos_vb, docs, docid,
                   sum(c.nbytes for c in cols))

    def rows(self, term: str) -> np.ndarray:
        """Row numbers of ``term``'s postings (binary search)."""
        i = int(np.searchsorted(self.terms, term))
        if i < len(self.terms) and self.terms[i] == term:
            return np.arange(self.starts[i], self.starts[i + 1])
        return np.empty(0, dtype=np.int64)


@dataclass
class MatchPlan:
    """The planning half of `score_matches`, decided on the driver before
    anything is scored: expansion, the block plan, the pre-filters of
    the postings scan, the scorer and the row estimate.

    ``blocks`` restricts a single-pass scan to those docid blocks (None:
    the unfiltered scan); ``two_pass`` says the τ refinement runs
    instead.  The pre-filters are driver-derived SUPERSET filters: they
    keep every row the mapping join keeps.  ``fields``: the mapped
    fields of a field-limited query (None: any field); ``tf_terms``: the
    terms some mapping row scores on plain tf (None: all of them — the
    other terms' rows need an exact occurrence); ``langs``: the Q6
    attribute filter.  The Spark frames (`map_df`, `post`) are built on
    first use, so a plan scored from ``pin`` (`pinned_inputs`) builds
    none.  ``info`` is the plan record callers see as
    ``_ctx["block_plan"]``."""

    info: dict
    scorer: Callable
    spark: SparkSession
    layout: IndexLayout
    mapping: list[tuple]
    terms: list[str]
    buckets: list[int]
    shift: int | None
    scan_rows: int
    fields: list[int] | None = None
    tf_terms: list[str] | None = None
    langs: list[str] | None = None
    postings_df: DataFrame | None = None
    pin: PinnedPostings | None = None
    blocks: np.ndarray | None = None
    blk_plan: pd.DataFrame | None = None
    two_pass: bool = False
    occupied: int = 0

    @property
    def n_map(self) -> int:
        return len(self.mapping)

    @cached_property
    def map_df(self) -> DataFrame:
        return _map_frame(self.spark, self.mapping)

    @cached_property
    def post(self) -> DataFrame:
        """The pruned, pre-filtered scan of the live postings."""
        p = self.postings_df
        if p is None:
            p = _live_union(self.spark, self.layout, "postings")
        p = p.filter(F.col("bucket").isin(self.buckets)
                     & F.col("term").isin(self.terms))
        if self.langs:
            p = p.filter(F.col("lang").isin(self.langs))  # Q6 pushdown
        p = live_postings(self.spark, self.layout, p)
        if self.fields is not None:
            p = p.filter(F.col("field").isin(self.fields))
        if self.tf_terms is not None:
            cond = F.col("exact_tf") > 0
            if self.tf_terms:
                cond = cond | F.col("term").isin(self.tf_terms)
            p = p.filter(cond)
        return p

    def inputs(self, blks, n_tasks: int | None) -> DataFrame:
        """The scorer's input rows: the scan, restricted to ``blks`` when
        given, joined with the term mapping — after a docid exchange
        into ``n_tasks`` partitions, or with none (``n_tasks=None``) for
        a driver collect."""
        p = self.post
        if blks is not None:
            blk_col = F.expr(f"shiftrightunsigned(docid, {self.shift})")
            if len(blks) <= 256:
                p = p.filter(blk_col.isin([int(b) for b in blks]))
            else:
                bdf = local_frame(
                    p.sparkSession, [(int(b),) for b in blks], "blk long"
                )
                p = (
                    p.withColumn("_blk", blk_col)
                    .join(F.broadcast(bdf), F.col("_blk") == bdf.blk, "left_semi")
                    .drop("_blk")
                )
        c = p.select(
            "docid", "term", "field", "tf", "exact_tf", "pos_vb",
            "lang", "date_insert", "date_modify",
        )
        if n_tasks is not None:
            c = c.repartition(n_tasks, "docid")
        # the mapping join AFTER the exchange (guide §2.3/§8: decide with
        # small metadata, move heavy bytes once).  A term matched by
        # several mapping rows — the common kw case is stem + exact-form
        # (uex) — is duplicated by the join; before the exchange that
        # would double the shuffled pos_vb payload, while the narrow
        # broadcast join after it duplicates rows in-stage for free.
        c = c.join(F.broadcast(self.map_df), "term")
        c = c.filter((F.col("fld") == -1) | (F.col("field") == F.col("fld")))
        # uex rows score on exact_tf (surface==term occurrences) — rows
        # with no exact occurrence are non-matches for that expansion.
        c = c.withColumn(
            "tf", F.when(F.col("uex") == 1, F.col("exact_tf")).otherwise(F.col("tf"))
        ).filter(F.col("tf") > 0)
        return c.select(*_INPUT_SCHEMA.names)

    def pinned_inputs(self, blks) -> pd.DataFrame:
        """The rows ``inputs(blks, None)`` collects, read from ``pin``
        with no Spark job: the same pre-filters, mapping expansion and
        uex tf switch, in numpy.  Returns exactly the columns and dtypes
        of ``inputs(blks, None).toArrow().to_pandas()`` (row order
        aside, which the scorer ignores)."""
        pin = self.pin
        # per pinned doc: passes the langs and block filters
        keep_doc = None
        if self.langs:
            keep_doc = pc.is_in(pin.docs["lang"],
                                value_set=pa.array(self.langs)).to_numpy()
        if blks is not None:
            blk = (pin.docid.astype(np.uint64) >> np.uint64(self.shift)).astype(np.int64)
            in_blk = np.isin(blk, blks)
            keep_doc = in_blk if keep_doc is None else keep_doc & in_blk
        cand = {}
        for t in self.terms:
            r = pin.rows(t)
            if keep_doc is not None:
                r = r[keep_doc[pin.drow[r]]]
            if self.fields is not None:
                r = r[np.isin(pin.field[r], self.fields)]
            if self.tf_terms is not None and t not in self.tf_terms:
                r = r[pin.exact_tf[r] > 0]
            cand[t] = r
        tid = {t: i for i, t in enumerate(self.terms)}
        rows, tfs, consts = [], [], []
        for term, gid, idf, is_pm, midx, fld, uex, pid in self.mapping:
            r = cand[term]
            if fld != -1:
                r = r[pin.field[r] == fld]
            tf = (pin.exact_tf if uex else pin.tf)[r]
            rows.append(r[tf > 0])
            tfs.append(tf[tf > 0])
            consts.append((tid[term], gid, idf, is_pm, midx, pid, uex))
        n = [len(r) for r in rows]
        r = np.concatenate(rows)
        drow = pa.array(pin.drow[r])
        const = {
            name: np.repeat(np.asarray([c[k] for c in consts], dtype=dt), n)
            for k, (name, dt) in enumerate([
                ("tid", np.int32), ("gid", np.int32), ("idf", np.float64),
                ("is_pm", np.int32), ("midx", np.int32), ("pid", np.int32),
                ("uex", np.int32),
            ])
        }
        cols = {
            "docid": pin.docid[pin.drow[r]],
            **const,
            "field": pin.field[r].astype(np.int32),
            "tf": np.concatenate(tfs).astype(np.int32),
            "pos_vb": pin.pos_vb.take(pa.array(r)),
            **{c: pin.docs[c].take(drow)
               for c in ("lang", "date_insert", "date_modify")},
        }
        return pa.Table.from_arrays(
            [cols[f.name] for f in _INPUT_SCHEMA], schema=_INPUT_SCHEMA
        ).to_pandas()


# Arrow bytes of one scorer-input row besides its position list: four
# 8-byte columns (docid, idf, date_insert, date_modify), eight 4-byte
# ones (tid, gid, is_pm, midx, pid, field, tf, uex), the 4-byte offsets
# of pos_vb and lang, and 24 bytes for the lang string itself.
_INPUT_ROW_BYTES = 96


def _input_bytes_ub(mapping, stats) -> int:
    """Upper bound on the Arrow bytes of a plan's scorer input, from the
    dictionary alone.  A term has at most min(hits, df·|FIELDS|) postings
    rows (one per (doc, field), each holding at least one occurrence)
    and at most 3·hits bytes of position lists (a varbyte delta below
    2^_POS_BITS takes ≤ 3 bytes); the mapping join repeats a term's rows
    once per mapping row.  Block pruning and pre-filters only drop rows,
    and df/hits sum over every segment (superseded copies included), so
    this bounds any scan of these mapping rows — unlike a block plan's
    cap × n_map, which counts only the rarest group's rows per block."""
    total = 0
    for m in mapping:
        df_, hits = stats[m[0]][:2]
        total += min(hits, df_ * len(FIELDS)) * _INPUT_ROW_BYTES + 3 * hits
    return total


def _phrase_alts(query: Query) -> dict[int, dict[int, int]]:
    """gid -> {pid -> member count} of every phrase alternative."""
    out: dict[int, dict[int, int]] = {}
    for gid, g in enumerate(query.groups):
        phrases = [a for a in g.alts if a.kind == "phrase"]
        for pid, a in enumerate(phrases):
            out.setdefault(gid, {})[pid] = len(a.words)
    return out


def plan_matches(
    spark: SparkSession,
    index_dir: str,
    query: Query | str,
    langs: list[str] | None = None,
    now_ts: int = 0,
    prune: dict | None = None,
    _ctx: dict | None = None,
    categories: list[str] | None = None,
    match_only: bool = False,
) -> MatchPlan | None:
    """Plan `score_matches` (same arguments); None when no document can
    match: a blank query, a group missing from the dictionary, or no
    docid block holding every group."""
    if isinstance(query, str):
        query = parse_query(query)
    layout = IndexLayout(index_dir)
    if query.blank or not query.groups:
        return None
    max_score_val = None
    if categories:
        from sphinxsearchengine_spark.query.parser import with_categories

        base_n = len(query.groups)
        query = with_categories(query, categories)
        max_score_val = ranker.max_score(base_n, n_categories=len(categories))

    meta = layout.meta
    ctx = _ctx or {}
    mapping, _stats, buckets = _expand_groups(spark, layout, query,
                                              ctx.get("dict_pdf"))
    if not mapping:
        return None
    # not every group found in dict → AND can never be satisfied
    gids_present = {m[1] for m in mapping}
    if len(gids_present) < len(query.groups):
        return None

    terms = sorted({m[0] for m in mapping})
    # the scan's pre-filters (MatchPlan): a field-limited query keeps
    # only mapped fields; a term matched ONLY via its exact form keeps
    # only rows with an exact occurrence
    flds = {m[5] for m in mapping}
    tf_terms = sorted({m[0] for m in mapping if m[6] == 0})

    phrase_alts = _phrase_alts(query)
    weights_by_fid = [FIELD_WEIGHTS[name] for name in FIELD_NAMES]
    scorer = _make_scorer(
        len(query.groups), phrase_alts, now_ts, weights_by_fid, prune,
        max_score_val, match_only,
    )
    # rows the unfiltered scan feeds the scorer: each mapping row joins
    # every postings row of its term, about df of them
    scan_rows = sum(_stats[m[0]][0] for m in mapping)
    # what this call planned, for callers that pass a _ctx (SHOW META
    # style introspection; est_rows is the whole plan's scorer input,
    # scorer says where it ran: "driver", "executors" or None, and scan
    # where its input came from: "pinned", "spark" or None)
    info = {"planned": False, "n_blocks": 0, "min_df": None, "passes": 1,
            "tau": None, "est_rows": scan_rows, "scorer_tasks": 0,
            "scorer": None, "scan": None,
            "input_bytes_ub": _input_bytes_ub(mapping, _stats)}
    if _ctx is not None:
        _ctx["block_plan"] = info
    plan = MatchPlan(
        info, scorer, spark, layout, mapping, terms, buckets,
        meta.block_shift, scan_rows,
        fields=None if -1 in flds else sorted(flds),
        tf_terms=None if len(tf_terms) == len(terms) else tf_terms,
        langs=langs or None, postings_df=ctx.get("postings_df"),
        pin=ctx.get("postings_pin"),
    )

    # --- block-max pruning (north rule: block-max WAND) -------------------
    blk_plan = None
    if not ctx.get("no_blockmax", False):
        blk_plan, binfo = _plan_blocks(
            spark, layout, mapping, _stats, buckets,
            len(query.groups), phrase_alts, now_ts,
            bmx_pdf=ctx.get("blockmax_pdf"),
        )
        info.update(binfo)
    if blk_plan is None:
        return plan
    if len(blk_plan) == 0:
        # no block holds all groups: AND is unsatisfiable, zero scan
        info["est_rows"] = 0
        return None
    from sphinxsearchengine_spark.config import POSTINGS_BLOCK

    plan.blk_plan = blk_plan
    plan.occupied = min(1 << (64 - plan.shift), meta.n_docs // POSTINGS_BLOCK + 1)
    # presence-only filtering: skip when nearly every block survives
    if len(blk_plan) < 0.7 * plan.occupied:
        plan.blocks = blk_plan["blk"].to_numpy()
        info["est_rows"] = int(blk_plan["cap"].sum()) * plan.n_map
    plan.two_pass = (
        prune is not None
        and prune.get("order") == "weight"
        and prune.get("sort") == "desc"
        and len(blk_plan) > 8
        # a plan that fits one scorer task cannot save a task by cutting
        # blocks: pass A would only add a checkpoint and a collect job
        and info["est_rows"] > SCORE_ROWS_PER_TASK
    )
    return plan


def _score_on_executors(spark: SparkSession, plan: MatchPlan,
                        prune: dict | None) -> DataFrame:
    """The execution half of `score_matches`: a plan's lazy
    executor-scored frame."""
    info = plan.info
    info.update(scorer="executors", scan="spark")
    shuffle_n = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)

    def run(blks, est_rows: int) -> DataFrame:
        """Score the (optionally block-restricted) postings scan.  The
        scorer exchange width comes from the estimated rows (guide §2:
        derive partitioning from the data size, don't pin the local core
        count): a few thousand rows get one Python task, a broad scan
        keeps full parallelism."""
        n_tasks = max(1, min(shuffle_n, -(-int(est_rows) // SCORE_ROWS_PER_TASK)))
        info["scorer_tasks"] += n_tasks
        return plan.inputs(blks, n_tasks).mapInPandas(
            plan.scorer, schema=SCORED_SCHEMA
        )

    if not plan.two_pass:
        return run(plan.blocks, info["est_rows"])
    # two-pass τ refinement: score the highest-ub blocks first, take the
    # K-th weight as τ, then visit only remaining blocks whose ub can
    # still beat it.  τ_final ≥ τ_passA, so skipping ub < τ_passA blocks
    # is exact.
    k_ = prune["topn"]
    n_map = plan.n_map
    ranked = plan.blk_plan.sort_values("ub", ascending=False, kind="mergesort")
    csum = ranked["cap"].to_numpy().cumsum()
    take = int(np.searchsorted(csum, max(4 * k_, 256))) + 1
    if take >= len(ranked):
        return run(ranked["blk"].to_numpy(), int(csum[-1]) * n_map)
    pass_a = ranked.iloc[:take]
    rest = ranked.iloc[take:]
    scored_a = run(
        pass_a["blk"].to_numpy(), int(pass_a["cap"].sum()) * n_map
    ).localCheckpoint()
    top_a = (
        scored_a.select("weight_raw")
        .orderBy(F.col("weight_raw").desc())
        .limit(k_)
        .collect()
    )
    if len(top_a) >= k_:
        info["tau"] = top_a[-1].weight_raw
        rest = rest[rest["ub"] >= info["tau"]]
    # pass B may be empty when τ cuts every remaining block
    info.update(passes=2, pass_a_blocks=len(pass_a), pass_b_blocks=len(rest))
    if len(rest) == 0:
        return scored_a
    if len(pass_a) + len(rest) >= 0.7 * plan.occupied:
        # τ couldn't cut much: finish with an unfiltered scan for the
        # rest (avoids a huge broadcast block list)
        ablk = local_frame(
            spark, [(int(b),) for b in pass_a["blk"]], "ablk long"
        )
        return scored_a.unionByName(
            run(None, plan.scan_rows).join(
                F.broadcast(ablk),
                F.expr(f"shiftrightunsigned(docid, {plan.shift})") == F.col("ablk"),
                "left_anti",
            )
        )
    return scored_a.unionByName(
        run(rest["blk"].to_numpy(), int(rest["cap"].sum()) * n_map)
    )


def score_matches(
    spark: SparkSession,
    index_dir: str,
    query: Query | str,
    langs: list[str] | None = None,
    now_ts: int = 0,
    prune: dict | None = None,
    _ctx: dict | None = None,
    categories: list[str] | None = None,
    match_only: bool = False,
) -> DataFrame:
    """Match + score all documents for `query`; returns the scored set
    (docid, weight_raw, score, …) BEFORE ordering/limit, as a lazy
    executor-scored frame (`plan_matches`, then `_score_on_executors`).

    ``match_only`` (facet path) keeps exact AND/phrase matching but
    skips all scoring work; score columns come back zero.

    ``categories`` appends the reference's '@category_search "__a__"|…'
    filter group and widens maxScore by the category weight per selected
    category (SphinxSearchEngine_class.php:98-102, 284-303)."""
    plan = plan_matches(spark, index_dir, query, langs, now_ts, prune, _ctx,
                        categories, match_only)
    if plan is None:
        return _no_matches(spark)
    return _score_on_executors(spark, plan, prune)


def _no_matches(spark: SparkSession) -> DataFrame:
    return local_frame(spark, [], SCORED_SCHEMA)


# Byte budget of a driver-scored plan: its scorer input, bounded by
# `_input_bytes_ub`, is collected to the driver and scored in-process.
# Measured on a 2k-doc generated index (4-core host, nine query shapes):
# a collected input row is 77-81 Arrow bytes and the bound runs
# 1.3-3.9x over the collected bytes of an unpruned scan, so a plan at the
# row gate (SCORE_ROWS_PER_TASK rows, ~2 MB) bounds to at most ~8 MB;
# 16 MB admits all of those with 2x headroom.  Scoring in the driver
# raised its peak RSS by 0.1-2.9x the collected bytes, so the budget
# caps a query's transient driver memory near 50 MB.
DRIVER_SCORE_BYTES = 16 << 20


def _driver_scorable(plan: MatchPlan) -> bool:
    """Score in the driver a single-pass plan that would get exactly one
    scorer task and whose collected input is bounded by the budget: one
    task crosses the Python boundary only to run the same scorer on the
    same rows, which costs more than the scoring at warm-query sizes."""
    info = plan.info
    return (
        not plan.two_pass
        and info["est_rows"] <= SCORE_ROWS_PER_TASK
        and info["input_bytes_ub"] <= DRIVER_SCORE_BYTES
    )


def _score_in_driver(plan: MatchPlan) -> pd.DataFrame | None:
    """Run the same `score_partition` in-process on a plan's scorer
    input: read from the pinned postings with no Spark job, or else
    collected in one Arrow job (no docid exchange)."""
    if plan.pin is not None:
        scan, pdf = "pinned", plan.pinned_inputs(plan.blocks)
    else:
        scan, pdf = "spark", plan.inputs(plan.blocks, None).toArrow().to_pandas()
    plan.info.update(scorer="driver", scorer_tasks=1, scan=scan)
    parts = list(plan.scorer(iter([pdf])))
    return pd.concat(parts, ignore_index=True) if parts else None


_ORDER_COLS = {"weight": "weight_raw", "date_insert": "date_insert",
               "date_modify": "date_modify"}
# a result's columns from the scorer, and from the docs table
_TOP_COLS = ["docid", "score", "weight_raw", "lang", "date_insert", "date_modify"]
_DOC_COLS = ["repo", "path", "commit", "content_sha", "category"]


def _top_rows(scored: DataFrame, col: str, desc: bool, n: int) -> pd.DataFrame:
    """The first n scored rows by (col, docid), collected
    (TakeOrderedAndProject)."""
    ordc = F.col(col).desc() if desc else F.col(col).asc()
    return (
        scored.select(*_TOP_COLS)
        .orderBy(ordc, F.col("docid").asc())
        .limit(n)
        .toArrow()
        .to_pandas()
    )


# the pinned docs columns (`pin_docs`): a result's, the per-doc
# attributes the scorer reads, and the seq of the doc's live segment
_PIN_DOC_COLS = ["docid", *_DOC_COLS, "lang", "date_insert", "date_modify", "seq"]
# Arrow bytes of one pinned docs row besides its strings: three 8-byte
# columns (docid, date_insert, date_modify), the 4-byte seq, the 4-byte
# offsets of six string or list columns, and a validity bit per column
# (2 bytes).  A category element adds a 4-byte offset to its string.
_DOC_ROW_BYTES = 54


def docs_bytes_ub(spark: SparkSession, layout: IndexLayout) -> int:
    """Upper bound on the Arrow bytes of `pin_docs`: one aggregate job
    over every segment's docs (superseded and tombstoned copies
    included), reading only the pinned columns."""
    docs = _live_union(spark, layout, "docs")
    if docs is None:
        return 0
    n_str = sum(F.coalesce(F.octet_length(c), F.lit(0))
                for c in ("repo", "path", "commit", "content_sha", "lang"))
    n_cat = F.coalesce(F.expr(
        "aggregate(category, 0L, (a, x) -> a + coalesce(octet_length(x), 0) + 4)"
    ), F.lit(0))
    n, n_bytes = docs.agg(F.count(F.lit(1)), F.sum(n_str + n_cat)).first()
    return n * _DOC_ROW_BYTES + (n_bytes or 0)


def pin_docs(spark: SparkSession, index_dir: str) -> pa.Table:
    """The live docs' `_PIN_DOC_COLS`, collected in one Arrow job and
    sorted by docid, one chunk per column."""
    t = live_docs(spark, index_dir, keep_seq=True).select(*_PIN_DOC_COLS).toArrow()
    return t.take(pc.sort_indices(t["docid"])).combine_chunks()


def hydration_frame(spark: SparkSession, index_dir: str, docids: list[int],
                    _ctx: dict | None = None) -> DataFrame:
    """The docs columns of a result (S8): one ``docid IN (...)`` lookup
    against the pinned docs, or `live_docs`."""
    docs = _ctx.get("docs_df") if _ctx else None
    if docs is None:
        docs = live_docs(spark, index_dir)
    return docs.select("docid", *_DOC_COLS).filter(F.col("docid").isin(docids))


def _result(spark: SparkSession, index_dir: str, top: pd.DataFrame | None,
            col: str, desc: bool, offset: int, limit: int,
            _ctx: dict | None) -> DataFrame:
    """Order the collected top rows by (col, docid), rank them, apply
    the offset (Q10) and hydrate the survivors from the pinned docs
    (``_ctx["docs_pin"]``) or one `hydration_frame` lookup, all on the
    driver; the result is a LocalRelation in rank order (Q15)."""
    if top is None or len(top) <= offset or limit <= 0:
        return local_frame(spark, [], RESULT_SCHEMA)
    key = top[col].to_numpy()
    order = np.lexsort((top["docid"].to_numpy(), -key if desc else key))
    top = top.iloc[order[offset:offset + limit]]
    rank = np.arange(offset + 1, offset + 1 + len(top), dtype=np.int32)
    docs = _ctx.get("docs_pin") if _ctx else None
    if docs is None:
        docs = hydration_frame(spark, index_dir, top["docid"].tolist(), _ctx).toArrow()
    # inner-join semantics: a scored docid missing from docs drops out
    at = pc.index_in(pa.array(top["docid"].to_numpy()), value_set=docs["docid"])
    found = np.asarray(at.is_valid())
    d = docs.take(at.drop_null())
    cols = {"rank": rank[found], **{c: d[c] for c in _DOC_COLS},
            **{c: top[c].to_numpy()[found] for c in _TOP_COLS}}
    struct = StructType.fromDDL(RESULT_SCHEMA)
    table = pa.table({c: cols[c] for c in RESULT_COLS}).cast(to_arrow_schema(struct))
    return spark.createDataFrame(table, schema=struct)


def search(
    spark: SparkSession,
    index_dir: str,
    query: Query | str,
    limit: int = 20,
    offset: int = 0,
    langs: list[str] | None = None,
    order_by: str = "weight",
    sort: str = "desc",
    now_ts: int = 0,
    categories: list[str] | None = None,
    _ctx: dict | None = None,
    _scored: DataFrame | None = None,
) -> DataFrame:
    """Full search path → hydrated top-k result DataFrame (rank-ordered,
    `RESULT_SCHEMA`).

    A plan that fits one scorer task and the driver byte budget is
    scored in the driver (`_driver_scorable`); any other plan is scored
    on executors and only its top offset+limit rows are collected.
    Ranking, the offset and hydration then run on the driver.

    order_by/sort whitelist mirrors SphinxSearchEngine_class.php:16-18;
    limit is capped at MATCH_CAP (the reference's limit=1000, :169).
    """
    limit = min(limit, MATCH_CAP)
    col = _ORDER_COLS.get(order_by, "weight_raw")
    desc = sort == "desc"
    if _scored is not None:
        top = _top_rows(_scored, col, desc, offset + limit)
    else:
        prune = {
            "topn": offset + limit,
            "order": order_by if order_by in _ORDER_COLS else "weight",
            "sort": "desc" if desc else "asc",
        }
        plan = plan_matches(spark, index_dir, query, langs, now_ts, prune,
                            _ctx, categories)
        if plan is None:
            top = None
        elif _driver_scorable(plan):
            top = _score_in_driver(plan)
        else:
            top = _top_rows(_score_on_executors(spark, plan, prune), col, desc,
                            offset + limit)
    return _result(spark, index_dir, top, col, desc, offset, limit, _ctx)


def search_with_meta(spark, index_dir, query, _ctx=None, **kw):
    """search + SHOW META analog (Q11 total, Q12 per-keyword stats,
    `time` = seconds spent matching+ranking, like the reference's SHOW
    META time row, SphinxSearchEngine_class.php:202-221).

    Single scoring pass: the exhaustive match set is cached, counted for
    `total`, and re-used for the top-k selection."""
    import time as _time

    if isinstance(query, str):
        query = parse_query(query)
    layout = IndexLayout(index_dir)
    meta: dict = {"total": 0, "keywords": [], "time": 0.0}
    if query.blank or not query.groups:
        return search(spark, index_dir, query, _ctx=_ctx, **kw), meta
    t0 = _time.monotonic()
    scored = score_matches(
        spark, index_dir, query, kw.get("langs"), kw.get("now_ts", 0),
        _ctx=_ctx, categories=kw.get("categories"),
    ).cache()
    try:
        meta["total"] = scored.count()
        res = search(spark, index_dir, query, _ctx=_ctx, _scored=scored, **kw)
    finally:
        scored.unpersist()
    # measured wall of the matching+ranking actions; NEVER part of any
    # score (determinism invariant — wall clock must not affect results)
    meta["time"] = round(_time.monotonic() - t0, 4)
    dict_pdf = _ctx.get("dict_pdf") if _ctx else None
    _, stats, _b = _expand_groups(spark, layout, query, dict_pdf)
    for g in query.groups:
        for a in g.alts:
            w0 = a.words[0]
            if a.kind == "exact":
                s = stem_token(w0)
                if s == w0:  # exact stats live on the stem row
                    st = stats.get(w0, (0, 0, 0, 0, 0))
                    df_, hits = st[3], st[4]
                else:
                    st = stats.get(EXACT_PREFIX + w0, (0, 0, 0, 0, 0))
                    df_, hits = st[0], st[1]
            else:
                st = stats.get(stem_token(w0), (0, 0, 0, 0, 0))
                df_, hits = st[0], st[1]
            meta["keywords"].append({"keyword": w0, "docs": df_, "hits": hits})
    return res, meta
