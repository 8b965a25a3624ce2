"""Scoring placement: `search`, `search_with_meta` and the facets score
a one-task plan in the driver and any other plan on executors.  Both
placements run the same scorer on the same rows, so they must return
identical results — bit-equal scores, not merely close ones — and both
must match the oracle."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import numpy as np
import pytest

from sphinxsearchengine_spark import engine
from sphinxsearchengine_spark.config import (
    EXPANSION_LIMIT,
    FACET_CAP,
    MATCH_CAP,
    EngineConfig,
)
from sphinxsearchengine_spark.corpus import PINNED_NOW, derive_documents, generate_corpus
from sphinxsearchengine_spark.engine import Searcher
from sphinxsearchengine_spark.index.builder import build_index
from sphinxsearchengine_spark.index.layout import IndexLayout
from sphinxsearchengine_spark.oracle import OracleEngine
from sphinxsearchengine_spark.query import executor as X

from test_engine import QUERIES

# 1000 docs -> 8 docid blocks: selective queries restrict the scan to a
# block list, broad ones scan unfiltered
N_DOCS = 1000

BLOCKMAX_QUERIES = [
    dict(query=q) for q in [
        "hotterm engine", "needleuniq hotterm", '"alpha beta" engine',
        'merge|"alpha beta" engine',
    ]
] + [dict(query="hotterm", limit=3), dict(query="hotterm", limit=10)]


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("placement") / "idx")
    docs = derive_documents(generate_corpus(spark, N_DOCS, partitions=4))
    build_index(spark, docs, idx, EngineConfig(term_buckets=8), salt_factor=2)
    return Searcher(spark, idx, cache_docs=True), OracleEngine(docs.toPandas())


def _run(searcher, monkeypatch, gate, query, kw):
    monkeypatch.setattr(X, "_driver_scorable", gate)
    rows = searcher.search(query, **kw).collect()
    plan = searcher.last_plan
    return [(r.rank, r.docid, r.score, r.weight_raw) for r in rows], plan


@pytest.mark.parametrize("q", QUERIES + BLOCKMAX_QUERIES,
                         ids=[str(q) for q in QUERIES + BLOCKMAX_QUERIES])
def test_placements_identical(env, monkeypatch, q):
    searcher, oracle = env
    kw = dict(q)
    query = kw.pop("query")
    kw.setdefault("limit", 20)
    kw.setdefault("now_ts", PINNED_NOW)
    on_driver, plan_d = _run(searcher, monkeypatch,
                             lambda plan: not plan.two_pass, query, kw)
    on_execs, plan_e = _run(searcher, monkeypatch, lambda plan: False, query, kw)
    assert on_driver == on_execs
    if plan_d is not None and plan_d["scorer"] is not None:
        # the forced placements really ran (a None scorer: nothing to score)
        assert (plan_d["scorer"], plan_e["scorer"]) == ("driver", "executors")
    want = oracle.search(query, **kw)
    assert [r[:2] for r in on_driver] == [(w["rank"], w["docid"]) for w in want]
    for r, w in zip(on_driver, want):
        assert math.isclose(r[2], w["score"], rel_tol=1e-9, abs_tol=1e-12), (r, w)


@pytest.fixture(scope="module")
def env_unpinned(spark, env):
    """A Searcher over the `env` index with nothing pinned."""
    s = Searcher(spark, env[0].index_dir, dict_cache_rows=0)
    assert s._dict_pdf is None and s._docs_pin is None and s._postings_pin is None
    return s


@pytest.fixture(scope="module")
def env_categories(spark):
    """docid -> category of the generated docs the `env` index holds."""
    docs = derive_documents(generate_corpus(spark, N_DOCS, partitions=4))
    return {r.docid: list(r.category) for r in docs.select("docid", "category").collect()}


def _rows(df):
    return [(r.rank, r.docid, r.score, r.weight_raw) for r in df.collect()]


@pytest.mark.parametrize("q", QUERIES + BLOCKMAX_QUERIES,
                         ids=[str(q) for q in QUERIES + BLOCKMAX_QUERIES])
def test_meta_and_facets_take_the_search_path(env, env_unpinned, env_categories,
                                              monkeypatch, q):
    """`search_with_meta` and `facets` place their plans by `search`'s
    gate.  Forced to either placement, pinned or not: the meta rows `==`
    the `search` rows, `total` is the oracle's match count, and the
    facets are the oracle's match docids joined to their categories."""
    searcher, oracle = env
    kw = dict(q)
    query = kw.pop("query")
    kw.setdefault("limit", 20)
    kw.setdefault("now_ts", PINNED_NOW)
    langs = kw.get("langs")
    total = len(oracle.score_matches(query, langs, PINNED_NOW, kw.get("categories")))
    # facets take no category filter
    counts = Counter(c for m in oracle.score_matches(query, langs, PINNED_NOW)
                     for c in env_categories[m["docid"]])
    want_facets = sorted(counts.items())[:FACET_CAP]
    for gate, scorer in [(lambda plan: not plan.two_pass, "driver"),
                         (lambda plan: False, "executors")]:
        monkeypatch.setattr(X, "_driver_scorable", gate)
        for s in (searcher, env_unpinned):
            res, meta = s.search_with_meta(query, **kw)
            plan = s.last_plan
            assert _rows(res) == _rows(s.search(query, **kw)), scorer
            assert meta["total"] == total, scorer
            if plan is not None and plan["scorer"] is not None:
                assert plan["scorer"] == scorer
            facets = s.facets(query, langs=langs, now_ts=PINNED_NOW).collect()
            if s.last_plan is not None and s.last_plan["scorer"] is not None:
                assert s.last_plan["scorer"] == scorer
            assert [(r.category, r.n_docs) for r in facets] == want_facets, scorer


def test_meta_reports_keywords_of_an_unmatchable_query(env):
    """A query whose second group is missing from the dictionary plans
    nothing, yet reports a keyword entry per alternative."""
    searcher, _ = env
    res, meta = searcher.search_with_meta(
        "hotterm zzzzneverexists|qqqqabsent", limit=5, now_ts=PINNED_NOW)
    assert res.collect() == [] and meta["total"] == 0
    assert [k["keyword"] for k in meta["keywords"]] == [
        "hotterm", "zzzzneverexists", "qqqqabsent"]
    _, alone = searcher.search_with_meta("hotterm", limit=5, now_ts=PINNED_NOW)
    assert meta["keywords"][0] == alone["keywords"][0] and alone["total"] > 0
    assert [(k["docs"], k["hits"]) for k in meta["keywords"][1:]] == [(0, 0), (0, 0)]


def test_facets_record_their_plan(env, monkeypatch):
    """`Searcher.facets` runs through `Searcher._run`: `last_plan` is the
    facet's own plan, not the previous query's."""
    searcher, _ = env
    with monkeypatch.context() as mp:
        mp.setattr(X, "_driver_scorable", lambda plan: False)
        searcher.search("hotterm", limit=5, now_ts=PINNED_NOW).collect()
    assert searcher.last_plan["scorer"] == "executors"
    searcher.facets("hotterm", now_ts=PINNED_NOW).collect()
    assert searcher.last_plan["scorer"] == "driver"


def test_gate_bounds_collected_bytes(env):
    """The driver gate checks the dictionary's byte bound, not only the
    row estimate: a plan under the row limit but over the byte budget
    is scored on executors."""
    searcher, _ = env
    ctx = searcher._ctx()
    prune = {"topn": 20, "order": "weight", "sort": "desc"}
    plan = X.plan_matches(searcher.spark, searcher.index_dir, "hotterm", None,
                          PINNED_NOW, prune, ctx)
    info = plan.info
    assert info["est_rows"] <= X.SCORE_ROWS_PER_TASK
    assert 0 < info["input_bytes_ub"] <= X.DRIVER_SCORE_BYTES
    assert X._driver_scorable(plan)
    # the bound covers what the driver collects
    got = plan.inputs(plan.blocks, None).toArrow()
    assert got.nbytes <= info["input_bytes_ub"]
    info["input_bytes_ub"] = X.DRIVER_SCORE_BYTES + 1
    assert not X._driver_scorable(plan)


def test_scorer_ignores_row_order(env):
    """Scores are bit-equal whatever order the rows reach the scorer in
    (the exchange's fetch order, or the driver's collect)."""
    import numpy as np
    import pandas as pd

    searcher, _ = env
    rng = np.random.default_rng(7)
    for q in ["pars*", "searches | merge", "index search"]:
        plan = X.plan_matches(searcher.spark, searcher.index_dir, q, None,
                              PINNED_NOW, None, searcher._ctx())
        rows = plan.inputs(plan.blocks, None).toArrow().to_pandas()

        def scores(pdf):
            out = pd.concat(list(plan.scorer(iter([pdf]))))
            return out.sort_values("docid")[["docid", "weight_raw", "score"]]

        base = scores(rows)
        for _ in range(5):
            shuffled = rows.iloc[rng.permutation(len(rows))].reset_index(drop=True)
            assert scores(shuffled).values.tolist() == base.values.tolist(), q


# --- the pinned scan on a multi-segment, tombstoned index -----------------

MS_DOCS = 600


def _with_content(rows, suffix: str):
    rows = rows.copy()
    rows["content"] = rows["content"] + suffix
    rows["content_sha"] = [hashlib.sha256(c.encode()).hexdigest()
                           for c in rows["content"]]
    return rows


@pytest.fixture(scope="module")
def ms_env(spark, tmp_path_factory):
    """A three-segment index with tombstones: a build, two upserts that
    replace existing docs and add new ones, and a delete of original,
    replaced and added docs.  Returns the index and its live docs."""
    import pandas as pd

    from sphinxsearchengine_spark.index.lifecycle import delete, upsert

    idx = str(tmp_path_factory.mktemp("placement_ms") / "idx")
    cfg = EngineConfig(term_buckets=8)
    sdocs = derive_documents(generate_corpus(spark, MS_DOCS + 30, partitions=4))
    full = sdocs.toPandas().sort_values("docid").reset_index(drop=True)
    orig, extra = full.iloc[:MS_DOCS], full.iloc[MS_DOCS:]

    def frame(rows):
        return spark.createDataFrame(rows[full.columns.tolist()], schema=sdocs.schema)

    build_index(spark, frame(orig), idx, cfg, salt_factor=2)
    live = orig
    # originals 10-19 are replaced twice
    for replaced, added, suffix in [
        (orig.iloc[0:20], extra.iloc[:15], " hotterm engine zzupone"),
        (orig.iloc[10:30], extra.iloc[15:], " index search merge"),
    ]:
        batch = _with_content(pd.concat([replaced, added]), suffix)
        upsert(spark, idx, frame(batch), cfg)
        live = pd.concat([live[~live["docid"].isin(batch["docid"])], batch])
    # untouched originals, twice-replaced originals and added docs
    gone = [int(d) for d in pd.concat(
        [orig.iloc[40:44], orig.iloc[15:17], extra.iloc[3:5]])["docid"]]
    delete(spark, idx, gone)
    live = live[~live["docid"].isin(gone)].reset_index(drop=True)
    meta = IndexLayout(idx).meta
    assert (len(meta.segments), meta.n_tombstones > 0, meta.n_docs) == (3, True, len(live))
    return idx, live


# queries whose prefix has more dictionary terms than EXPANSION_LIMIT
CUT_EXPANSIONS = {"@title file_1*": "file_1"}


@pytest.fixture(scope="module")
def ms_searchers(spark, ms_env):
    """(pinned Searcher, Searcher over budget, oracle over the live docs)."""
    idx, live = ms_env
    pinned = Searcher(spark, idx)
    assert pinned._postings_pin is not None and pinned._docs_pin is not None
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(engine, "DRIVER_PIN_BYTES", 0)
        spark_scan = Searcher(spark, idx)
    return pinned, spark_scan, OracleEngine(live)


@pytest.mark.parametrize("q", QUERIES + BLOCKMAX_QUERIES,
                         ids=[str(q) for q in QUERIES + BLOCKMAX_QUERIES])
def test_pinned_scan_identical(ms_searchers, monkeypatch, q):
    """The pinned driver scan, the Spark driver collect, the executors
    and module-level `search` with nothing pinned (dictionary and block
    plan from collected rows) return `==` equal results, and the match
    set is the oracle's over the live docs."""
    pinned, spark_scan, oracle = ms_searchers
    kw = dict(q)
    query = kw.pop("query")
    kw.setdefault("limit", 20)
    kw.setdefault("now_ts", PINNED_NOW)
    on_driver = lambda plan: not plan.two_pass  # noqa: E731
    a, plan_a = _run(pinned, monkeypatch, on_driver, query, kw)
    b, plan_b = _run(spark_scan, monkeypatch, on_driver, query, kw)
    c, plan_c = _run(pinned, monkeypatch, lambda plan: False, query, kw)
    monkeypatch.setattr(X, "_driver_scorable", on_driver)
    d = [(r.rank, r.docid, r.score, r.weight_raw) for r in X.search(
        pinned.spark, pinned.index_dir, query, **kw).collect()]
    assert a == b == c == d
    if plan_a is not None and plan_a["scorer"] is not None:
        assert [(p["scorer"], p["scan"]) for p in (plan_a, plan_b, plan_c)] == [
            ("driver", "pinned"), ("driver", "spark"), ("executors", "spark")]
    # df sums over superseded copies until compaction, so scores differ
    # from the oracle's, and so may the terms of a prefix expansion that
    # EXPANSION_LIMIT cuts by df; any other match set may not
    if query in CUT_EXPANSIONS:
        n = pinned._dict_pdf["term"].str.startswith(CUT_EXPANSIONS[query]).sum()
        assert n > EXPANSION_LIMIT
        return
    every = dict(kw, limit=MATCH_CAP, offset=0)
    got = {r.docid for r in pinned.search(query, **every).collect()}
    want = {m["docid"] for m in oracle.score_matches(
        query, kw.get("langs"), PINNED_NOW, kw.get("categories"))}
    assert got == want


def test_pinned_inputs_equal_spark_inputs(ms_searchers):
    """`pinned_inputs` returns the rows, columns and dtypes the Spark
    collect of `inputs` returns, block-restricted and lang-filtered
    plans included."""
    pinned, _, _ = ms_searchers
    for q, langs in [("hotterm engine", None), ("needleuniq hotterm", None),
                     ('"alpha beta"', None), ("=search =running index", None),
                     ("@title file_1*", None), ("engine", ["python", "go"]),
                     ("pars*", None)]:
        plan = X.plan_matches(pinned.spark, pinned.index_dir, q, langs,
                              PINNED_NOW, None, pinned._ctx())
        for blks in {None, None if plan.blocks is None else tuple(plan.blocks)}:
            blks = None if blks is None else np.asarray(blks)
            a = plan.pinned_inputs(blks)
            b = plan.inputs(blks, None).toArrow().to_pandas()
            assert list(a.columns) == list(b.columns)
            assert a.dtypes.tolist() == b.dtypes.tolist()
            key = ["docid", "tid", "gid", "midx", "pid", "uex", "field"]
            a, b = (f.sort_values(key).reset_index(drop=True) for f in (a, b))
            assert len(a) > 0 and a.equals(b), q


def _digest(pdf) -> str:
    pdf = pdf.sort_values(["term", "docid", "field"]).reset_index(drop=True)
    return hashlib.sha256(
        pdf.to_csv(index=False).encode()).hexdigest()


def test_pinned_rows_equal_live_postings(spark, ms_env, ms_searchers):
    """The pinned postings are exactly the shared helper's live rows."""
    import pandas as pd

    idx, _ = ms_env
    pin = ms_searchers[0]._postings_pin
    layout = IndexLayout(idx)
    cols = ["term", "docid", "field", "tf", "exact_tf", "pos_vb"]
    want = X.live_rows(spark, layout, X._live_union(spark, layout, "postings"))
    want = want.select(*cols).toPandas()
    got = pd.DataFrame({
        "term": np.repeat(pin.terms, np.diff(pin.starts)),
        "docid": pin.docid[pin.drow],
        "field": pin.field.astype(np.int32),
        "tf": pin.tf.astype(np.int32),
        "exact_tf": pin.exact_tf.astype(np.int32),
        "pos_vb": pin.pos_vb.to_pylist(),
    })
    assert len(got) == len(want) > 0
    assert _digest(got) == _digest(want[cols])
    assert pin.nbytes <= X.postings_pin_bytes_ub(ms_searchers[0]._dict_pdf)


def test_over_budget_recorded_and_unchanged(spark, ms_env, ms_searchers, monkeypatch):
    """Over DRIVER_PIN_BYTES the Searcher records the bound and the budget
    and keeps the Spark path, with unchanged results; a budget that fits
    the docs but not the postings pins the docs only."""
    idx, _ = ms_env
    pinned, spark_scan, _ = ms_searchers
    assert "DRIVER_PIN_BYTES 0 B" in spark_scan.unpinned["docs"]
    assert spark_scan._postings_pin is None and spark_scan._docs_pin is None
    assert set(pinned.pinned_bytes) == {"dict", "blockmax", "docs", "postings"}
    assert not pinned.unpinned
    docs_ub = X.docs_bytes_ub(IndexLayout(idx))
    assert pinned._docs_pin.nbytes <= docs_ub
    monkeypatch.setattr(engine, "DRIVER_PIN_BYTES", docs_ub)
    docs_only = Searcher(spark, idx)
    reason = docs_only.unpinned["postings"]
    assert f"+ docs {docs_ub} B > DRIVER_PIN_BYTES {docs_ub} B" in reason
    assert docs_only._docs_pin is not None and docs_only._postings_pin is None
    for q in ["hotterm engine", "needleuniq hotterm", '"alpha beta"']:
        want = pinned.search(q, limit=10, now_ts=PINNED_NOW).collect()
        assert docs_only.search(q, limit=10, now_ts=PINNED_NOW).collect() == want
        assert docs_only.last_plan["scan"] == "spark"
        assert spark_scan.search(q, limit=10, now_ts=PINNED_NOW).collect() == want


def test_docs_bound_recorded_at_write(spark, ms_env, ms_searchers, tmp_path):
    """The docs pin bound is the sum of what each segment's docs write
    recorded, read with no Spark job, and equals the aggregate over
    every segment's docs it replaced; a segment that records none keeps
    the docs unpinned, with the reason, and the results unchanged."""
    import json
    import shutil

    from pyspark.sql import functions as F

    from sphinxsearchengine_spark import metrics as M

    idx, _ = ms_env
    layout = IndexLayout(idx)
    docs = X._live_union(spark, layout, "docs")
    n_str = sum(F.coalesce(F.octet_length(c), F.lit(0))
                for c in ("repo", "path", "commit", "content_sha", "lang"))
    n_cat = F.coalesce(F.expr(
        "aggregate(category, 0L, (a, x) -> a + coalesce(octet_length(x), 0) + 4)"
    ), F.lit(0))
    n, n_bytes = docs.agg(F.count(F.lit(1)), F.sum(n_str + n_cat)).first()
    sid = M.latest_stage_id(spark)
    assert X.docs_bytes_ub(layout) == n * X._DOC_ROW_BYTES + n_bytes
    assert M.latest_stage_id(spark) == sid

    old = str(tmp_path / "idx")
    shutil.copytree(idx, old)
    seg = layout.meta.segments[1]["name"]
    man_path = IndexLayout(old).manifest(seg)
    manifest = json.load(open(man_path))
    del manifest["stages"]["docs"]["pin_bytes_ub"]
    json.dump(manifest, open(man_path, "w"))
    searcher = Searcher(spark, old)
    assert f"segment {seg} records no docs pin bound" in searcher.unpinned["docs"]
    assert searcher.unpinned["postings"] == "docs not pinned"
    pinned = ms_searchers[0]
    for q in ["hotterm engine", '"alpha beta"']:
        want = pinned.search(q, limit=10, now_ts=PINNED_NOW).collect()
        assert searcher.search(q, limit=10, now_ts=PINNED_NOW).collect() == want


def test_warm_pinned_query_starts_no_stage(spark, ms_searchers):
    """A warm one-task query over the pinned postings and docs starts no
    Spark job at all: its search, its search with meta, and its facets."""
    from sphinxsearchengine_spark import metrics as M

    pinned = ms_searchers[0]
    for q in ["hotterm", "needleuniq hotterm", '"alpha beta" engine']:
        for call in [
            lambda: pinned.search(q, limit=5, now_ts=PINNED_NOW).collect(),
            lambda: pinned.search_with_meta(q, limit=5, now_ts=PINNED_NOW)[0].collect(),
            lambda: pinned.facets(q, now_ts=PINNED_NOW).collect(),
        ]:
            call()
            sid = M.latest_stage_id(spark)
            rows = call()
            assert rows and (pinned.last_plan["scorer"], pinned.last_plan["scan"]) == (
                "driver", "pinned")
            assert M.stage_metrics(spark, sid) == [], q


def _planner_calls(spark, idx, pinned, monkeypatch, q):
    """The `_plan_blocks` arguments `plan_matches` passes for one test
    query (none when the query never reaches the planner)."""
    calls = []
    real = X._plan_blocks

    def spy(*args, **kw):
        calls.append(args)
        return real(*args, **kw)

    kw = dict(q)
    monkeypatch.setattr(X, "_plan_blocks", spy)
    X.plan_matches(spark, idx, kw["query"], kw.get("langs"), PINNED_NOW, None,
                   pinned._ctx(), kw.get("categories"))
    monkeypatch.setattr(X, "_plan_blocks", real)
    return calls


def _ub_reference(bmx, mapping, now_ts):
    """Per-block ub by pandas groupby, with a Python OR over ``fmask``:
    the reference for the planner's sort + reduceat."""
    import functools
    import operator

    import pandas as pd

    from sphinxsearchengine_spark.config import BM25_K1

    cols = ["term", "gid", "idf", "is_pm", "midx", "fld", "uex", "pid"]
    sub = bmx.merge(pd.DataFrame(mapping, columns=cols), on="term")
    fld = sub["fld"].to_numpy()
    present = (fld == -1) | ((sub["fmask"].to_numpy() >> np.maximum(fld, 0)) & 1 == 1)
    sub = sub[present & ((sub["uex"] == 0) | (sub["max_etf"] > 0)).to_numpy()]
    mtf = np.where(sub["uex"] == 1, sub["max_etf"], sub["max_tf"]).astype(np.float64)
    sub = sub.assign(contrib=sub["idf"] * mtf / (mtf + BM25_K1))
    ub = sub.groupby("blk").agg(
        raw_ub=("contrib", "sum"), dmax=("max_dsum", "max"),
        fmask=("fmask", lambda s: functools.reduce(operator.or_, s.tolist())))
    plan = X._finish_block_plan(ub.reset_index().assign(cap=0), now_ts)
    return plan.set_index("blk")["ub"]


def test_block_planners_agree_across_segments(spark, ms_env, ms_searchers, monkeypatch):
    """After upserts into existing blocks and deletes, a plan from rows
    collected per query equals the plan from the pinned blockmax frame:
    the same blocks with the same caps, and bounds equal to float
    rounding, which are the pandas groupby reference's.  The collect is
    one job of at most 3 Spark stages, and the dictionary lookup over
    collected rows equals the pinned one."""
    from sphinxsearchengine_spark import metrics as M
    from sphinxsearchengine_spark.query.parser import parse_query, with_categories

    idx, _ = ms_env
    pinned = ms_searchers[0]
    layout = IndexLayout(idx)
    n_planned = 0
    for q in QUERIES + BLOCKMAX_QUERIES:
        query = parse_query(q["query"])
        if q.get("categories"):
            query = with_categories(query, q["categories"])
        assert (X._expand_groups(spark, layout, query, None)
                == X._expand_groups(spark, layout, query, pinned._dict_pdf)), q
        for args in _planner_calls(spark, idx, pinned, monkeypatch, q):
            sid = M.latest_stage_id(spark)
            collected, info = X._plan_blocks(*args)
            stages = M.stage_metrics(spark, sid)
            drv, _ = X._plan_blocks(*args, bmx_pdf=pinned._blockmax_pdf)
            assert "fallback" not in info and info["planned"], q
            assert 0 < len(stages) <= 3, (q, stages)
            collected, drv = (p.sort_values("blk").reset_index(drop=True)
                              for p in (collected, drv))
            assert collected["blk"].tolist() == drv["blk"].tolist(), q
            assert collected["cap"].tolist() == drv["cap"].tolist(), q
            np.testing.assert_allclose(collected["ub"], drv["ub"], rtol=1e-12, atol=0)
            ref = _ub_reference(pinned._blockmax_pdf, args[2], args[7])
            np.testing.assert_allclose(ref.loc[drv["blk"]].to_numpy(), drv["ub"],
                                       rtol=1e-12, atol=0)
            n_planned += len(drv) > 0
    assert n_planned >= 10


def test_over_bound_collect_plans_unpruned(spark, ms_env, ms_searchers, monkeypatch):
    """A planner collect whose row bound exceeds BLOCK_PLAN_CAP is not
    run: the query is planned unpruned, the plan records why, and the
    rows are the pruned plan's."""
    from sphinxsearchengine_spark import metrics as M

    idx, _ = ms_env
    q = "needleuniq hotterm"
    want_ctx: dict = {}
    want = X.search(spark, idx, q, limit=10, now_ts=PINNED_NOW, _ctx=want_ctx).collect()
    info = want_ctx["block_plan"]
    assert info["planned"] and "fallback" not in info
    # the rarest group still fits the cap; the two terms' rows do not
    monkeypatch.setattr(X, "BLOCK_PLAN_CAP", info["min_df"])
    (args,) = _planner_calls(spark, idx, ms_searchers[0], monkeypatch, dict(query=q))
    sid = M.latest_stage_id(spark)
    assert X._plan_blocks(*args)[0] is None
    assert M.stage_metrics(spark, sid) == []
    ctx: dict = {}
    got = X.search(spark, idx, q, limit=10, now_ts=PINNED_NOW, _ctx=ctx).collect()
    plan = ctx["block_plan"]
    assert not plan["planned"] and plan["n_blocks"] == 0
    assert plan["fallback"].startswith("bound ")
    assert plan["fallback"].endswith(f"blockmax rows > BLOCK_PLAN_CAP {info['min_df']}")
    assert want and got == want


def test_pin_caps_record_unpinned(spark, ms_env):
    """A dict or blockmax table over its row cap is left unpinned with
    the reason, and the Searcher serves the same results."""
    idx, _ = ms_env
    full = Searcher(spark, idx)
    n_terms, n_bmx = len(full._dict_pdf), len(full._blockmax_pdf)
    small = Searcher(spark, idx, dict_cache_rows=n_terms - 1)
    assert small.unpinned["dict"] == f"more than {n_terms - 1} terms > dict_cache_rows"
    assert small.unpinned["postings"] == "dict not pinned"
    cap = -(-n_bmx // 4) - 1
    assert 4 * cap < n_bmx
    no_bmx = Searcher(spark, idx, dict_cache_rows=cap)
    assert no_bmx.unpinned["blockmax"] == f"more than {4 * cap} rows > 4 * dict_cache_rows"
    assert no_bmx._blockmax_pdf is None
    for q in ["hotterm engine", "needleuniq hotterm"]:
        want = full.search(q, limit=10, now_ts=PINNED_NOW).collect()
        for s in (small, no_bmx):
            assert s.search(q, limit=10, now_ts=PINNED_NOW).collect() == want, q
