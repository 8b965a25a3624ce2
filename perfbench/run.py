#!/usr/bin/env python3
"""Repository benchmark: index set-up, warm pinned search, and write churn
with fresh reads, each checked for correctness.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload churn --seed 7 --seconds 15 --trace 1
    python3 perfbench/run.py --workload search --smoke      # tiny sizes

Run it from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones (tracing off); with
``--trace 1`` they are the per-layer ones, and the spans are written to
``.bench_out/``.  Scratch data lives in ``.bench_scratch/`` and is removed
when the run ends, failed or not.  See perfbench/README.md for the
workloads, the layer map and the run policy.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import Tracer  # noqa: E402

WORKLOADS = ("search", "churn")
DEFAULT_SEED = 1  # seed 1009 is held out for confirming claims (README)

# name -> unit.  BENCHMARK.json lists the same names (checked by the test).
END_TO_END = {
    "setup_s": "s",
    "op_mean_s": "s",
    "index_bytes_per_doc_byte": "ratio",
    "driver_peak_rss_mb": "MB",
}
PER_LAYER = {
    "spark.session_s": "s",
    "build.first_s": "s",
    "build.warm_s": "s",
    "builder.docs_s": "s",
    "builder.postings_s": "s",
    "builder.dict_s": "s",
    "builder.commit_s": "s",
    "builder.map_run_s": "s",
    "builder.reduce_run_s": "s",
    "builder.gc_s": "s",
    "builder.spark_stages": "count",
    "builder.exchange_records": "count",
    "builder.exchange_bytes_per_doc": "B/doc",
    "tokenize.docs_per_s": "docs/s",
    "searcher.pin_s": "s",
    "searcher.pin_rss_mb": "MB",
    "query.broad_p50_s": "s",
    "query.selective_p50_s": "s",
    "query.parse_s": "s",
    "query.match_setup_s": "s",
    "query.score_s": "s",
    "query.topk_hydrate_s": "s",
    "query.spark_stages": "count",
    "query.scan_input_bytes": "B",
    "query.exchange_rows": "count",
    "query.exchange_bytes": "B",
    "query.rows_per_match": "ratio",
    "query.matches": "count",
    "index.segments": "count",
    "index.tombstones": "count",
    "write.upsert_s": "s",
    "write.delete_s": "s",
    "write.refresh_s": "s",
    "upsert.docs_s": "s",
    "upsert.postings_s": "s",
    "upsert.dict_s": "s",
    "upsert.commit_s": "s",
    "upsert.spark_stages": "count",
    "delete.spark_stages": "count",
    "maintain.purge_s": "s",
    "maintain.compact_s": "s",
    "ops.quality_s": "s",
    "ops.exact_dedup_s": "s",
    "ops.decontam_s": "s",
    "ops.sample_split_s": "s",
    "ops.curate_s": "s",
    "ops.ngram_pairs_s": "s",
    "ops.groups_s": "s",
    "ops.minhash_pairs_s": "s",
    "ops.ngram_exchange_records_per_pair": "ratio",
    "ops.ngram_pairs": "count",
    "trace.overhead_frac": "ratio",
    "trace.unattributed_frac": "ratio",
}

SETUP_REPS = 2          # set-ups per run; setup_s is their median
FULL = {"pool": 2600, "keep_pct": 77}
SMOKE = {"pool": 240, "keep_pct": 77}
TERM_BUCKETS = 8        # small-index sizing, as the repository's tests use
SALT_FACTOR = 2
LIMIT = 20
PRUNE = {"topn": LIMIT, "order": "weight", "sort": "desc"}
QUOTAS = {"python": 1.0, "go": 0.5, "rust": 0.25}
OPS_PCT = 30            # share of the corpus the ops operators run on


def log(*a) -> None:
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


# --- sizing and Spark ------------------------------------------------------

def box_sizing() -> dict:
    """local[k], shuffle partitions and driver heap from this machine's
    cores and available RAM (1 GB per task slot, heap a quarter of RAM
    clamped to 1-4 GB)."""
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else (os.cpu_count() or 1)
    avail_mb = 4096
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_mb = int(line.split()[1]) // 1024
    except OSError:
        pass
    k = max(1, min(cores, 8, avail_mb // 1024))
    heap = max(1024, min(4096, avail_mb // 4))
    return {"k": k, "partitions": 2 * k, "driver_mb": heap,
            "cores": cores, "avail_mb": avail_mb}


def start_spark(size: dict, scratch: str):
    # Python workers import the package: put the repository root on their
    # path (they start from the JVM's environment, not the driver's cwd).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    local = os.path.join(scratch, "spark-local")
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = scratch
    # every JVM (the spark-submit launcher too) keeps its temp files in
    # scratch and writes no hsperfdata outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{size['k']}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(size["partitions"]))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", f"{size['driver_mb']}m")
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def stage_rows(spark, after: int) -> list[dict]:
    """Stages with id > after: shuffle/input counts from
    metrics.stage_metrics plus task run and GC milliseconds from the same
    StageData records of Spark's status store."""
    from sphinxsearchengine_spark import metrics as M

    rows = M.stage_metrics(spark, after)  # drains the listener bus first
    extra = {}
    lst = M._stage_list(spark)
    for i in range(lst.size()):
        s = lst.apply(i)
        if s.stageId() > after:
            extra[s.stageId()] = (s.executorRunTime(), s.jvmGcTime())
    for r in rows:
        run, gc = extra.get(r["stage_id"], (0, 0))
        r.update(run_ms=run, gc_ms=gc)
    return rows


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def rss_mb() -> float:
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def cpu_ceiling_sample() -> float | None:
    """One short no-Spark CPU sample (scripts/cpu_ceiling.measure with one
    process), run in a child process so no Spark thread is forked."""
    code = ("import sys; sys.path.insert(0, 'scripts'); import cpu_ceiling; "
            "print(cpu_ceiling.measure(1))")
    try:
        out = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                             capture_output=True, text=True, timeout=60)
        return float(out.stdout.strip().splitlines()[-1])
    except (subprocess.SubprocessError, ValueError, IndexError) as e:
        log("cpu ceiling sample failed:", e)
        return None


# --- inputs ----------------------------------------------------------------

def make_corpus(spark, scratch: str, sizes: dict, seed: int):
    """Seeded subset of the deterministic generated corpus (one Spark job),
    written to parquet for the builds; the rest is the pool new docs are
    drawn from."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from sphinxsearchengine_spark.corpus import derive_documents, generate_corpus

    keep = (F.abs(F.xxhash64(F.col("docid"), F.lit(seed))) % 100) < sizes["keep_pct"]
    full = (derive_documents(generate_corpus(spark, sizes["pool"], partitions=4))
            .drop("_dateseed").withColumn("_keep", keep).toPandas()
            .sort_values("docid").reset_index(drop=True))
    indexed, extra = (full[full["_keep"] == k].drop(columns="_keep")
                      .reset_index(drop=True) for k in (True, False))
    path = os.path.join(scratch, "corpus")
    os.makedirs(path)
    pq.write_table(pa.Table.from_pandas(indexed, preserve_index=False),
                   os.path.join(path, "part-0.parquet"))
    return spark.read.parquet(path), indexed, extra


def dict_terms(index_dir: str, seg: str):
    import pyarrow.parquet as pq

    from sphinxsearchengine_spark.index.layout import IndexLayout

    return pq.read_table(IndexLayout(index_dir).dict(seg)).to_pandas()


def rows_digest(path: str) -> str:
    """Order-free digest of a parquet table (dict / blockmax)."""
    import pandas as pd
    import pyarrow.parquet as pq

    df = pq.read_table(path).to_pandas()
    df = df[sorted(df.columns)].astype(str)
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return hashlib.sha256(pd.util.hash_pandas_object(df, index=False)
                          .values.tobytes()).hexdigest()


def query_mix(dic, indexed, rng: random.Random) -> list[tuple[str, str]]:
    """Seeded interleaved query mix, terms drawn by df band.  broad: hot
    term, AND of common terms, prefix, phrase.  selective: rare AND hot,
    rare term, exact form, @title-limited term.  The hot and common bands
    are narrow rank windows (the hottest terms; the terms nearest 10% df),
    so seeds change the terms more than the work a query does."""
    from sphinxsearchengine_spark.text.tokenizer import stem_token

    n = len(indexed)
    dic = dic[["term", "df"]].copy()
    dic["df"] = dic["df"].astype(int)
    dic = dic.groupby("term", as_index=False)["df"].sum().sort_values("term")
    plain = dic[dic["term"].map(
        lambda t: t.isalpha() and len(t) >= 4 and stem_token(t) == t)]

    def band(frame, lo, hi):
        got = frame[(frame["df"] >= lo) & (frame["df"] <= hi)]["term"].tolist()
        return got or frame["term"].tolist()

    def nearest(frame, df, k):
        dist = (frame["df"] - df).abs()
        return frame.assign(_d=dist).sort_values(["_d", "term"])["term"][:k].tolist()

    hot = nearest(plain, n, 6)
    common = nearest(plain, 0.1 * n, 12)
    ident = dic[dic["term"].map(lambda t: t[0] not in "=_" and "_" not in t
                                and stem_token(t) == t)]
    rare = band(ident, 2, max(2, 0.01 * n))
    exact = band(dic[dic["term"].str.startswith("=")], 2, 0.05 * n)
    titles = band(dic[dic["term"].str.match(r"^file_\d+$")], 1, 3)

    pick = lambda xs: xs[rng.randrange(len(xs))]  # noqa: E731
    c1, c2 = rng.sample(common, 2) if len(common) >= 2 else (pick(common),) * 2
    pool = set(hot) | set(common)
    phrase = None
    for _ in range(200):
        words = indexed["content"].iloc[rng.randrange(n)].split()
        pairs = [(a, b) for a, b in zip(words, words[1:])
                 if a in pool and b in pool and a != b]
        if pairs:
            phrase = '"%s %s"' % pick(pairs)
            break
    broad = [pick(hot), f"{c1} {c2}", pick(common)[:4] + "*",
             phrase or f"{pick(hot)} {pick(common)}"]
    selective = [f"{pick(rare)} {pick(hot)}", pick(rare), pick(exact),
                 f"@title {pick(titles)}"]
    mix = []
    for b, s in zip(broad, selective):
        mix += [("broad", b), ("selective", s)]
    return mix


# --- layer probes (traced runs) -------------------------------------------

def manifest_split(index_dir: str, seg: str, t_start: float, t_end: float) -> dict:
    """Per-stage seconds from the builder's manifest `ts` marks."""
    from sphinxsearchengine_spark import fs
    from sphinxsearchengine_spark.index.layout import IndexLayout

    st = fs.read_json(IndexLayout(index_dir).manifest(seg))["stages"]
    return {"docs_s": st["docs"]["ts"] - t_start,
            "postings_s": st["blockmax"]["ts"] - st["docs"]["ts"],
            "dict_s": st["dict"]["ts"] - st["blockmax"]["ts"],
            "commit_s": t_end - st["dict"]["ts"]}


def build_stage_split(rows: list[dict], n_docs: int) -> dict:
    """The postings exchange: the stage writing the most shuffle bytes (map)
    and the one reading the most (reduce).  Fetch wait is left out: in
    local mode every shuffle read is local and it reads 0."""
    mp = max(rows, key=lambda r: r["shuffle_write_bytes"])
    rd = max(rows, key=lambda r: r["shuffle_read_bytes"])
    return {"map_run_s": mp["run_ms"] / 1e3, "reduce_run_s": rd["run_ms"] / 1e3,
            "gc_s": sum(r["gc_ms"] for r in rows) / 1e3,
            "spark_stages": len(rows),
            "exchange_records": mp["shuffle_write_records"],
            "exchange_bytes_per_doc": mp["shuffle_write_bytes"] / max(1, n_docs)}


def tokenize_rate(indexed, tr: Tracer) -> float:
    """index.packed.packed_tokenize on seeded Arrow batches, one thread in
    the driver; median docs/s over three passes."""
    import pyarrow as pa

    from sphinxsearchengine_spark.index.packed import packed_tokenize

    batches = pa.Table.from_pandas(indexed, preserve_index=False).to_batches(
        max_chunksize=256)
    rates = []
    for _ in range(3):
        with tr.span("tokenize") as s:
            for _out in packed_tokenize(TERM_BUCKETS, SALT_FACTOR)(iter(batches)):
                pass
        rates.append(len(indexed) / s.dur)
    return median(rates)


def ops_probe(spark, r: "Run") -> None:
    """Each public ops operator run on its own to a noop sink, then the
    composed curate and the near-dup pair/group operators, on a seeded
    share of the corpus with planted near-duplicates and exact copies."""
    from pyspark.sql import functions as F

    from sphinxsearchengine_spark import metrics as M
    from sphinxsearchengine_spark.ops import dedup, pipeline, sampling
    from sphinxsearchengine_spark.ops.decontam import decontaminate
    from sphinxsearchengine_spark.ops.textstats import quality_flag

    seed, tr, m = r.args.seed, r.tr, r.m
    part = (F.abs(F.xxhash64(F.col("docid"), F.lit(seed))) % 100) < OPS_PCT
    d = r.docs.filter(part).select(F.col("docid").alias("id"),
                                   F.col("content").alias("text"), "lang")
    is_bench = sampling.hash_predicate("id", 0.05, salt=f"bench{seed}")
    bench, corpus = d.filter(is_bench), d.filter(~is_bench)
    # the generated corpus has no near-duplicates: plant, for a seeded tenth
    # of the docs, a copy with one word appended and an exact copy
    src = corpus.filter(F.abs(F.xxhash64(F.col("id"), F.lit(seed + 1))) % 10 == 0)
    near_id, copy_id = (F.xxhash64(F.col("id"), F.lit(k)) for k in (1, 2))
    planted = src.select("id", near_id.alias("near")).toPandas()
    corpus = corpus.unionByName(src.select(
        near_id.alias("id"), F.concat_ws(" ", "text", F.lit("zqnear")).alias("text"),
        "lang")).unionByName(src.select(copy_id.alias("id"), "text", "lang"))
    salt = f"eval{seed}"

    def timed(name, fn):
        with tr.span(name) as s:
            out = fn()
        m[name] = s.dur
        return out

    timed("ops.quality_s", lambda: noop(corpus.filter(quality_flag("text"))))
    timed("ops.exact_dedup_s",
          lambda: noop(dedup.exact_duplicates(corpus, "id", "text")))
    timed("ops.decontam_s",
          lambda: noop(decontaminate(corpus, bench, "id", "text", n=8)))
    timed("ops.sample_split_s", lambda: noop(sampling.train_test_split(
        sampling.stratified_sample(corpus, "id", "lang", QUOTAS, salt=salt),
        "id", 0.1)))
    cur = timed("ops.curate_s", lambda: pipeline.curate(
        corpus, "id", "text", "lang", QUOTAS, bench=bench, decontam_n=8,
        test_fraction=0.1, salt=salt).select("id", "split").toPandas())
    r.checks["curate_digest"] = hashlib.sha256(
        cur.sort_values("id").to_csv(index=False).encode()).hexdigest()

    sid = M.latest_stage_id(spark)
    pairs = timed("ops.ngram_pairs_s", lambda: dedup.ngram_jaccard_pairs(
        corpus, "id", "text").select("id_a", "id_b").toPandas())
    rows = stage_rows(spark, sid)
    recs = max((r["shuffle_write_records"] for r in rows), default=0)
    m["ops.ngram_pairs"] = len(pairs)
    m["ops.ngram_exchange_records_per_pair"] = recs / max(1, len(pairs))
    if len(pairs):
        pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    else:
        pdf = spark.createDataFrame([], "id_a long, id_b long")
    groups = timed("ops.groups_s",
                   lambda: dedup.duplicate_groups(pdf).toPandas())
    found = set(zip(pairs["id_a"], pairs["id_b"]))
    missed = [(a, b) for a, b in zip(planted["id"], planted["near"])
              if (min(a, b), max(a, b)) not in found]
    if missed:
        r.bad(f"ngram_jaccard_pairs missed {len(missed)} planted near-dup pairs")
    gid = dict(zip(groups.iloc[:, 0], groups.iloc[:, 1]))
    if not all(gid.get(a) is not None and gid.get(a) == gid.get(b) for a, b in found):
        r.bad("duplicate_groups splits a near-dup pair")
    r.checks["dedup_digest"] = hashlib.sha256(
        pairs.sort_values(["id_a", "id_b"]).to_csv(index=False).encode()
    ).hexdigest()
    timed("ops.minhash_pairs_s",
          lambda: noop(dedup.minhash_lsh_pairs(corpus, "id", "text")))


# --- the run ---------------------------------------------------------------

class Run:
    """State of one benchmark run: session, inputs, index, counters."""

    def __init__(self, args, scratch: str):
        self.args = args
        self.scratch = scratch
        self.rng = random.Random(args.seed)
        self.tr = Tracer(bool(args.trace))
        self.m: dict[str, float] = {}       # per-layer values
        self.attempted = 0
        self.failed = 0
        self.wrong: list[str] = []
        self.checks: dict = {}
        self.op_times: list[float] = []
        self.read_times: list[tuple[str, float]] = []
        self.bytes_ratio = 0.0
        self.segments = 1
        self.tombstones = 0
        self.cycle = 0

    # -- bookkeeping
    def bad(self, what: str) -> None:
        self.failed += 1
        self.wrong.append(what)
        log("WRONG:", what)

    def op(self, name: str, fn, kind: str | None = None, op_id=None):
        """One timed operation of the workload's closed loop."""
        self.attempted += 1
        with self.tr.span(name, op=op_id) as s:
            out = fn()
        self.op_times.append(s.dur)
        if kind:
            self.read_times.append((kind, s.dur))
        return out

    # -- set-up
    def setup(self, spark, sizes: dict) -> None:
        from sphinxsearchengine_spark import fs
        from sphinxsearchengine_spark import metrics as M
        from sphinxsearchengine_spark.config import EngineConfig
        from sphinxsearchengine_spark.engine import Searcher
        from sphinxsearchengine_spark.index.builder import build_index
        from sphinxsearchengine_spark.index.layout import IndexLayout

        tr = self.tr
        with tr.span("inputs"):
            self.docs, self.indexed, self.extra = make_corpus(
                spark, self.scratch, sizes, self.args.seed)
        self.content = {int(d): len(c.encode()) for d, c in
                        zip(self.indexed["docid"], self.indexed["content"])}
        cfg = EngineConfig(term_buckets=TERM_BUCKETS)
        setups, builds, pins, pin_rss, digests = [], [], [], [], []
        splits, stage_splits = [], []
        for rep in range(SETUP_REPS):
            idx = os.path.join(self.scratch, f"idx{rep}")
            with tr.span("setup") as s_set:
                sid = M.latest_stage_id(spark) if tr.enabled else -1
                t0 = time.time()
                with tr.span("build") as s_b:
                    meta = build_index(spark, self.docs, idx, cfg,
                                       salt_factor=SALT_FACTOR)
                t1 = time.time()
                rss0 = rss_mb()
                with tr.span("pin") as s_p:
                    searcher = Searcher(spark, idx, cache_docs=True)
                pin_rss.append(rss_mb() - rss0)
            if tr.enabled:
                with tr.span("probe.build_metrics"):
                    splits.append(manifest_split(idx, "seg_00000", t0, t1))
                    stage_splits.append(build_stage_split(
                        stage_rows(spark, sid), meta.n_docs))
            setups.append(s_set.dur)
            builds.append(s_b.dur)
            pins.append(s_p.dur)
            lay = IndexLayout(idx)
            digests.append((rows_digest(lay.dict("seg_00000")),
                            rows_digest(lay.blockmax("seg_00000"))))
        self.attempted += SETUP_REPS
        for rep, dg in enumerate(digests[1:], 1):
            if dg != digests[0]:
                self.bad(f"dict/blockmax digest of build {rep} differs from build 0")
        self.idx, self.searcher = idx, searcher
        if meta.n_docs != len(self.indexed):
            self.bad(f"index holds {meta.n_docs} docs, corpus {len(self.indexed)}")
        self.setup_s = median(setups)
        self.bytes_ratio = fs.total_size(idx) / sum(self.content.values())
        self.live = set(self.content)
        self.mix = query_mix(dict_terms(idx, "seg_00000"), self.indexed, self.rng)
        log("query mix:", self.mix)
        self.m.update({"build.first_s": builds[0], "build.warm_s": median(builds[1:]),
                       "searcher.pin_s": median(pins),
                       "searcher.pin_rss_mb": median(pin_rss)})
        for key in splits[0] if splits else ():
            self.m[f"builder.{key}"] = median([s[key] for s in splits])
        for key in stage_splits[0] if stage_splits else ():
            vals = [s[key] for s in stage_splits]
            self.m[f"builder.{key}"] = median(vals) if key.endswith("_s") else vals[-1]

    # -- reads
    def read(self, spark, kind: str, q: str, pinned: bool, expect=None,
             oracle=None, decompose: bool = False):
        """One read: search().collect().  A decomposed read (traced runs)
        also runs the layer calls beside it: parse, score_matches to its
        lazy frame, and that frame to a noop sink."""
        from sphinxsearchengine_spark import metrics as M
        from sphinxsearchengine_spark.corpus import PINNED_NOW
        from sphinxsearchengine_spark.query import executor as X
        from sphinxsearchengine_spark.query.parser import parse_query

        tr, op_id = self.tr, self.attempted
        self.kind_of[op_id] = kind
        if pinned:
            search = lambda: self.searcher.search(  # noqa: E731
                q, limit=LIMIT, now_ts=PINNED_NOW).collect()
            scored = lambda: self.searcher.score_matches(  # noqa: E731
                q, now_ts=PINNED_NOW, prune=PRUNE)
        else:
            search = lambda: X.search(  # noqa: E731
                spark, self.idx, q, limit=LIMIT if expect is None else 1000,
                now_ts=PINNED_NOW).collect()
            scored = lambda: X.score_matches(  # noqa: E731
                spark, self.idx, q, now_ts=PINNED_NOW, prune=PRUNE)
        with tr.span(f"read.{kind}", op=op_id):
            if decompose:
                with tr.span("query.parse"):
                    parse_query(q)
                with tr.span("query.match_setup"):
                    frame = scored()
                with tr.span("query.score"):
                    noop(frame)
                sid = M.latest_stage_id(spark)
            rows = self.op("query.search" if decompose else "query.plain",
                           search, kind, op_id)
            if decompose:
                with tr.span("probe.query_stages"):
                    st = stage_rows(spark, sid)
                    self.qstages.append({
                        "spark_stages": len(st),
                        "scan_input_bytes": sum(r["input_bytes"] for r in st),
                        "exchange_rows": sum(r["shuffle_write_records"] for r in st),
                        "exchange_bytes": sum(r["shuffle_write_bytes"] for r in st),
                        "q": q, "pinned": pinned})
        if oracle is not None:
            self.check_oracle(q, rows, oracle)
        if expect is not None:
            self.matches[q] = len(expect)
            if {r.docid for r in rows} != expect:
                self.bad(f"fresh read of {q!r}: {len(rows)} docs, "
                         f"expected {len(expect)}")
        return rows

    def check_oracle(self, q: str, rows, oracle) -> None:
        from sphinxsearchengine_spark.corpus import PINNED_NOW

        got = [(r.docid, r.score) for r in rows]
        seen = self.results.get(q)
        if seen is not None:
            if got != seen:
                self.bad(f"{q!r}: result changed between repeats")
            return
        self.results[q] = got
        want = oracle.search(q, limit=LIMIT, now_ts=PINNED_NOW)
        if [g[0] for g in got] != [w["docid"] for w in want] or not all(
                math.isclose(g[1], w["score"], rel_tol=1e-9, abs_tol=1e-12)
                for g, w in zip(got, want)):
            self.bad(f"{q!r}: ranking differs from the oracle")
        self.matches[q] = len(oracle.score_matches(q, None, PINNED_NOW))

    # -- writes
    def churn_cycle(self, spark, reads: bool = True) -> None:
        """upsert (half replacements, half new docs) -> delete -> fresh
        read of the planted token -> Searcher.refresh(); every third cycle
        from the first, purge_orphans + compact.  A traced run decomposes
        that read and adds one broad fresh read, decomposed and then plain
        (the tracing overhead)."""
        import pandas as pd

        from sphinxsearchengine_spark import metrics as M
        from sphinxsearchengine_spark.index import lifecycle as L
        from sphinxsearchengine_spark.index.layout import IndexLayout

        rng, tr, i = self.rng, self.tr, self.cycle
        self.cycle += 1
        n_up = max(4, len(self.indexed) // 50)
        planted = "zq" + "".join(rng.choice("bcdfghjklmnpqrstvwxz") for _ in range(8))
        repl_ids = rng.sample(sorted(self.live - self.upserted), n_up // 2)
        new_rows = self.extra.iloc[self.next_extra:self.next_extra + n_up - n_up // 2]
        self.next_extra += len(new_rows)
        repl_rows = self.indexed[self.indexed["docid"].isin(repl_ids)]
        batch = pd.concat([repl_rows, new_rows], ignore_index=True)
        batch["content"] = batch["content"] + " " + planted
        batch["content_sha"] = [hashlib.sha256(c.encode()).hexdigest()
                                for c in batch["content"]]
        batch_df = spark.createDataFrame(batch[self.indexed.columns.tolist()],
                                         schema=self.docs.schema)
        ids = [int(d) for d in batch["docid"]]
        lay = IndexLayout(self.idx)
        seg = f"seg_{lay.meta.next_seq:05d}"
        sid = M.latest_stage_id(spark) if tr.enabled else -1
        t0 = time.time()
        self.op("write.upsert", lambda: L.upsert(spark, self.idx, batch_df))
        t1 = time.time()
        if tr.enabled:
            with tr.span("probe.upsert_metrics"):
                self.upserts.append(manifest_split(self.idx, seg, t0, t1))
                self.upserts[-1]["spark_stages"] = len(stage_rows(spark, sid))
        self.live |= set(ids)
        self.upserted |= set(ids)
        for d, c in zip(ids, batch["content"]):
            self.content[d] = len(c.encode())
        self.track_size()

        n_del = max(2, n_up // 4)
        dels = rng.sample(ids, n_del // 2) + rng.sample(
            sorted(self.live - set(ids)), n_del - n_del // 2)
        sid = M.latest_stage_id(spark) if tr.enabled else -1
        self.op("write.delete", lambda: L.delete(spark, self.idx, dels))
        if tr.enabled:
            with tr.span("probe.delete_metrics"):
                self.delete_stages.append(len(stage_rows(spark, sid)))
        self.live -= set(dels)
        self.track_size()

        if reads:
            self.read(spark, "selective", planted, pinned=False,
                      expect=set(ids) - set(dels), decompose=tr.enabled)
            if tr.enabled:
                broad = self.mix[2 * (i % 4)][1]
                self.read(spark, "broad", broad, pinned=False, decompose=True)
                self.read(spark, "broad", broad, pinned=False)
        self.op("write.refresh", self.searcher.refresh)

        if i % 3 == 0:
            orphans = rng.sample(sorted(self.live - self.upserted), 2)
            src = spark.createDataFrame(
                [(d,) for d in sorted(self.live - set(orphans))], "docid long")
            _, n = self.op("maintain.purge",
                           lambda: L.purge_orphans(spark, self.idx, src))
            if n != len(orphans):
                self.bad(f"purge removed {n} docs, expected {len(orphans)}")
            self.live -= set(orphans)
            meta = self.op("maintain.compact", lambda: L.compact(spark, self.idx))
            if (meta.n_docs, len(meta.segments), meta.n_tombstones) != (len(self.live), 1, 0):
                self.bad(f"after compact: {meta.n_docs} docs / {len(meta.segments)} "
                         f"segments / {meta.n_tombstones} tombstones, "
                         f"expected {len(self.live)} / 1 / 0")
            self.upserted = set()

    def track_size(self) -> None:
        from sphinxsearchengine_spark import fs
        from sphinxsearchengine_spark.index.layout import IndexLayout

        meta = IndexLayout(self.idx).meta
        self.segments = max(self.segments, len(meta.segments))
        self.tombstones = max(self.tombstones, meta.n_tombstones)
        live_bytes = sum(self.content[d] for d in self.live)
        self.bytes_ratio = max(self.bytes_ratio, fs.total_size(self.idx) / live_bytes)

    # -- workloads
    def workload(self, spark) -> None:
        from sphinxsearchengine_spark.corpus import PINNED_NOW
        from sphinxsearchengine_spark.oracle import OracleEngine

        self.results, self.matches, self.qstages, self.kind_of = {}, {}, [], {}
        self.upserts, self.delete_stages = [], []
        self.upserted, self.next_extra = set(), 0
        seconds = self.args.seconds
        if self.args.workload == "search":
            with self.tr.span("oracle"):
                oracle = OracleEngine(self.indexed)
            # untimed warm-up: the first reads after set-up pay the query
            # path's JVM and Python-worker warm-up (about 0.5 s here)
            with self.tr.span("warmup"):
                for _kind, q in self.mix[:2]:
                    self.attempted += 1
                    self.check_oracle(q, self.searcher.search(
                        q, limit=LIMIT, now_ts=PINNED_NOW).collect(), oracle)
            # whole rounds of the 8-query mix; a traced run decomposes the
            # first round and runs the second plain (tracing overhead)
            plan = [True, False] if self.tr.enabled else [False]
            t0, r = time.perf_counter(), 0
            with self.tr.span("loop"):
                while r < len(plan) or time.perf_counter() - t0 < seconds:
                    dec = plan[r] if r < len(plan) else False
                    for kind, q in self.mix:
                        self.read(spark, kind, q, pinned=True, oracle=oracle,
                                  decompose=dec)
                    r += 1
            if self.tr.enabled:
                # the write layers, measured here too on the same index
                with self.tr.span("probe.writes"):
                    n_ops = len(self.op_times)
                    self.churn_cycle(spark, reads=False)
                    del self.op_times[n_ops:]
        else:
            t0 = time.perf_counter()
            with self.tr.span("loop"):
                while self.cycle == 0 or time.perf_counter() - t0 < seconds:
                    self.churn_cycle(spark)

    def layer_metrics(self) -> None:
        m, tr = self.m, self.tr
        for kind in ("broad", "selective"):
            m[f"query.{kind}_p50_s"] = median(
                [d for k, d in self.read_times if k == kind])
        parse, setup, score = (tr.durations(n) for n in
                               ("query.parse", "query.match_setup", "query.score"))
        m["query.parse_s"] = median(parse)
        m["query.match_setup_s"] = median(setup)
        m["query.score_s"] = median(score)
        m["query.topk_hydrate_s"] = median(tr.durations("query.search")) \
            - m["query.match_setup_s"] - m["query.score_s"]
        # tracing overhead: the search().collect() span with the
        # decomposition calls beside it against plain reads, per class
        ratios = []
        for kind in ("broad", "selective"):
            traced, plain = ([s.dur for s in tr.spans if s.name == name
                              and self.kind_of[s.op] == kind]
                             for name in ("query.search", "query.plain"))
            if traced and plain:
                ratios.append(median(traced) / median(plain))
        m["trace.overhead_frac"] = statistics.fmean(ratios) - 1
        qs = self.qstages
        for key in ("spark_stages", "scan_input_bytes", "exchange_rows",
                    "exchange_bytes"):
            m[f"query.{key}"] = median([q[key] for q in qs])
        # block-pruning waste, over the reads whose match total is known
        # (oracle for pinned reads, the planted token's docs for fresh ones)
        known = [q for q in qs if q["q"] in self.matches]
        m["query.rows_per_match"] = median(
            [q["exchange_rows"] / max(1, self.matches[q["q"]]) for q in known])
        m["query.matches"] = median([self.matches[q["q"]] for q in known])
        m["index.segments"] = self.segments
        m["index.tombstones"] = self.tombstones
        for name in ("upsert", "delete", "refresh"):
            m[f"write.{name}_s"] = median(tr.durations(f"write.{name}"))
        for key in ("docs_s", "postings_s", "dict_s", "commit_s", "spark_stages"):
            m[f"upsert.{key}"] = median([u[key] for u in self.upserts])
        m["delete.spark_stages"] = median(self.delete_stages)
        m["maintain.purge_s"] = median(tr.durations("maintain.purge"))
        m["maintain.compact_s"] = median(tr.durations("maintain.compact"))


def run(args, scratch: str) -> dict:
    sizes = SMOKE if args.smoke else FULL
    size = box_sizing()
    r = Run(args, scratch)
    tr = r.tr
    conditions = {"box": size, "workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "smoke": args.smoke}
    if tr.enabled:
        conditions["cpu_ceiling_before"] = cpu_ceiling_sample()
    with tr.span("run") as root:
        with tr.span("spark.session") as s:
            spark = start_spark(size, scratch)
        r.m["spark.session_s"] = s.dur
        try:
            r.setup(spark, sizes)
            if tr.enabled:
                r.m["tokenize.docs_per_s"] = tokenize_rate(r.indexed, tr)
            r.workload(spark)
            if tr.enabled:
                with tr.span("probe.ops"):
                    ops_probe(spark, r)
                r.layer_metrics()
        finally:
            with tr.span("spark.stop"):
                stop_spark(spark)
    if tr.enabled:
        conditions["cpu_ceiling_after"] = cpu_ceiling_sample()
        selfs = tr.self_times()
        r.m["trace.unattributed_frac"] = selfs[root.id] / root.dur
        conditions.update(checks=r.checks, wrong=r.wrong,
                          self_time_sum_s=sum(selfs.values()), wall_s=root.dur)
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        tr.write(path, conditions)
        log("trace written to", path)
    log("conditions:", json.dumps(conditions, default=str))
    if tr.enabled:
        names = PER_LAYER
        values = r.m
    else:
        names = END_TO_END
        values = {
            "setup_s": r.setup_s,
            "op_mean_s": statistics.fmean(r.op_times),
            "index_bytes_per_doc_byte": r.bytes_ratio,
            "driver_peak_rss_mb": peak_rss_mb(),
        }
    missing = [n for n in names if not math.isfinite(values.get(n, math.nan))]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {"correct": r.failed == 0, "attempted": r.attempted, "failed": r.failed,
            "metrics": {n: {"value": float(values[n]), "unit": u}
                        for n, u in names.items()}}


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds, so scratch and the JVM are cleaned up


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny corpus and one round, for the benchmark's test")
    args = ap.parse_args(argv)
    if args.smoke:
        args.seconds = 0
    if not os.path.isfile(os.path.join(ROOT, "sphinxsearchengine_spark", "__init__.py")):
        log("the engine package is not next to perfbench/; run from a checkout")
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(ROOT, ".bench_scratch"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                               dir=os.path.join(ROOT, ".bench_scratch"))
    try:
        result = run(args, scratch)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
