"""The benchmark's workloads, their output checks and their traced layer probes.

Every layer is measured from outside ``src/``: spans around calls into each
module's public functions, Spark's event log with one job group per call,
and ``/proc`` of the benchmark process's tree (JVM and Python workers).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Window, functions as F

from webextract import evaluate, runner
from webextract.analysis import (pii_redact_columns, quality_filter_columns,
                                 repetition_keep_expr)
from webextract.dedup import (_band_bucket, _norm_text, best_copy,
                              connected_components, minhash_lsh_pairs,
                              minhash_signatures)
from webextract.extract import decode_html, extract_document, STATUS_OK
from webextract.fasthtml import (FastTokenizerFallback, parse_blocks_fast,
                                 tokenize_into)
from webextract.heuristics import CLASS_BLOCKLIST, select_content
from webextract.htmlblocks import BlockParser
from webextract.pdftext import extract_pdf_pages, is_pdf
from webextract.pipeline import curate
from webextract.sampling import stratified_sample
from webextract.session import get_spark
from webextract.sparkjob import extract_df
from webextract.textnorm import join_blocks

import inputs
from loop import passes
from tracing import Tracer, sample_tree

CORES = len(os.sched_getaffinity(0))
# The Spark driver JVM hosts every executor thread in local mode; 4g leaves most
# of a 15 GB host to the Python workers and the page cache.
DRIVER_MEM = "4g"
MAX_PARTITION_BYTES = 8 << 20
WARM_SETUPS = 3
WARMUP_ROWS = 64
MIN_SAMPLES = 3
WARMUP_S = 2.0
REPLAY_DOCS = 300
REPLAY_PASSES = 3
# The replayed kernel layers must sum to extract_document within this share.
KERNEL_SUM_TOL = 0.10

# extract_scan: ~6 KB html per doc, no domain skew, splittable row groups
EXTRACT_DOCS = 3000
EXTRACT_SCALE = 4
# extract_skew_dlq: ~2.4 KB html per doc, 80% of docs on one domain,
# planted failures (~1.5%)
SKEW_DOCS = 5000
# the traced probes (runner on one workload, curation on the other) run on
# small pages shaped like extract_skew_dlq's
PROBE_DOCS = 500
N_BUCKETS, WAVES = 64, 4
RUN_ID = "bench"
LANG_RATES = {inputs.SAMPLED_LANG: 500}
# Per-layer metric prefixes of the two traced probes. A workload's traced run
# reports 0 for the metrics of the probe it does not run; any other metric
# missing from a run is an error.
RUNNER_PROBE = ("runner.", "evaluate.")
CURATE_PROBE = ("pipeline.", "analysis.", "dedup.", "sampling.")


@dataclass
class Ctx:
    work: str        # benchmark-owned scratch root inside the checkout
    seed: int
    workload: str

    @property
    def cache(self) -> str:
        return os.path.join(self.work, "inputs")

    def out(self, name: str) -> str:
        return os.path.join(self.work, "out", name)


def spark_conf(ctx: Ctx, eventlog_dir: str | None) -> dict:
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.sql.files.maxPartitionBytes": str(MAX_PARTITION_BYTES),
        # no per-file open cost: a small input still splits into one
        # equal share per core instead of fewer, 4 MiB-floored splits
        "spark.sql.files.openCostInBytes": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.eventLog.enabled": str(eventlog_dir is not None).lower(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    if eventlog_dir is not None:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf["spark.eventLog.dir"] = "file://" + eventlog_dir
    return conf


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------

def start_session(ctx: Ctx, warm_pages: str, eventlog_dir: str | None = None):
    """get_spark plus a small extraction job that starts the Python workers:
    (spark, get_spark seconds, warm-up seconds)."""
    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES,
                      extra=spark_conf(ctx, eventlog_dir))
    t1 = time.perf_counter()
    pages = spark.read.parquet(warm_pages).limit(WARMUP_ROWS)
    extract_df(pages, repartition=False).write.format("noop").mode("overwrite").save()
    return spark, t1 - t0, time.perf_counter() - t1


@contextmanager
def untraced(_call: str):
    yield {}


class Workload:
    """One named workload: inputs, one timed operation, its output check."""

    name = ""
    docs = 0           # input rows of one operation
    pages = ""         # the pages parquet; also feeds set-up and kernel replay
    has_final_check = False
    not_probed: tuple[str, ...] = ()   # metric prefixes of the probe not run

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx

    def generate(self) -> None:
        """Input generation (before any session starts)."""

    def warmup(self, spark) -> None:
        """Untimed runs of the operation for WARMUP_S (at least one), so
        timing starts on a warmed JVM."""
        deadline = time.perf_counter() + WARMUP_S
        self.op(spark)
        while time.perf_counter() < deadline:
            self.op(spark)

    def op(self, spark, group=untraced):
        """The timed operation; ``group(call)`` wraps each library call when
        traced (a span plus a Spark job group)."""
        raise NotImplementedError

    def check(self, spark) -> None:
        """Raise if the last operation's output is wrong."""

    def final_check(self, spark) -> None:
        """An extra checked operation after the loop (if has_final_check),
        for operations whose timed form leaves no output to check."""

    def traced(self, spark, tracer: Tracer, group) -> dict:
        """Run the operation traced plus this workload's layer probes.
        Keys starting with "_" are inputs to derived metrics; "_checks" is
        a list of (name, passed)."""
        raise NotImplementedError


def setups(ctx: Ctx, w: Workload, eventlog_dir: str | None = None):
    """One cold set-up, which launches the JVM, then WARM_SETUPS restarts of
    the SparkContext on that JVM; the last session stays up (with the event
    log on, if a dir is given). Each restart redoes get_spark's work and
    starts fresh Python workers. Returns (spark, cold, [warm]), each set-up
    as (get_spark s, warm-up s)."""
    spark, g, wm = start_session(ctx, w.pages)
    cold, warm = (g, wm), []
    for i in range(WARM_SETUPS):
        spark.stop()
        last = i == WARM_SETUPS - 1
        spark, g, wm = start_session(ctx, w.pages,
                                     eventlog_dir if last else None)
        warm.append((g, wm))
    return spark, cold, warm


# ---------------------------------------------------------------------------
# extract_scan
# ---------------------------------------------------------------------------

def _sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def _truth(corpus_dir: str) -> dict[str, str | None]:
    t = pq.read_table(os.path.join(corpus_dir, "truth.parquet"),
                      columns=["url", "expected_text"]).to_pylist()
    return {r["url"]: r["expected_text"] for r in t}


def check_extraction(rows, truth: dict[str, str | None], n_pages: int) -> None:
    """rows: (url, status, sha256(text)). Every ok row's text is the truth;
    the DLQ url set equals the planted failures; no row is lost."""
    if len(rows) != n_pages:
        raise AssertionError(f"{len(rows)} rows out for {n_pages} pages in")
    dlq = set()
    for url, status, sha in rows:
        want = truth[url]
        if status == STATUS_OK:
            if want is None or sha != _sha(want):
                raise AssertionError(f"wrong text for {url}")
        else:
            dlq.add(url)
    planted = {u for u, t in truth.items() if t is None}
    if dlq != planted:
        raise AssertionError(f"DLQ {len(dlq)} urls != planted failures {len(planted)}")


class ExtractScan(Workload):
    name = "extract_scan"
    has_final_check = True  # the timed op writes to the noop sink
    not_probed = RUNNER_PROBE

    def generate(self) -> None:
        self.dir = inputs.pages_corpus(self.ctx.cache, n=EXTRACT_DOCS,
                                       seed=self.ctx.seed, skew=False,
                                       content_scale=EXTRACT_SCALE)
        self.pages = os.path.join(self.dir, "web_pages.parquet")
        self.docs = pq.read_metadata(self.pages).num_rows

    def _extracted(self, spark):
        return extract_df(spark.read.parquet(self.pages), repartition=False)

    def op(self, spark, group=untraced):
        with group("sparkjob.extract_df"):
            self._extracted(spark).write.format("noop").mode("overwrite").save()

    def final_check(self, spark) -> None:
        rows = (self._extracted(spark)
                .select("url", "status", F.sha2("text", 256)).collect())
        check_extraction(rows, _truth(self.dir), self.docs)

    def traced(self, spark, tracer: Tracer, group) -> dict:
        m = traced_op(self, spark, group)
        m["_checks"] = [("extracted text = truth, DLQ = planted failures",
                         passes(lambda: self.final_check(spark)))]
        # curation probe: ok rows of the small skewed pages, extracted here
        d = inputs.pages_corpus(self.ctx.cache, n=PROBE_DOCS, seed=self.ctx.seed,
                                skew=True, content_scale=1)
        ok = extract_df(spark.read.parquet(os.path.join(d, "web_pages.parquet")),
                        repartition=False).filter(F.col("status") == STATUS_OK)
        m.update(curate_probe(self.ctx, spark, ok, group, m["_checks"]))
        return m


class ExtractSkewDLQ(Workload):
    """Small pages, 80% on one domain, with planted failures -> extract_df
    with its salted url-hash repartition -> every row (ok and DLQ) written
    to parquet. Traced, it also runs the resumable-run probe."""

    name = "extract_skew_dlq"
    not_probed = CURATE_PROBE

    def generate(self) -> None:
        self.dir = inputs.pages_corpus(self.ctx.cache, n=SKEW_DOCS,
                                       seed=self.ctx.seed, skew=True,
                                       content_scale=1)
        self.pages = os.path.join(self.dir, "web_pages.parquet")
        self.docs = pq.read_metadata(self.pages).num_rows
        self.truth = _truth(self.dir)
        self.out_path = self.ctx.out("extracted")

    def op(self, spark, group=untraced):
        with group("sparkjob.extract_df"):
            extract_df(spark.read.parquet(self.pages)) \
                .write.mode("overwrite").parquet(self.out_path)

    def check(self, spark) -> None:
        rows = (spark.read.parquet(self.out_path)
                .select("url", "status", F.sha2("text", 256)).collect())
        check_extraction(rows, self.truth, self.docs)

    def traced(self, spark, tracer: Tracer, group) -> dict:
        m = traced_op(self, spark, group)
        m["_checks"] = [("extracted text = truth, DLQ = planted failures",
                         passes(lambda: self.check(spark)))]
        m.update(runner_probe(self.ctx, spark, tracer, group, m["_checks"]))
        return m


def traced_op(w: Workload, spark, group) -> dict:
    """One traced run of the workload's operation, with the Python workers'
    CPU over it from /proc."""
    before = sample_tree()
    t = time.perf_counter()
    w.op(spark, group)
    wall = time.perf_counter() - t
    return {"trace.op_wall_s": wall, "_docs": w.docs,
            "_python_cpu_s": sample_tree().python_cpu_s - before.python_cpu_s}


def runner_probe(ctx: Ctx, spark, tracer: Tracer, group, checks: list) -> dict:
    """The resumable run on small skewed pages with planted failures:
    run_extraction into a fresh root -> reprocess_errors -> evaluate rollup
    written, then a resume after a crash after half the waves."""
    d = inputs.pages_corpus(ctx.cache, n=PROBE_DOCS, seed=ctx.seed, skew=True,
                            content_scale=1)
    pages_path = os.path.join(d, "web_pages.parquet")
    n_pages = pq.read_metadata(pages_path).num_rows
    planted = sum(t is None for t in _truth(d).values())
    root = ctx.out("runs")
    shutil.rmtree(root, ignore_errors=True)
    pages = spark.read.parquet(pages_path)
    m = {}
    # the bucket-partitioned writes, as child spans of run_extraction
    with group("runner.run_extraction"), \
            tracer.around(runner, "_write_by_bucket", f"{ctx.workload}.runner.write_by_bucket"):
        runner.run_extraction(spark, pages, root, RUN_ID,
                              n_buckets=N_BUCKETS, waves=WAVES)
    with group("runner.reprocess_errors"):
        runner.reprocess_errors(spark, pages, root, RUN_ID)
    with group("evaluate.evaluate"):
        _, roll = evaluate.evaluate(runner.load_extracted(spark, root, RUN_ID),
                                    spark.read.parquet(os.path.join(d, "truth.parquet")))
        roll.write.mode("overwrite").parquet(ctx.out("rollup"))
    with group("runner.load_errors"):
        m["runner.dlq_rows"] = runner.load_errors(spark, root, RUN_ID).count()
    m["evaluate.exact_match_mean"] = next(
        r.mean_value for r in spark.read.parquet(ctx.out("rollup")).collect()
        if r.metric_name == "exact_match")
    files = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    m["runner.files_written"] = len(files)
    m["runner.bytes_written_per_input_byte"] = (
        sum(os.path.getsize(f) for f in files) / os.path.getsize(pages_path))
    n_committed = spark.read.parquet(runner.RunPaths(root).extracted(RUN_ID)).count()

    def committed():
        return sorted(tuple(r) for r in runner.load_extracted(
            spark, root, RUN_ID, include_failures=True)
            .select("url", "warc_ts", "status", F.sha2("text", 256)).collect())

    uninterrupted = committed()
    drop_last_waves(root, WAVES, drop=WAVES // 2)
    with group("runner.resume"):
        stats = runner.run_extraction(spark, pages, root, RUN_ID,
                                      n_buckets=N_BUCKETS, waves=WAVES)
    m["runner.resume_pending_buckets"] = stats["pending"]
    dropped = N_BUCKETS * (WAVES // 2) // WAVES
    checks += [
        ("runner: committed rows = input rows", n_committed == n_pages),
        ("runner: DLQ rows = planted failures", m["runner.dlq_rows"] == planted),
        ("runner: exact_match mean = 1", m["evaluate.exact_match_mean"] == 1.0),
        ("runner: resumed output = uninterrupted output", committed() == uninterrupted),
        ("runner: resume re-ran only the dropped waves' buckets",
         (stats["completed_before"], stats["pending"]) == (N_BUCKETS - dropped, dropped)),
    ]
    return m


WORKLOADS = {w.name: w for w in (ExtractScan, ExtractSkewDLQ)}


def drop_last_waves(root: str, waves: int, drop: int) -> None:
    """Leave the lineage a crash after wave ``waves - drop`` leaves: remove
    the rows of the last ``drop`` waves (wave w holds buckets b % waves == w,
    runner.run_extraction's layout for a fresh run)."""
    lin = runner.RunPaths(root).lineage()
    tbl = pq.read_table(lin)
    keep = [b % waves < waves - drop for b in tbl.column("partition_id").to_pylist()]
    tbl = tbl.filter(pa.array(keep))
    shutil.rmtree(lin)
    os.makedirs(lin)
    pq.write_table(tbl, os.path.join(lin, "part-resume.parquet"))


# ---------------------------------------------------------------------------
# curation probe (traced run of extract_scan)
# ---------------------------------------------------------------------------

def gate_col():
    """curate's quality + repetition gates, as one boolean column (curate
    builds them inline, so the replay rebuilds them the same way)."""
    _, _, _, q_keep = quality_filter_columns("text", stop_ratio_denom=None)
    t = F.trim(F.col("text"))
    toks = F.when(F.length(t) == 0, F.array().cast("array<string>")) \
            .otherwise(F.split(t, r"\s+"))
    return q_keep.cast("boolean") & repetition_keep_expr(toks).cast("boolean")


def check_curated(rows, input_sha: dict[str, str], groups: list[list[str]]) -> None:
    """rows: (url, sha256(text), normalized-text hash). One survivor per
    planted group, distinct normalized texts, output ⊆ input."""
    urls = [r[0] for r in rows]
    if len(set(urls)) != len(urls):
        raise AssertionError("duplicate urls in curated output")
    for url, sha, _h in rows:
        if input_sha.get(url) != sha:
            raise AssertionError(f"curated row {url} is not an input row")
    if len({r[2] for r in rows}) != len(rows):
        raise AssertionError("two survivors share a normalized-text hash")
    kept = set(urls)
    for g in groups:
        n = sum(u in kept for u in g)
        if n != 1:
            raise AssertionError(f"{n} survivors in planted group of {g[0]}")


class CountCalls:
    """Counts DataFrame.count() calls while active (a patch from outside)."""

    def __init__(self, spark) -> None:
        self.cls = type(spark.range(1))
        self.n = 0

    def __enter__(self):
        self.orig = self.cls.count
        outer = self

        def counting(df):
            outer.n += 1
            return outer.orig(df)

        self.cls.count = counting
        return self

    def __exit__(self, *exc) -> None:
        self.cls.count = self.orig


def curate_probe(ctx: Ctx, spark, ok, group, checks: list) -> dict:
    """Extracted ok rows plus planted duplicates (≈20% exact copies, ≈10%
    near copies, one hot near cluster of ≈5% of rows) -> pipeline.curate,
    then curate's stages as separate public calls on the same gated input."""
    rows = [r.asDict() for r in ok.select(
        "url", "warc_ts", "lang", "text", "status",
        gate_col().alias("gate_ok")).collect()]
    count = defaultdict(int)
    for r in rows:
        count[r["url"]] += 1
    for r in rows:
        r["eligible"] = inputs.eligible(r, count, r.pop("gate_ok"))
    planted, groups = inputs.plant_duplicates(rows, ctx.seed)
    path = ctx.out("curate_input.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    inputs.write_rows(path, planted)

    m = {}
    counts = CountCalls(spark)
    with counts, group("pipeline.curate"):
        out, _ = curate(spark.read.parquet(path), lang_rates=LANG_RATES)
        out.write.mode("overwrite").parquet(ctx.out("curated"))
        out.unpersist()
    m["pipeline.count_actions"] = counts.n
    got = (spark.read.parquet(ctx.out("curated"))
           .select("url", F.sha2("text", 256), F.xxhash64(_norm_text("text"))).collect())
    input_sha = {r["url"]: _sha(r["text"]) for r in planted}
    checks.append(("curated: one survivor per planted group, output in input",
                   passes(lambda: check_curated(got, input_sha, groups))))

    df = spark.read.parquet(path).filter(F.col("status") == "ok")
    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"), F.desc(F.md5("text")))
    latest = df.withColumn("_rn", F.row_number().over(w)) \
               .filter(F.col("_rn") == 1).drop("_rn")
    with group("analysis.gates"):
        gated = (latest.filter(gate_col())
                 .withColumn("text", pii_redact_columns("text")[1]).persist())
        n_gated = gated.count()
    with group("dedup.best_copy"):
        kept = best_copy(gated).filter(F.col("is_kept") == 1).select("url").persist()
        n_kept = kept.count()
    m["dedup.exact_dup_ratio"] = 1 - n_kept / n_gated
    survivors = gated.join(kept, "url", "left_semi").persist()
    survivors.count()
    with group("dedup.minhash_lsh_pairs"):
        pairs = minhash_lsh_pairs(survivors, n=2).persist()
        n_pairs = pairs.count()
    cand = minhash_lsh_pairs(survivors, n=2, verify_tau=None).count()
    m["dedup.lsh_candidates"] = cand
    m["dedup.lsh_verified_ratio"] = n_pairs / cand if cand else 1.0
    # the largest LSH band bucket, with minhash_lsh_pairs' defaults
    # (64 permutations, 16 bands)
    sig = minhash_signatures(survivors, n=2)
    bands = [_band_bucket("xxhash64", b, [F.col("sig")[b * 4 + r] for r in range(4)])
             for b in range(16)]
    m["dedup.max_band_bucket_rows"] = (
        sig.select(F.explode(F.array(*bands)).alias("bucket"))
        .groupBy("bucket").count().agg(F.max("count")).first()[0])
    with group("dedup.connected_components"):
        hp = pairs.select(F.xxhash64("id_a").alias("id_a"),
                          F.xxhash64("id_b").alias("id_b"))
        connected_components(
            hp, vertices=survivors.select(F.xxhash64("url").alias("hid")),
            id_col="hid").count()
    with group("sampling.stratified_sample"):
        stratified_sample(survivors, key_col="url", strata_col="lang",
                          rates=LANG_RATES, bucket_out=None).count()
    for df in (gated, kept, survivors, pairs):
        df.unpersist()
    return m


def kernel_replay(pages_path: str) -> dict:
    """Single-thread, in-process replay of extract_document's public calls
    over a fixed sample, interleaved per doc with extract_document itself
    after one warm-up pass. Times are medians over passes, per sample doc."""
    raws = [bytes(x) if x else b"" for x in
            pq.read_table(pages_path, columns=["html"]).column("html")
            .slice(0, REPLAY_DOCS).to_pylist()]
    ns = time.perf_counter_ns
    counts = defaultdict(int)

    def children(raw: bytes, acc) -> None:
        if not raw:
            return
        if is_pdf(raw):
            t = ns()
            pages = extract_pdf_pages(raw)
            acc["pdftext.pages"] += ns() - t
            t = ns()
            join_blocks([p for page in pages for p in page])
            acc["textnorm.join"] += ns() - t
            return
        t = ns()
        try:
            html = decode_html(raw)
        except (UnicodeDecodeError, ValueError):
            acc["extract.decode"] += ns() - t
            return
        acc["extract.decode"] += ns() - t
        if "<" not in html:
            return
        t = ns()
        blocks = parse_blocks_fast(html, CLASS_BLOCKLIST)
        acc["fasthtml.parse"] += ns() - t
        t = ns()
        content = select_content(blocks)
        acc["heuristics.select"] += ns() - t
        t = ns()
        join_blocks([x for (_k, x) in content])
        acc["textnorm.join"] += ns() - t
        counts["html"] += 1
        counts["blocks"] += len(blocks)
        counts["kept"] += len(content)
        try:
            tokenize_into(BlockParser(CLASS_BLOCKLIST), html)
        except FastTokenizerFallback:
            counts["fallback"] += 1

    for raw in raws:  # warm-up pass; it also takes the counts
        counts["ok"] += extract_document(raw).status == STATUS_OK
        children(raw, defaultdict(int))
    runs = []
    for _ in range(REPLAY_PASSES):
        acc = defaultdict(int)
        cpu = 0
        for raw in raws:
            t, c = ns(), time.process_time_ns()
            extract_document(raw)
            cpu += time.process_time_ns() - c
            acc["extract.extract_document"] += ns() - t
            children(raw, acc)
        acc["_cpu"] = cpu
        runs.append(acc)
    n = len(raws)
    keys = ["extract.extract_document", "extract.decode", "fasthtml.parse",
            "heuristics.select", "textnorm.join", "pdftext.pages"]
    us = {k: statistics.median(p[k] for p in runs) / n / 1e3 for k in keys}
    child = sum(us[k] for k in keys[1:])
    m = {f"{k}_us_per_doc": v for k, v in us.items()}
    m["extract.self_us_per_doc"] = us["extract.extract_document"] - child
    m["extract.children_ratio"] = child / us["extract.extract_document"]
    m["extract.ok_ratio"] = counts["ok"] / n
    m["fasthtml.fallback_ratio"] = counts["fallback"] / max(counts["html"], 1)
    m["fasthtml.blocks_per_doc"] = counts["blocks"] / max(counts["html"], 1)
    m["heuristics.kept_block_ratio"] = counts["kept"] / max(counts["blocks"], 1)
    m["_kernel_cpu_s_per_doc"] = statistics.median(p["_cpu"] for p in runs) / n / 1e9
    return m


def make_group(spark, tracer: Tracer, workload: str):
    """``group(call)``: a span and a Spark job group, both named
    ``<workload>.<call>``, around one library call."""
    sc = spark.sparkContext

    @contextmanager
    def group(call: str):
        name = f"{workload}.{call}"
        sc.setJobGroup(name, name)
        try:
            with tracer.span(name) as s:
                yield s
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    return group
