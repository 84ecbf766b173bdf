"""Registry entries whose oracle reads LANDED parquet.

The extraction, streaming, WARC, JSONL, media and curation operators run
Python seams (or whole jobs) that no SQL engine can replay. Each entry
below therefore lands the operator's input and/or committed output under
a fixed temp-dir root, and its DuckDB oracle re-derives the same result
from the same files: the seam itself stays pytest-gated (byte identity),
while the job's committed output, its metric derivation and its
exactly-once/dedup invariants are value-checked by an independent engine.

The roots are deliberately stable (the oracle SQL is a static string that
must name the files the Spark half wrote) and wiped per call. SINGLE-RUN
ASSUMPTION: two concurrent harness processes on one machine would clobber
each other's landed inputs; every harness runs the registry sequentially
in one process.

Imported at the end of :mod:`webextract.queries`, which makes these entries
part of its one registry.
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries import (_md5h_sql, _mh_pair_ctes, _PII_EMAIL, _PII_PHONE,
                      _rep_gram_sql, _TOK_COUNT_SQL, register)

CORPUS_BASE_DOCS = 60_000  # docs at sf=1.0; sf0.01 → 600 docs


def sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir or "")
    return float(m.group(1)) if m else 0.001


def corpus_df(spark: SparkSession, n_docs: int, seed: int = 42):
    """Synthesize the web_pages + truth tables (deterministic), memoized to
    parquet so repeated queries in one driver session share the scan."""
    from .corpus import CORPUS_VERSION, write_corpus_parquet

    d = os.path.join(tempfile.gettempdir(),
                     f"webextract_entry_v{CORPUS_VERSION}_{n_docs}_{seed}")
    marker = os.path.join(d, "_DONE")
    if not os.path.exists(marker):
        write_corpus_parquet(d, n_docs, seed=seed)
        open(marker, "w").close()
    return (spark.read.parquet(os.path.join(d, "web_pages.parquet")),
            spark.read.parquet(os.path.join(d, "truth.parquet")))


def _n_docs(sf_dir: str, cap: int | None = None) -> int:
    n = max(60, int(CORPUS_BASE_DOCS * sf_of(sf_dir)))
    return n if cap is None else min(cap, n)


def _scaled_corpus(spark: SparkSession, sf_dir: str, cap: int | None = None):
    return corpus_df(spark, _n_docs(sf_dir, cap))


def _land(name: str) -> str:
    return os.path.join(tempfile.gettempdir(), f"webextract_{name}")


# --------------------------------------------------------------------------
# extraction-engine outputs. The q90/q91 extraction runs with
# repartition=False: the corpus is one splittable parquet file, so the scan
# splits (sized by spark.sql.files.maxPartitionBytes) bound per-task bytes
# and the fused extract stage starts on every core. That holds only while
# maxPartitionBytes is small next to the corpus file (bench_extra pins
# 8 MiB); under the 128 MiB session default a large corpus scans in one or
# two tasks. Rows are identical either way.
# --------------------------------------------------------------------------

_Q90_LAND = _land("q90_land")

_Q90_ORACLE_SQL = f"""
SELECT status, content_type, COUNT(*) AS n_docs,
       CAST(SUM(strlen(coalesce(text, ''))) AS BIGINT) AS total_text_bytes,
       COUNT(DISTINCT md5(coalesce(text, ''))) AS n_distinct_texts,
       CAST(SUM(n_blocks) AS BIGINT) AS total_blocks
FROM read_parquet('{_Q90_LAND}/extracted/*.parquet')
GROUP BY 1, 2
"""


@register(
    "q90_extract_corpus",
    _Q90_ORACLE_SQL,
    doc="extraction corpus profile, oracle-checked by invariant: the "
        "extraction output is landed to parquet and both engines aggregate "
        "the SAME files — per-(status, content_type) counts, text byte "
        "volume, distinct-md5-of-text cardinality and block totals. The "
        "parse itself stays pytest-gated (byte identity).",
)
def q90(spark, sf_dir):
    from .sparkjob import extract_df

    pages, _ = _scaled_corpus(spark, sf_dir)
    ex = extract_df(pages, repartition=False)
    (ex.select("url", "status", "content_type", "n_blocks", "text")
     .write.mode("overwrite").parquet(os.path.join(_Q90_LAND, "extracted")))
    landed = spark.read.parquet(os.path.join(_Q90_LAND, "extracted"))
    return (
        landed.groupBy("status", "content_type")
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.octet_length(F.coalesce("text", F.lit(""))))
              .alias("total_text_bytes"),
             F.count_distinct(F.md5(F.coalesce("text", F.lit(""))))
              .alias("n_distinct_texts"),
             F.sum("n_blocks").alias("total_blocks"))
    )


_Q91_LAND = _land("q91_land")

# Oracle twin of evaluate(metrics=[exact_match, len_ratio_ok,
# span_count_match]) + rollup (webextract/evaluate.py): similarity (difflib,
# genuinely Python) is excluded via the metrics= selection; the remaining
# metrics are pure SQL. Values are 0/1 doubles (or NULL for planted-failure
# rows with no ground truth), so AVG is exact under any aggregation order.
_Q91_ORACLE_SQL = f"""
WITH j AS (
  SELECT e.url, e.text, e.spans, t.expected_text, t.expected_spans
  FROM read_parquet('{_Q91_LAND}/extracted/*.parquet') e
  JOIN read_parquet('{_Q91_LAND}/truth/*.parquet') t USING (url)
), wide AS (
  SELECT url,
    CASE WHEN expected_text IS NULL THEN NULL
         ELSE CAST(text = expected_text AS DOUBLE) END AS exact_match,
    CASE WHEN expected_text IS NULL THEN NULL
         WHEN length(expected_text) = 0 THEN CAST(length(text) = 0 AS DOUBLE)
         ELSE CAST(abs(length(text) - length(expected_text))
                   <= length(expected_text) * 0.02 AS DOUBLE)
         END AS len_ratio_ok,
    CASE WHEN expected_text IS NULL THEN NULL
         ELSE CAST(len(spans) = coalesce(len(expected_spans), 0) AS DOUBLE)
         END AS span_count_match
  FROM j
), long AS (
  SELECT 'exact_match' AS metric_name, exact_match AS value FROM wide
  UNION ALL SELECT 'len_ratio_ok', len_ratio_ok FROM wide
  UNION ALL SELECT 'span_count_match', span_count_match FROM wide
)
SELECT metric_name,
       CAST(AVG(value) AS DOUBLE) AS mean_value,
       CAST(MIN(value) AS DOUBLE) AS min_value,
       CAST(MAX(value) AS DOUBLE) AS max_value,
       COUNT(value) AS n_docs
FROM long GROUP BY metric_name
"""


@register(
    "q91_extract_eval_rollup",
    _Q91_ORACLE_SQL,
    doc="extraction → evaluation rollup: the ok rows and the truth table "
        "are landed to parquet, read back, and both engines compute the "
        "join + per-doc metrics + mean/min/max rollup over those same "
        "files. ``similarity`` (difflib) stays pytest-only.",
)
def q91(spark, sf_dir):
    from .evaluate import evaluate
    from .sparkjob import extract_df

    pages, truth = _scaled_corpus(spark, sf_dir)
    extracted = extract_df(pages, repartition=False).filter(F.col("status") == "ok")
    (extracted.select("url", "text", "spans", "status")
     .write.mode("overwrite").parquet(os.path.join(_Q91_LAND, "extracted")))
    (truth.select("url", "expected_text", "expected_spans")
     .write.mode("overwrite").parquet(os.path.join(_Q91_LAND, "truth")))
    ex2 = spark.read.parquet(os.path.join(_Q91_LAND, "extracted"))
    tr2 = spark.read.parquet(os.path.join(_Q91_LAND, "truth"))
    _long, summary = evaluate(
        ex2, tr2, metrics=["exact_match", "len_ratio_ok", "span_count_match"])
    return summary


# q94/q93/q95 run their jobs into FIXED roots (wiped per call) so DuckDB can
# independently re-derive each summary from the committed files: the
# extraction/streaming computation itself is pytest-gated (byte identity),
# but the metrics DERIVATION, the sink's exactly-once commit, and the dedup
# invariant are all SQL-checkable over the landed parquet.
_Q94_ROOT = _land("q94_run")

# independent derivation: the Spark side aggregates the runner's METRICS
# table; the oracle recomputes the same numbers from the raw committed
# extracted rows — they agree iff the per-bucket metric derivation
# (runner.run_extraction) is correct
_Q94_ORACLE_SQL = f"""
SELECT 'driver-run' AS run_id,
       COUNT(*) AS docs_processed,
       CAST(SUM(CASE WHEN status = 'ok' THEN strlen(text) ELSE 0 END)
            AS BIGINT) AS bytes_extracted,
       CAST(SUM(CASE WHEN status != 'ok' THEN 1 ELSE 0 END) AS BIGINT)
         AS parse_failures,
       COUNT(DISTINCT partition_id) AS n_partitions
FROM read_parquet('{_Q94_ROOT}/extracted/run_id=driver-run/*/*.parquet',
                  hive_partitioning = true)
"""


@register(
    "q94_resume_metrics",
    _Q94_ORACLE_SQL,
    doc="resumable runner end-to-end: run → metrics table (FIXTURES.md §4); "
        "DuckDB re-derives the summary from the committed extracted rows "
        "while Spark aggregates the runner's metrics table.",
)
def q94(spark, sf_dir):
    import shutil

    from .runner import load_metrics, run_extraction

    pages, _ = _scaled_corpus(spark, sf_dir)
    shutil.rmtree(_Q94_ROOT, ignore_errors=True)
    run_extraction(spark, pages, _Q94_ROOT, "driver-run", n_buckets=8, waves=2)
    m = load_metrics(spark, _Q94_ROOT, "driver-run")
    return (
        m.groupBy("run_id")
        .agg(F.sum("docs_processed").alias("docs_processed"),
             F.sum("bytes_extracted").alias("bytes_extracted"),
             F.sum("parse_failures").alias("parse_failures"),
             F.count("*").alias("n_partitions"))
    )


_Q93_BASE = _land("q93_run")

# the oracle re-aggregates the streaming sink's committed files — checking
# that exactly-once commit + the groupBy agree with an independent engine
_Q93_ORACLE_SQL = f"""
SELECT status, COUNT(*) AS n_docs,
       CAST(SUM(strlen(text)) AS BIGINT) AS bytes_extracted
FROM read_parquet('{_Q93_BASE}/out/*.parquet')
GROUP BY status
"""


@register(
    "q93_stream_extract",
    _Q93_ORACLE_SQL,
    doc="streaming twin: land corpus → availableNow stream → extracted "
        "counts, oracle-checked over the sink's committed parquet.",
)
def q93(spark, sf_dir):
    import shutil

    from .corpus import write_corpus_parquet
    from .streaming import start_extraction_stream

    shutil.rmtree(_Q93_BASE, ignore_errors=True)
    land = os.path.join(_Q93_BASE, "landing")
    os.makedirs(land)
    write_corpus_parquet(land, _n_docs(sf_dir, cap=600), seed=42)
    os.remove(os.path.join(land, "truth.parquet"))
    q = start_extraction_stream(spark, land, os.path.join(_Q93_BASE, "out"),
                                os.path.join(_Q93_BASE, "ckpt"),
                                available_now=True)
    q.awaitTermination(300)
    out = spark.read.parquet(os.path.join(_Q93_BASE, "out"))
    return (
        out.groupBy("status")
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.octet_length("text")).alias("bytes_extracted"))
    )


_Q95_BASE = _land("q95_run")

# the oracle recomputes the dedup INVARIANT from the sink's committed files:
# rows == distinct fingerprints (no content emitted twice, across batches
# AND across the mid-stream restart)
_Q95_ORACLE_SQL = f"""
SELECT COUNT(*) AS n_unique,
       COUNT(DISTINCT content_key) AS n_keys
FROM read_parquet('{_Q95_BASE}/out/*.parquet')
"""


@register(
    "q95_stream_dedup",
    _Q95_ORACLE_SQL,
    doc="stateful streaming dedup (applyInPandasWithState): the corpus lands "
        "in two batches with cross-batch duplicates; the first "
        "content-fingerprint occurrence wins and state survives the "
        "between-batch restart. The dedup invariant (rows == distinct "
        "fingerprints) is oracle-checked over the sink's committed parquet.",
)
def q95(spark, sf_dir):
    import shutil

    from .corpus import write_corpus_parquet
    from .streaming import start_dedup_stream

    n = _n_docs(sf_dir, cap=600)
    shutil.rmtree(_Q95_BASE, ignore_errors=True)
    land = os.path.join(_Q95_BASE, "landing")
    tmp = os.path.join(_Q95_BASE, "gen")
    write_corpus_parquet(tmp, n, seed=42)
    pages = spark.read.parquet(os.path.join(tmp, "web_pages.parquet"))
    half = pages.limit(n // 2)
    os.makedirs(land, exist_ok=True)
    half.write.parquet(os.path.join(land, "b1"))
    out, ckpt = os.path.join(_Q95_BASE, "out"), os.path.join(_Q95_BASE, "ckpt")
    q = start_dedup_stream(spark, land, out, ckpt, available_now=True)
    q.awaitTermination(300)
    # second landing re-delivers batch 1 (all duplicates) + the rest
    pages.write.parquet(os.path.join(land, "b2"))
    q2 = start_dedup_stream(spark, land, out, ckpt, available_now=True)
    q2.awaitTermination(300)
    res = spark.read.parquet(out)
    return res.agg(F.count("*").alias("n_unique"),
                   F.count_distinct("content_key").alias("n_keys"))


# --------------------------------------------------------------------------
# multimodal: a deterministic synthetic blob table (one magic-byte prefix
# per media type, plus unknown) landed for both engines
# --------------------------------------------------------------------------

# q36 lands the synthetic blob table so the DuckDB oracle can re-derive the
# magic-byte classification over the SAME bytes; the CASE order mirrors
# multimodal.MAGIC's precedence (dict order wins).
_Q36_LAND = _land("q36_land")

_Q36_ORACLE_SQL = f"""
SELECT CASE
         WHEN substr(hex(blob), 1, 16) = '89504E470D0A1A0A' THEN 'image/png'
         WHEN substr(hex(blob), 1, 6) = 'FFD8FF' THEN 'image/jpeg'
         WHEN substr(hex(blob), 1, 8) = '52494646' THEN 'audio/wav'
         WHEN substr(hex(blob), 1, 8) = '1A45DFA3' THEN 'video/webm'
         WHEN substr(hex(blob), 1, 6) = '494433' THEN 'audio/mp3'
         ELSE 'unknown' END AS media_type,
       COUNT(*) AS n,
       CAST(SUM(octet_length(blob)) AS BIGINT) AS total_bytes
FROM read_parquet('{_Q36_LAND}/blobs/*.parquet')
GROUP BY 1
"""


def media_blob_rows(n: int) -> list:
    import hashlib

    rows = []
    for i in range(n):
        h = hashlib.blake2b(f"media{i}".encode(), digest_size=24).digest()
        magic = [b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff", b"RIFF" + h[:4] + b"WAVE",
                 b"\x1aE\xdf\xa3", b""][i % 5]
        rows.append((f"m{i:05d}", magic + h))
    return rows


def _blob_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = max(50, min(2000, int(10_000 * sf_of(sf_dir))))
    return spark.createDataFrame(media_blob_rows(n), "media_id string, blob binary")


@register(
    "q36_media_type_profile",
    _Q36_ORACLE_SQL,
    doc="multimodal ingest profile: the JVM magic-byte sniff "
        "(multimodal.probe_media — zero Python) classified per media type "
        "with counts + byte volume, over a landed blob table both engines "
        "read.",
)
def q36(spark, sf_dir):
    from .multimodal import probe_media

    _blob_df(spark, sf_dir).write.mode("overwrite").parquet(
        os.path.join(_Q36_LAND, "blobs"))
    landed = spark.read.parquet(os.path.join(_Q36_LAND, "blobs"))
    return (
        probe_media(landed)
        .groupBy("media_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.octet_length("blob")).alias("total_bytes"))
    )


# q92 lands the FEATURE OUTPUT (the q90 invariant-oracle trick): the fake
# decoder is a named Python seam no SQL engine can replay, but its committed
# output is just parquet — both engines aggregate the SAME landed files, so
# the oracle pins that the shipped mapInPandas job's output (dims, durations,
# feature vectors, per-row statuses) survives a round-trip to an independent
# reader. Float columns are pinned exactly via fixed-point casts (ms / 1e-6)
# — the landed doubles are 3- and 6-decimal constructions, so the scaled
# values sit far from any .5 rounding boundary in either engine.
_Q92_LAND = _land("q92_land")

_Q92_ORACLE_SQL = f"""
SELECT media_type, status, COUNT(*) AS n,
       CAST(SUM(COALESCE(width, 0)) AS BIGINT) AS sum_width,
       CAST(SUM(COALESCE(height, 0)) AS BIGINT) AS sum_height,
       CAST(SUM(CAST(ROUND(COALESCE(duration_sec, 0) * 1000) AS BIGINT))
            AS BIGINT) AS sum_dur_ms,
       COUNT(features) AS n_feat,
       CAST(SUM(CASE WHEN features IS NOT NULL
                THEN CAST(ROUND(list_sum(features) * 1000000) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS sum_feat_micro
FROM read_parquet('{_Q92_LAND}/features/*.parquet')
GROUP BY 1, 2
"""


@register(
    "q92_media_features",
    _Q92_ORACLE_SQL,
    doc="multimodal plumbing: deterministic fake blobs → probe + features, "
        "landed to parquet and oracle-checked by invariant over the landed "
        "files (per-(type, status) counts, exact dimension sums, fixed-point "
        "duration and feature-vector mass). The decode itself stays a "
        "documented seam (multimodal.FakeDecoder shadows the named "
        "real-codec dependency).",
)
def q92(spark, sf_dir):
    from .multimodal import media_features

    (media_features(_blob_df(spark, sf_dir))
     .write.mode("overwrite").parquet(os.path.join(_Q92_LAND, "features")))
    landed = spark.read.parquet(os.path.join(_Q92_LAND, "features"))
    feat_sum = F.aggregate("features", F.lit(0.0), lambda a, x: a + x)
    return (
        landed.groupBy("media_type", "status")
        .agg(F.count("*").alias("n"),
             F.sum(F.coalesce("width", F.lit(0))).cast("long")
              .alias("sum_width"),
             F.sum(F.coalesce("height", F.lit(0))).cast("long")
              .alias("sum_height"),
             F.sum(F.round(F.coalesce("duration_sec", F.lit(0.0)) * 1000)
                    .cast("long")).cast("long").alias("sum_dur_ms"),
             F.count("features").alias("n_feat"),
             F.sum(F.when(F.col("features").isNotNull(),
                          F.round(feat_sum * 1000000).cast("long"))
                    .otherwise(F.lit(0))).cast("long")
              .alias("sum_feat_micro"))
    )


# --------------------------------------------------------------------------
# source/sink round trips over the landed corpus
# --------------------------------------------------------------------------

# q55 lands the corpus url column, synthesizes a MESSY variant of each url
# with the SAME expression in both engines (uppercased scheme, tracking
# params, fragments), and both canonicalize — checking urlnorm.canonical_url
# byte-for-byte against an independent reimplementation
_Q55_LAND = _land("q55_land")

_Q55_MESSY_SQL = ("'HTTPS://' || substr(url, 9) || "
                  "CASE WHEN length(url) % 2 = 0 "
                  "THEN '?b=2&utm_source=x&a=1#f' ELSE '#frag' END")

_Q55_ORACLE_SQL = f"""
WITH landed AS (
  SELECT url, {_Q55_MESSY_SQL} AS messy
  FROM read_parquet('{_Q55_LAND}/urls/*.parquet')
), parts AS (
  SELECT url, messy,
    lower(regexp_extract(messy, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
    lower(regexp_extract(messy,
          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host0,
    regexp_extract(messy,
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
    regexp_extract(regexp_replace(messy, '#.*', ''), '\\?([^#]*)', 1) AS q
  FROM landed
), norm AS (
  SELECT url, messy, sch,
    CASE WHEN sch = 'http' AND host0 LIKE '%:80'
           THEN regexp_replace(host0, ':80$', '')
         WHEN sch = 'https' AND host0 LIKE '%:443'
           THEN regexp_replace(host0, ':443$', '')
         ELSE host0 END AS host,
    CASE WHEN length(path0) = 0 THEN '/' ELSE path0 END AS path,
    array_to_string(list_sort(list_filter(string_split(q, '&'),
      p -> length(p) > 0
           AND NOT starts_with(lower(split_part(p, '=', 1)), 'utm_')
           AND lower(split_part(p, '=', 1)) NOT IN ('fbclid', 'gclid'))),
      '&') AS qs
  FROM parts
)
SELECT url, messy,
       sch || '://' || host || path ||
       CASE WHEN length(qs) > 0 THEN '?' || qs ELSE '' END AS canonical_url
FROM norm
"""


@register(
    "q55_url_canonicalization",
    _Q55_ORACLE_SQL,
    doc="URL canonicalization (urlnorm.canonical_url) over landed corpus "
        "urls, messied identically in both engines — the crawl-identity key "
        "normalization, oracle-checked byte-for-byte.",
)
def q55(spark, sf_dir):
    import shutil

    from .urlnorm import canonical_url

    pages, _ = _scaled_corpus(spark, sf_dir, cap=800)
    shutil.rmtree(_Q55_LAND, ignore_errors=True)
    (pages.select("url").distinct()
          .write.mode("overwrite").parquet(os.path.join(_Q55_LAND, "urls")))
    landed = spark.read.parquet(os.path.join(_Q55_LAND, "urls"))
    messy = F.concat(
        F.lit("HTTPS://"), F.expr("substr(url, 9)"),
        F.when(F.length("url") % 2 == 0,
               F.lit("?b=2&utm_source=x&a=1#f")).otherwise(F.lit("#frag")))
    return landed.select(
        "url", messy.alias("messy"),
        canonical_url(messy).alias("canonical_url"))


# q57: WARC source roundtrip — corpus pages → write_warc fixture archives →
# read_warc → per-record digest; DuckDB recomputes the digest from the
# ORIGINAL landed pages parquet, so any corruption in WARC record framing,
# HTTP-header stripping, date parsing, or payload slicing breaks parity
# (the reference's Reader/FileLister source contract,
# ``base/reader/base_reader.py:51-64``).
_Q57_LAND = _land("q57_land")
_Q57_ARCHIVES = 4

_Q57_ORACLE_SQL = f"""
SELECT url,
       strftime(warc_ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       md5(hex(html)) AS html_md5,
       CAST(octet_length(html) AS BIGINT) AS html_bytes
FROM read_parquet('{_Q57_LAND}/pages/*.parquet')
"""


@register(
    "q57_warc_roundtrip",
    _Q57_ORACLE_SQL,
    doc="WARC source (warc.read_warc) end-to-end: the digest of every record "
        "that came THROUGH the archive must equal the digest DuckDB "
        "computes from the original pages parquet.",
)
def q57(spark, sf_dir):
    import shutil

    from .warc import read_warc, write_warc

    pages, _ = _scaled_corpus(spark, sf_dir, cap=800)
    src = pages.filter(F.col("html").isNotNull()) \
               .select("url", "warc_ts", "html")
    shutil.rmtree(_Q57_LAND, ignore_errors=True)
    src.write.mode("overwrite").parquet(os.path.join(_Q57_LAND, "pages"))
    # fixture writer runs on the driver (fixture-scale corpus only); rows
    # spread deterministically over several archives so the binaryFile scan
    # has >1 task
    rows = sorted(
        spark.read.parquet(os.path.join(_Q57_LAND, "pages")).collect(),
        key=lambda r: (r["url"], r["warc_ts"]))
    wdir = os.path.join(_Q57_LAND, "warc")
    os.makedirs(wdir, exist_ok=True)
    for k in range(_Q57_ARCHIVES):
        write_warc(
            os.path.join(wdir, f"part-{k}.warc.gz"),
            [(r["url"], r["warc_ts"], bytes(r["html"]))
             for i, r in enumerate(rows) if i % _Q57_ARCHIVES == k])
    parsed = read_warc(spark, wdir)
    return parsed.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.md5(F.hex("html")).alias("html_md5"),
        F.length("html").cast("long").alias("html_bytes"))


# q59: JSONL sink/source + parquet compaction roundtrip — pages → write_jsonl
# → read_jsonl → many small parquet files → compact_parquet → digest; DuckDB
# recomputes the digest from the ORIGINAL landed pages parquet. Any loss in
# the base64 html hop, the pinned-schema JSON read, or the compaction
# rewrite breaks parity.
_Q59_LAND = _land("q59_land")

_Q59_DIGEST_SQL = """
SELECT url,
       strftime(warc_ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       coalesce(md5(hex(html)), '') AS html_md5,
       coalesce(md5(text), '') AS text_md5,
       lang
FROM read_parquet('{src}/*.parquet')
"""

_Q59_ORACLE_SQL = _Q59_DIGEST_SQL.format(src=f"{_Q59_LAND}/pages")


@register(
    "q59_jsonl_compact_roundtrip",
    _Q59_ORACLE_SQL,
    doc="JSONL interchange + small-file compaction (jsonl, "
        "tableio.compact_parquet): the post-compaction table's per-row "
        "digest must equal the original's.",
)
def q59(spark, sf_dir):
    import shutil

    from .jsonl import read_jsonl, write_jsonl
    from .tableio import compact_parquet

    pages, _ = _scaled_corpus(spark, sf_dir, cap=800)
    shutil.rmtree(_Q59_LAND, ignore_errors=True)
    pages.write.mode("overwrite").parquet(os.path.join(_Q59_LAND, "pages"))
    landed = spark.read.parquet(os.path.join(_Q59_LAND, "pages"))
    write_jsonl(landed, os.path.join(_Q59_LAND, "jsonl"))
    back = read_jsonl(spark, os.path.join(_Q59_LAND, "jsonl"))
    small = os.path.join(_Q59_LAND, "small")
    back.repartition(12).write.mode("overwrite").parquet(small)
    stats = compact_parquet(spark, small, target_mb=128)
    assert stats["files_after"] < stats["files_before"], stats
    final = spark.read.parquet(small)
    return final.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.coalesce(F.md5(F.hex("html")), F.lit("")).alias("html_md5"),
        F.coalesce(F.md5("text"), F.lit("")).alias("text_md5"),
        "lang")


# --------------------------------------------------------------------------
# q58: the COMPOSED curation pipeline (pipeline.curate), oracle-checked
# end-to-end: the extracted ok-rows are landed once, curate runs over the
# landed table, and DuckDB re-derives EVERY stage count from the same
# parquet — latest-crawl window, quality+repetition gates, PII scrub,
# best-copy exact dedup, MinHash-LSH near-dup clusters (recursive-CTE
# connected components + best-copy representative), and the language-
# stratified sample. One mismatch in any stage's semantics shifts a count.
# --------------------------------------------------------------------------

_Q58_LAND = _land("q58_land")
_Q58_RATES = {"en": 400}
_Q58_DEFAULT_PERMILLE = 900
_Q58_QF = dict(min_tokens=5, max_tokens=100_000, min_mwl=2, max_mwl=12,
               stop_ratio_denom=None)


def _q58_oracle_sql() -> str:
    def norm(c: str) -> str:
        return f"lower(trim(regexp_replace({c}, '\\s+', ' ', 'g')))"

    red = (f"regexp_replace(regexp_replace(text, '{_PII_EMAIL}', "
           f"'<EMAIL>', 'g'), '{_PII_PHONE}', '<PHONE>', 'g')")
    qf = _Q58_QF
    rate_case = (f"CASE lang WHEN 'en' THEN {_Q58_RATES['en']} "
                 f"ELSE {_Q58_DEFAULT_PERMILLE} END")
    return f"""
WITH RECURSIVE
inp AS (
  SELECT url, warc_ts, text, lang
  FROM read_parquet('{_Q58_LAND}/input/*.parquet')
),
latest AS (
  SELECT url, text, lang FROM (
    SELECT url, text, lang,
           row_number() OVER (PARTITION BY url
                              ORDER BY warc_ts DESC, md5(text) DESC) AS rn
    FROM inp) WHERE rn = 1
),
gsig AS (
  SELECT url, lang, text,
         CAST({_TOK_COUNT_SQL.format(c='text')} AS BIGINT) AS n_tokens,
         CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT)
           AS n_nonspace,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\\s+') END AS t
  FROM latest
),
g3sig AS (SELECT *, {_rep_gram_sql(3)} AS g3 FROM gsig),
gated AS (
  SELECT url, lang, {red} AS text
  FROM g3sig
  WHERE n_tokens >= {qf['min_tokens']} AND n_tokens <= {qf['max_tokens']}
    AND {qf['min_mwl']} * n_tokens <= n_nonspace
    AND n_nonspace <= {qf['max_mwl']} * n_tokens
    AND (len(g3) <= 0
         OR (len(g3) - len(list_distinct(g3))) * 10 <= 3 * len(g3))
),
hashed AS (
  SELECT url, lang, text, {_md5h_sql(norm('text'))} AS h FROM gated
),
exact AS (
  SELECT url, lang, text FROM (
    SELECT url, lang, text,
           row_number() OVER (PARTITION BY h ORDER BY url) AS rn
    FROM hashed) WHERE rn = 1
),
{_mh_pair_ctes('exact', 'url')},
pairs AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.8),
sym AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(id, r) AS (
  SELECT url, url FROM exact
  UNION
  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id
),
assign AS (SELECT id AS url, MIN(r) AS cluster_id FROM reach GROUP BY id),
qual AS (
  SELECT e.url, e.lang, a.cluster_id, length({norm('e.text')}) AS q
  FROM exact e JOIN assign a USING (url)
),
reps AS (
  SELECT url, lang FROM (
    SELECT url, lang,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY q DESC, url) AS rn
    FROM qual) WHERE rn = 1
),
sampled AS (
  SELECT url FROM reps
  WHERE ({_md5h_sql('url')}) % 1000 < {rate_case}
)
SELECT 'input' AS stage, (SELECT COUNT(*) FROM inp) AS n
UNION ALL SELECT 'after_latest_crawl', (SELECT COUNT(*) FROM latest)
UNION ALL SELECT 'after_gates', (SELECT COUNT(*) FROM gated)
UNION ALL SELECT 'after_exact_dedup', (SELECT COUNT(*) FROM exact)
UNION ALL SELECT 'after_near_dedup', (SELECT COUNT(*) FROM reps)
UNION ALL SELECT 'final', (SELECT COUNT(*) FROM sampled)
"""


def _land_ok_extraction(spark: SparkSession, sf_dir: str, root: str,
                        cols: list[str]) -> DataFrame:
    """Extract the scaled corpus, land the ok rows' ``cols`` under
    ``root/input`` (wiped first) and return the landed table."""
    import shutil

    from .sparkjob import extract_df, split_errors

    pages, _ = _scaled_corpus(spark, sf_dir, cap=800)
    ok, _ = split_errors(extract_df(pages, repartition=False))
    shutil.rmtree(root, ignore_errors=True)
    ok.select(*cols).write.mode("overwrite").parquet(os.path.join(root, "input"))
    return spark.read.parquet(os.path.join(root, "input"))


@register(
    "q58_curate_pipeline",
    _q58_oracle_sql(),
    doc="composed curation recipe (pipeline.curate) with every stage count "
        "re-derived by the DuckDB oracle from the landed extraction output.",
)
def q58(spark, sf_dir):
    from .pipeline import curate

    inp = _land_ok_extraction(spark, sf_dir, _Q58_LAND,
                              ["url", "warc_ts", "text", "lang"])
    out, report = curate(inp, lang_rates=_Q58_RATES,
                         default_permille=_Q58_DEFAULT_PERMILLE,
                         dedup_hash="md5_60", quality=_Q58_QF)
    out.unpersist()  # curate returns the persisted frame; free it — only
    # the stage-count report leaves this function
    return spark.createDataFrame(
        [(k, v) for k, v in report.items()], "stage string, n long")


# --------------------------------------------------------------------------
# q63: streaming SESSION windows (streaming.session_metrics). The corpus
# lands, the checkpointed availableNow stream runs THREE times (data, then
# two future "flush" sentinels: append-mode session windows finalize only
# when a LATER batch's watermark passes their end, and the watermark applied
# in batch k derives from batch k-1's max event time — so sentinel #2 is
# what makes sentinel #1's watermark flush every real session). The oracle
# re-derives the full finalized session set from a BATCH extraction of the
# same corpus landed alongside: gap-split sessions per url (lag/cumsum
# CTEs, the q44 derivation), end = last + gap — checking watermark
# completeness AND session semantics against an independent engine, not
# just re-reading the sink.
# --------------------------------------------------------------------------

_Q63_BASE = _land("q63_run")
_Q63_GAP_US = 30 * 60 * 1_000_000  # 30 minutes, matches the stream's gap

_Q63_ORACLE_SQL = f"""
WITH e AS (
  SELECT url, warc_ts, text
  FROM read_parquet('{_Q63_BASE}/batch/*.parquet')
), ordered AS (
  SELECT url, warc_ts, text,
         CASE WHEN lag(warc_ts) OVER w IS NULL
                OR epoch_us(warc_ts) - epoch_us(lag(warc_ts) OVER w)
                   >= {_Q63_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM e
  WINDOW w AS (PARTITION BY url ORDER BY warc_ts)
), sess AS (
  SELECT url, warc_ts, text,
         SUM(new_s) OVER (PARTITION BY url ORDER BY warc_ts
                          ROWS UNBOUNDED PRECEDING) AS si
  FROM ordered
)
SELECT strftime(MIN(warc_ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(warc_ts) + INTERVAL 30 MINUTE,
                '%Y-%m-%d %H:%M:%S') AS session_end,
       url, COUNT(*) AS docs,
       CAST(SUM(strlen(text)) AS BIGINT) AS bytes_extracted
FROM sess GROUP BY url, si
"""


@register(
    "q63_stream_sessions",
    _Q63_ORACLE_SQL,
    doc="streaming session windows oracle-checked against a batch-SQL "
        "re-derivation of the same sessions (gap split, exclusive end).",
)
def q63(spark, sf_dir):
    import shutil
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .corpus import write_corpus_parquet
    from .sparkjob import extract_df
    from .streaming import start_session_stream

    shutil.rmtree(_Q63_BASE, ignore_errors=True)
    land = os.path.join(_Q63_BASE, "landing")
    os.makedirs(land)
    write_corpus_parquet(land, _n_docs(sf_dir, cap=600), seed=42)
    os.remove(os.path.join(land, "truth.parquet"))

    # batch twin for the oracle: the SAME extraction over the same pages
    pages = spark.read.parquet(os.path.join(land, "web_pages.parquet"))
    (extract_df(pages, repartition=False).select("url", "warc_ts", "text")
     .write.mode("overwrite").parquet(os.path.join(_Q63_BASE, "batch")))
    max_ts = pages.agg(F.max("warc_ts")).first()[0]

    def _sentinel(path: str, ts: datetime) -> None:
        pq.write_table(pa.table({
            "url": pa.array(["https://sentinel.invalid/flush"], pa.string()),
            "warc_ts": pa.array([ts], pa.timestamp("us")),
            "html": pa.array([b""], pa.binary()),
            "text": pa.array([""], pa.string()),
            "lang": pa.array(["en"], pa.string()),
        }), path)

    def _run() -> None:
        q = start_session_stream(
            spark, land, os.path.join(_Q63_BASE, "out"),
            os.path.join(_Q63_BASE, "ckpt"), available_now=True)
        if not q.awaitTermination(300):
            q.stop()  # never launch the next run against a live checkpoint
            raise TimeoutError("q63: availableNow session run exceeded 300s")

    _run()
    _sentinel(os.path.join(land, "sentinel1.parquet"),
              max_ts + timedelta(days=30))
    _run()
    _sentinel(os.path.join(land, "sentinel2.parquet"),
              max_ts + timedelta(days=31))
    _run()
    out = (spark.read.parquet(os.path.join(_Q63_BASE, "out"))
           # the flush sentinels' own sessions may finalize too (how many
           # depends on availableNow's trailing no-data batch) — they are
           # harness scaffolding, not corpus sessions
           .filter(~F.col("url").startswith("https://sentinel.invalid")))
    return out.select(
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss")
         .alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss")
         .alias("session_end"),
        "url", "docs", "bytes_extracted")


# --------------------------------------------------------------------------
# q62: paragraph-level boilerplate strip (dedup.strip_common_paragraphs) —
# the CCNet-style LINE dedup. The extraction output (url, text, spans) is
# landed; BOTH engines explode the spans into (url, start, paragraph), add
# one synthetic boilerplate paragraph per row (same expression), strike
# paragraphs with document frequency > max_df, and rebuild each document in
# span order. The md5 of every rebuilt document is compared.
# --------------------------------------------------------------------------

_Q62_LAND = _land("q62_land")
_Q62_BOILER = "Copyright example.com - all rights reserved."
_Q62_MAX_DF = 5

_Q62_ORACLE_SQL = f"""
WITH e AS (
  SELECT url, text, spans
  FROM read_parquet('{_Q62_LAND}/input/*.parquet')
), paras AS (
  SELECT url, s.start AS start,
         substr(text, CAST(s.start AS INTEGER) + 1,
                CAST(s."end" - s.start AS INTEGER)) AS p
  FROM (SELECT url, text, unnest(spans) AS s FROM e)
  UNION ALL
  SELECT url, length(text) + 2, '{_Q62_BOILER}' FROM e
), dfc AS (
  SELECT (('0x' || substr(md5(p), 1, 15))::UBIGINT::BIGINT) AS h,
         COUNT(DISTINCT url) AS d
  FROM paras GROUP BY 1
), kept AS (
  SELECT paras.* FROM paras
  JOIN dfc ON (('0x' || substr(md5(p), 1, 15))::UBIGINT::BIGINT) = dfc.h
  WHERE dfc.d <= {_Q62_MAX_DF}
), agg AS (
  SELECT url,
         string_agg(p, chr(10) || chr(10) ORDER BY start, p) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY url
), tot AS (
  SELECT url, COUNT(*) AS n_all FROM paras GROUP BY url
)
SELECT t.url,
       md5(coalesce(a.clean_text, '')) AS clean_md5,
       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(t.n_all - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
FROM tot t LEFT JOIN agg a USING (url)
"""


@register(
    "q62_boilerplate_strip",
    _Q62_ORACLE_SQL,
    doc="paragraph-level boilerplate removal over the extraction output, "
        "oracle-checked end-to-end (md5 of every rebuilt document).",
)
def q62(spark, sf_dir):
    from .dedup import strip_common_paragraphs

    e = _land_ok_extraction(spark, sf_dir, _Q62_LAND, ["url", "text", "spans"])
    real = (e.select("url", F.explode("spans").alias("s"), "text")
            .select("url", F.col("s.start").alias("start"),
                    F.substring(F.col("text"),
                                F.col("s.start").cast("int") + F.lit(1),
                                (F.col("s.end") - F.col("s.start"))
                                .cast("int")).alias("p")))
    planted = e.select(
        "url", (F.length("text") + 2).cast("long").alias("start"),
        F.lit(_Q62_BOILER).alias("p"))
    paras = real.unionByName(planted)
    out = strip_common_paragraphs(paras, max_df=_Q62_MAX_DF,
                                  hash_fn="md5_60")
    return out.select(
        "url", F.md5("clean_text").alias("clean_md5"), "n_kept", "n_removed")


# q80: adversarial-graph connected components (large-star/small-star,
# dedup.connected_components_star) over a PLANTED graph whose component
# labels are a closed form of the vertex id — full oracle without recursion.
# Topology per 25-vertex group g: even g = a 25-long CHAIN (the case that
# breaks diameter-bound Hash-Min at scale), odd g = a STAR centered on a
# NON-minimum member (25g+7); every 5th group bridges into the next, so some
# components are 50-vertex chain+star composites. Component min id is
# 25 * (g - 1 if g % 5 == 1 else g) for every vertex — what both engines
# compute.
_Q80_LAND = _land("q80_land")

_Q80_ORACLE_SQL = f"""
SELECT id,
       25 * (CASE WHEN (id // 25) % 5 = 1 THEN (id // 25) - 1
             ELSE id // 25 END) AS cluster_id
FROM read_parquet('{_Q80_LAND}/vertices/*.parquet')
"""


@register(
    "q80_cc_star",
    _Q80_ORACLE_SQL,
    doc="long-chain-safe connected components: star contraction must "
        "converge on chains, stars centered off-minimum, and bridged "
        "composites — label = component minimum for every vertex, "
        "singletons included via the ``vertices`` frame.",
)
def q80(spark, sf_dir):
    from .dedup import connected_components_star

    n_groups = max(8, min(200, int(4000 * sf_of(sf_dir))))
    vs = spark.range(n_groups * 25).select("id")
    vs.write.mode("overwrite").parquet(os.path.join(_Q80_LAND, "vertices"))
    vs = spark.read.parquet(os.path.join(_Q80_LAND, "vertices"))
    g = F.floor(F.col("id") / 25)
    pos = F.col("id") % 25
    chain = (vs.filter((g % 2 == 0) & (pos < 24))
             .select(F.col("id").alias("id_a"),
                     (F.col("id") + 1).alias("id_b")))
    star = (vs.filter((g % 2 == 1) & (pos != 7))
            .select((g * 25 + 7).alias("id_a"), F.col("id").alias("id_b")))
    bridge = (vs.filter((g % 5 == 0) & (pos == 24) & (g + 1 < n_groups))
              .select(F.col("id").alias("id_a"),
                      (F.col("id") + 1).alias("id_b")))
    edges = chain.unionByName(star).unionByName(bridge)
    return (connected_components_star(edges, vertices=vs, id_col="id")
            .select(F.col("id").cast("long").alias("id"),
                    F.col("cluster_id").cast("long").alias("cluster_id")))
