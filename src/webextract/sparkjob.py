"""The Spark extraction job: one fused Arrow-batched stage, scale-first.

Plan shape (SURVEY.md §3.1 translation of the reference's
``ExtractionOrchestrator.run``, ``extraction_orchestrator.py:211-242``)::

    scan(web_pages)                       # parquet/Iceberg; pruned columns
      → [salted url-hash rebalance]       # defuse domain skew (north rule)
      → mapInPandas(extract_batch)        # fused parse→clean→segment,
                                          #   per-row failure capture
      → write (ok rows / error rows)

Scale notes
-----------
- ONE ``mapInPandas`` stage: html bytes cross the JVM↔Python Arrow boundary
  exactly once (the reference fuses read∘convert the same way in ``_ingest``,
  ``extraction_orchestrator.py:130-149``).
- The shuffle hashes ``xxhash64(url, salt)``: url is effectively unique,
  so partitions are uniform even when one domain dominates the crawl
  (domain skew). Spark sizes it: the exchange is a ``REBALANCE``, so AQE
  coalesces small shuffle partitions and splits any partition larger than
  ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` — per-task bytes stay
  bounded at any input size with no partition count to pick.
- No per-row Python UDFs anywhere; the per-document loop lives *inside* the
  batch function over a pandas block (input hint's accepted reading).
- Per-row failure isolation: the batch fn never throws for a document;
  ``status``/``error`` columns carry the outcome
  (reference semantic ``extraction_orchestrator.py:232-242``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .extract import extract_document

# Output schema (FIXTURES.md §3) + content_type/partition_id diagnostics.
SPAN_TYPE = T.ArrayType(
    T.StructType([
        T.StructField("start", T.LongType()),
        T.StructField("end", T.LongType()),
        T.StructField("kind", T.StringType()),
    ])
)

EXTRACTED_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("lang", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("spans", SPAN_TYPE),
    T.StructField("status", T.StringType()),
    T.StructField("error", T.StringType()),
    T.StructField("content_type", T.StringType()),
    T.StructField("n_blocks", T.IntegerType()),
    T.StructField("html_bytes", T.LongType()),
    T.StructField("partition_id", T.IntegerType()),
])

# Default salt for the url-hash repartition; a fixed literal keeps runs
# deterministic while still decorrelating from any upstream url-hash layout.
DEFAULT_SALT = 0x5EED


def make_extract_batches(link_density_max: float = 0.5,
                         min_chars_linked: int = 25):
    """Build the mapInPandas body with extractor thresholds closed over
    (shipped to executors in the serialized closure — the Spark analog of the
    reference's PipelineContext passed to every stage)."""

    def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _extract_batches(batches, link_density_max, min_chars_linked)

    return extract_batches


def _extract_batches(batches: Iterator[pd.DataFrame], link_density_max: float,
                     min_chars_linked: int) -> Iterator[pd.DataFrame]:
    """Vectorized over Arrow batches, per-document loop inside the batch.

    Runs on executors; must import nothing driver-local. TaskContext gives the
    physical partition id for the metrics/lineage tables.
    """
    from pyspark import TaskContext

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    for pdf in batches:
        # lineage bucket passthrough: if the input already carries a
        # data-keyed partition_id (runner.bucket_col), keep it; else report
        # the physical partition id.
        pid_col = pdf["partition_id"] if "partition_id" in pdf.columns else pid
        n = len(pdf)
        texts: list[str] = [""] * n
        spans: list[list] = [[] for _ in range(n)]
        status: list[str] = [""] * n
        error: list[str | None] = [None] * n
        ctype: list[str] = [""] * n
        nblocks: list[int] = [0] * n
        nbytes: list[int] = [0] * n
        htmls = pdf["html"].to_numpy()
        for i in range(n):
            raw = htmls[i]
            raw = bytes(raw) if raw is not None else b""
            res = extract_document(raw, link_density_max=link_density_max,
                                   min_chars_linked=min_chars_linked)
            texts[i] = res.text
            spans[i] = [
                {"start": s, "end": e, "kind": k} for (s, e, k) in res.spans
            ]
            status[i] = res.status
            error[i] = res.error
            ctype[i] = res.content_type
            nblocks[i] = res.n_blocks
            nbytes[i] = len(raw)
        yield pd.DataFrame({
            "url": pdf["url"],
            "warc_ts": pdf["warc_ts"],
            "lang": pdf["lang"],
            "text": texts,
            "spans": spans,
            "status": status,
            "error": error,
            "content_type": ctype,
            "n_blocks": nblocks,
            "html_bytes": nbytes,
            "partition_id": pid_col,
        })


def extract_df(pages: DataFrame, *, num_partitions: int | None = None,
               repartition: bool = True,
               link_density_max: float = 0.5,
               min_chars_linked: int = 25) -> DataFrame:
    """web_pages DataFrame → extracted DataFrame (lazy; no action here).

    Repartition guidance (measured — BENCH/DECOMPOSE.md): for SPLITTABLE
    columnar sources (parquet/Iceberg) prefer ``repartition=False`` — scan
    splits (maxPartitionBytes) already bound per-task bytes and extraction
    cost is row-wise, so domain clustering cannot skew a task; the job is
    then ONE stage and Python workers are busy from t=0 (the shuffle's
    JVM-only map stage otherwise stalls every worker: ~40% wall at 32
    cores). Keep the salted url-hash shuffle for UNSPLITTABLE or
    pathologically-laid-out sources (gzip WARC dumps, giant single files,
    one-domain-per-file layouts) where splits can't bound per-task work —
    5.07x on a domain-clustered layout (BENCH/SKEW.md).

    The shuffle is a ``REBALANCE`` on ``xxhash64(url, DEFAULT_SALT)``, sized
    by AQE from the bytes it actually moves. ``num_partitions=n`` instead
    pins an exact ``repartition(n, key)``, for callers that need a fixed
    task count (``bench.py``, ``__spark_entry__.entry``, runs with AQE
    off).
    """
    cols = ["url", "warc_ts", "lang", "html"]  # column pruning to the scan
    if "partition_id" in pages.columns:
        cols.append("partition_id")  # lineage bucket passthrough
    df = pages.select(*cols)
    if repartition:
        key = F.xxhash64(F.col("url"), F.lit(DEFAULT_SALT))
        if num_partitions:
            df = df.repartition(num_partitions, key)
        else:
            # the REBALANCE hint takes column names only, hence the _k column
            df = df.withColumn("_k", key).hint("rebalance", "_k").drop("_k")
    fn = make_extract_batches(link_density_max, min_chars_linked)
    return df.mapInPandas(fn, schema=EXTRACTED_SCHEMA)


def split_errors(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """ok rows vs DLQ rows (reference DLQ pattern,
    ``docs/guides/production-patterns.md:480-608``)."""
    ok = extracted.filter(F.col("status") == "ok")
    errs = extracted.filter(F.col("status") != "ok").select(
        "url", "warc_ts", "status", "error",
        # stage-tagged DLQ (reference production-patterns.md:480-608)
        F.split("error", ":").getItem(0).alias("stage"),
        "html_bytes", "partition_id",
    )
    return ok, errs
