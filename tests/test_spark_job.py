"""End-to-end Spark extraction job tests (FIXTURES.md §6 checks 1, 2, 4)."""

import re

import pytest
from pyspark.sql import functions as F

from webextract.sparkjob import DEFAULT_SALT, extract_df, split_errors


@pytest.fixture(scope="module")
def extracted(spark, corpus_dir):
    pages = spark.read.parquet(f"{corpus_dir}/web_pages.parquet")
    df = extract_df(pages, num_partitions=8).cache()
    df.count()
    return df


def test_row_count_preserved(spark, corpus_dir, extracted):
    n_in = spark.read.parquet(f"{corpus_dir}/web_pages.parquet").count()
    assert extracted.count() == n_in


def test_byte_identity_through_spark(spark, corpus_dir, extracted):
    """Every ok row matches truth byte-for-byte, including spans."""
    truth = spark.read.parquet(f"{corpus_dir}/truth.parquet")
    ok = extracted.filter(F.col("status") == "ok")
    # recrawls: any crawl of a url must produce the same expected text,
    # so the join is on url alone.
    joined = ok.join(truth, "url", "inner")
    n_ok = ok.count()
    assert joined.count() == n_ok  # every ok row has a truth row
    mismatch_text = joined.filter(
        ~(F.col("text") == F.col("expected_text"))
    ).count()
    assert mismatch_text == 0
    mismatch_spans = joined.filter(
        ~(F.col("spans") == F.col("expected_spans"))
        & F.col("expected_spans").isNotNull()
    ).count()
    assert mismatch_spans == 0


def test_failure_isolation(spark, corpus_dir, extracted):
    """Planted failures land in the DLQ; good rows are unaffected
    (reference semantic extraction_orchestrator.py:232-242)."""
    truth = spark.read.parquet(f"{corpus_dir}/truth.parquet")
    planted = truth.filter(F.col("expected_text").isNull())
    n_planted = planted.count()
    assert n_planted > 0
    ok, errs = split_errors(extracted)
    # every planted url is in the error split, with a status + message
    err_join = errs.join(planted, "url", "inner")
    assert err_join.count() == n_planted
    assert errs.filter(F.col("status") == "ok").count() == 0
    assert (
        errs.filter(F.col("status") == "parse_error")
        .filter(F.col("error").isNull()).count() == 0
    )
    # and no planted url leaked into the ok split
    assert ok.join(planted, "url", "left_semi").count() == 0


def test_determinism_two_runs(spark, corpus_dir):
    pages = spark.read.parquet(f"{corpus_dir}/web_pages.parquet")
    a = extract_df(pages, num_partitions=4)
    cols = ["url", "warc_ts", "text", "status"]
    # different partitionings, the default one sized by AQE
    for b in (extract_df(pages, num_partitions=7), extract_df(pages)):
        assert a.select(cols).exceptAll(b.select(cols)).count() == 0
        assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_extract_plan_has_one_salted_exchange(spark, corpus_dir):
    """The default path's one exchange is an AQE-sized REBALANCE on the
    salted url hash; ``num_partitions=n`` pins an exact repartition."""
    pages = spark.read.parquet(f"{corpus_dir}/web_pages.parquet")
    # how the physical plan prints xxhash64(url, DEFAULT_SALT); 42 is the
    # function's own seed
    salted = rf"xxhash64\(url#\d+, {DEFAULT_SALT}, 42\)"

    def exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan, [ln for ln in plan.splitlines() if "Exchange" in ln]

    plan, ex = exchanges(extract_df(pages))
    assert len(ex) == 1, plan
    m = re.search(r"hashpartitioning\((\S+), \d+\), REBALANCE_PARTITIONS_BY_COL",
                  ex[0])
    assert m, plan
    assert re.search(rf"{salted} AS {re.escape(m.group(1))}", plan), plan

    # 6, not 8: the module's cached `extracted` plan would answer for 8
    plan, ex = exchanges(extract_df(pages, num_partitions=6))
    assert len(ex) == 1, plan
    assert re.search(rf"hashpartitioning\({salted}, 6\), REPARTITION_BY_NUM",
                     ex[0]), plan


def test_partition_id_populated(extracted):
    pids = extracted.select("partition_id").distinct().collect()
    assert all(r.partition_id >= 0 for r in pids)
    assert len(pids) > 1  # actually distributed over partitions


def test_no_repartition_path(spark, corpus_dir):
    pages = spark.read.parquet(f"{corpus_dir}/web_pages.parquet")
    df = extract_df(pages, repartition=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow: scan → mapInPandas, no shuffle
    assert df.filter(F.col("status") == "ok").count() > 0


def test_column_pruning_reaches_scan(spark, corpus_dir):
    pages = spark.read.parquet(f"{corpus_dir}/web_pages.parquet")
    df = extract_df(pages, repartition=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the full-page `text` column must NOT be read by the scan
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "html" in read_schema and "text" not in read_schema.split("ReadSchema")[1]
