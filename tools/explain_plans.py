#!/usr/bin/env python
"""Capture .explain("formatted") for the engine's key plans → docs/PLANS.md.

The review loop behind SURVEY §4: after correctness, verify each plan is the
one we'd want at 100 TB — filters/columns pushed to the scan, broadcast where
a side is small, no stray exchanges, wide WholeStageCodegen spans.
"""
import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "src"))
sys.path.insert(0, REPO)


def fmt(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    s = buf.getvalue()
    # keep it readable: drop per-column details beyond 60 lines
    lines = s.splitlines()
    head = [ln for ln in lines if ln.strip()][:60]
    return "\n".join(head)


def main():
    import __spark_entry__ as entry
    from webextract.landed_queries import corpus_df
    from webextract.session import get_spark
    from webextract.sparkjob import extract_df
    from webextract.evaluate import per_doc_metrics

    spark = get_spark(app="plans", master="local[8]", shuffle_partitions=8)
    sf = "/root/testdata/sf0.01"
    pages, truth = corpus_df(spark, 600)

    sections = []

    def add(title, df, notes):
        sections.append((title, fmt(df), notes))

    add("extraction (no-skew path: scan → mapInPandas, zero shuffle)",
        extract_df(pages, repartition=False),
        "ReadSchema must include html but NOT the full-page text column; "
        "no Exchange anywhere.")
    add("extraction (skew path: salted url-hash repartition)",
        extract_df(pages, num_partitions=16),
        "Exactly one Exchange, keyed xxhash64(url, salt) — the explicit "
        "partitioning the north rule requires.")
    add("evaluation join (broadcast truth)",
        per_doc_metrics(extract_df(pages, repartition=False), truth),
        "BroadcastHashJoin with truth on the build side; predictions never "
        "shuffle.")
    qs = entry.queries()
    add("q01 pricing summary (agg pushdown)",
        qs["q01_pricing_summary"](spark, sf),
        "PushedFilters on l_shipdate; partial_sum before the exchange "
        "(map-side combine); decimal sums.")
    add("q03 top customers (broadcast join + top-k)",
        qs["q03_top_customers"](spark, sf),
        "BroadcastHashJoin (customer small side) + TakeOrderedAndProject "
        "instead of a global sort.")
    add("q04 latest event per user (window dedupe)",
        qs["q04_latest_event_per_user"](spark, sf),
        "Single shuffle on user_id; rn filter evaluated in the window stage.")
    add("q17 MinHash LSH candidates",
        qs["q17_minhash_near_pairs"](spark, sf),
        "Shingle explode → hash-agg signatures → band explode → bucket "
        "self-join: candidate generation never forms a cross product.")
    add("q31 exact dedup, production shape (hash-keyed)",
        qs["q31_exact_dedup_hashed"](spark, sf),
        "Every Exchange is keyed on the 8-byte text_hash — the full text "
        "never shuffles (q13's window-over-text form is the anti-scale "
        "demonstration twin).")
    add("q26 IVF top-k, served index (fold assignment)",
        qs["q26_ivf_topk"](spark, sf),
        "All-JVM: centroid dots + CASE argmax inside WholeStageCodegen, "
        "probe filter on the cell column (partition pruning at scale), "
        "TakeOrderedAndProject — zero Python, zero Exchange before top-k.")
    add("q33 salted heavy-hitter aggregation",
        qs["q33_salted_heavy_hitter_agg"](spark, sf),
        "Two HashAggregate pairs: the (key, salt) partial spreads a hot key "
        "over 16 reducers; the second exchange moves |keys|x16 rows "
        "regardless of skew.")
    add("q34 incremental dedup vs fingerprint index",
        qs["q34_incremental_dedup"](spark, sf),
        "Anti-join and min-id group both keyed on the 8-byte fingerprint; "
        "one scan feeds both sides (even/odd split).")

    import tempfile

    from pyspark.sql import functions as F

    from webextract.runner import bucket_col, load_errors, run_extraction

    root = tempfile.mkdtemp(prefix="plans_reproc_")
    run_extraction(spark, pages, root, "plans-run", n_buckets=8)
    dlq = load_errors(spark, root, "plans-run").select("url", "warc_ts").distinct()
    add("DLQ reprocess semi-join (broadcast key set)",
        pages.join(F.broadcast(dlq), ["url", "warc_ts"], "left_semi")
             .withColumn("partition_id", bucket_col(0, 8)),
        "BroadcastHashJoin LeftSemi BuildRight: the 100-TB pages side never "
        "shuffles for the (tiny) DLQ key set.")

    out = ["# PLANS — physical plan review (round 3)",
           "",
           "Captured via `python tools/explain_plans.py` (sf0.01, local[8]).",
           "Each plan carries the property it is asserted to have; the "
           "spot-checkable assertions also live in tests "
           "(`test_no_repartition_path`, `test_column_pruning_reaches_scan`, "
           "`test_eval_broadcast_plan`).",
           ""]
    for title, plan, notes in sections:
        out += [f"## {title}", "", notes, "", "```", plan, "```", ""]
    with open(os.path.join(REPO, "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote docs/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
