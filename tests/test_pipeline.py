"""The composed curation recipe end-to-end over the synthetic corpus."""

from pyspark.sql import functions as F

from webextract.corpus import write_corpus_parquet
from webextract.pipeline import curate
from webextract.sparkjob import extract_df


def test_curate_end_to_end(spark, tmp_path):
    gen = str(tmp_path / "gen")
    write_corpus_parquet(gen, 200, seed=11)
    pages = spark.read.parquet(f"{gen}/web_pages.parquet")
    extracted = extract_df(pages, repartition=False)

    out, report = curate(extracted, lang_rates={"en": 400},
                         default_permille=1000)
    # stage flow is monotone non-increasing and every stage is reported
    keys = ["input", "after_latest_crawl", "after_gates",
            "after_exact_dedup", "after_near_dedup", "final"]
    assert list(report) == keys
    vals = [report[k] for k in keys]
    assert all(a >= b for a, b in zip(vals, vals[1:])), report
    assert report["input"] > 0 and report["final"] > 0
    # recrawls (i%50==0: same url re-crawled) resolve to the latest attempt
    assert report["after_latest_crawl"] < report["input"], report
    # output schema keeps the extracted surface; text was PII-scrubbed
    # in place (no rename)
    for c in ("url", "text", "lang"):
        assert c in out.columns
    # survivors are unique per url (recrawl resolution + dedup upstream)
    urls = [r["url"] for r in out.select("url").collect()]
    assert len(urls) == len(set(urls)) == report["final"]


def test_near_dup_keeps_best_copy(spark):
    # a 3-member near-dup cluster: the HIGHEST-QUALITY (longest) member must
    # survive, not the member with the smallest hash/url
    # 60 DISTINCT tokens (repetition gate must not fire) shared by all three
    base = " ".join(f"word{i:02d}tok" for i in range(60))
    rows = [
        ("http://ex.org/a", base + " phi chi psi omega extra rich tail here", "en"),
        ("http://ex.org/b", base, "en"),
        ("http://ex.org/c", base + " phi", "en"),
        ("http://ex.org/z", "totally unrelated document about maritime law "
                            "and shipping regulations in coastal waters "
                            "governing vessel traffic and port authority", "en"),
    ]
    df = spark.createDataFrame(rows, "url string, text string, lang string")
    out, report = curate(df, near_dup=True)
    kept = sorted(r["url"] for r in out.select("url").collect())
    assert "http://ex.org/z" in kept
    cluster_kept = [u for u in kept if u != "http://ex.org/z"]
    assert cluster_kept == ["http://ex.org/a"], (kept, report)
    assert report["after_near_dedup"] == 2, report


def test_pretrain_prep_end_to_end(spark):
    from webextract.pipeline import pretrain_prep

    long_a = " ".join(f"a{i}" for i in range(40))
    bench_text = " ".join(f"benched{i}" for i in range(10))
    rows = [
        # src_big: 6 long docs (dominates token mass -> downsampled)
        *[(i, long_a + f" uniq{i} " + " ".join(f"x{i}_{j}" for j in range(20)),
           "src_big") for i in range(6)],
        # src_small: 2 short docs (at/below temperature share -> kept fully)
        (10, "small doc one with some words here", "src_small"),
        (11, "small doc two with other words here", "src_small"),
        # contaminated: shares a 5-gram with the benchmark
        (12, bench_text + " trailing words", "src_small"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bench = spark.createDataFrame([(99, bench_text, "bench")],
                                  "doc_id long, text string, source string")
    out, report = pretrain_prep(docs, bench, capacity=16, shards=4)
    got = {r.doc_id: r for r in out.collect()}

    assert report["input"] == 9
    assert report["after_decontamination"] == 8  # only doc 12 dropped
    assert 12 not in got
    assert report["after_rebalance"] == len(got) <= 8
    # the small source is never downsampled (rate clamps at 1000)
    assert 10 in got and 11 in got
    # packing invariants: offsets are a per-shard prefix sum of tokens
    by_shard = {}
    for r in got.values():
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rs in by_shard.items():
        rs = sorted(rs, key=lambda r: r.offset)
        run = 0
        for r in rs:
            assert r.offset == run
            run += r.tokens
            assert r.first_chunk == r.offset // 16
            if r.tokens > 0:
                assert r.last_chunk == (r.offset + r.tokens - 1) // 16
                assert r.n_chunks == r.last_chunk - r.first_chunk + 1


def test_pretrain_prep_rebalance_rates_are_downsample_only(spark):
    from webextract.pipeline import pretrain_prep

    # one dominant source against NINE tiny ones: the temperature rate for
    # the big source is decisively below 1000 (with only one tiny peer the
    # sqrt shares nearly cancel and the rate hovers near 1000 — hash luck
    # can then keep everything), while every tiny source clamps at 1000
    rows = [(i, " ".join(f"w{i}_{j}" for j in range(50)), "big")
            for i in range(40)]
    rows += [(100 + s * 10 + i, f"tiny doc {s} {i} few words", f"tiny{s}")
             for s in range(9) for i in range(1)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bench = spark.createDataFrame([(999, "zz qq pp rr ss tt", "b")],
                                  "doc_id long, text string, source string")
    out, report = pretrain_prep(docs, bench, capacity=64, shards=4)
    srcs = {r.doc_id: r.source for r in out.collect()}
    n_big = sum(1 for s in srcs.values() if s == "big")
    n_tiny = sum(1 for s in srcs.values() if s.startswith("tiny"))
    assert n_tiny == 9, "tiny sources must keep everything"
    assert n_big < 40, "dominant source must be downsampled"
    assert report["after_decontamination"] == 49  # bench shares no grams


def test_rebalance_plan_broadcasts_rate_table(spark):
    """VERDICT r4 #6 plan guard: the per-source rate table must BROADCAST
    into the corpus gate (never a shuffle join), the 1-row totals relation
    must be a broadcast nested-loop (never CartesianProduct), and the
    corpus side must not exchange for the join at all."""
    from webextract.pipeline import _rebalance

    clean = spark.range(500).select(
        F.col("id"), F.concat(F.lit("s"), F.col("id") % 7).alias("source"),
        (F.col("id") % 300 + 10).alias("n_tokens"))
    plan = (_rebalance(clean)._jdf.queryExecution()
            .executedPlan().toString())
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the only exchange allowed is the rate table's own groupBy; the
    # corpus side joins map-side
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_decontamination_plan_broadcasts_bench_index(spark):
    """q60's contamination join: the benchmark gram index broadcasts, the
    shuffle keys carry the 60-bit gram HASH (gh) — never the raw n-gram
    string."""
    from webextract import queries as q

    df = q.queries()["q60_decontamination"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    ex_lines = [ln for ln in plan.splitlines()
                if "Exchange hashpartitioning" in ln]
    for ln in ex_lines:
        assert " g#" not in ln, f"raw gram string shuffled: {ln}"


def test_semdedup_plan_is_cluster_blocked(spark):
    """q68's pairwise stage must be an equi-join on the cluster key —
    never CartesianProduct, never a broadcast of the full vector side."""
    from webextract.sim import semdedup

    d = spark.createDataFrame(
        [(i, [float(i % 4), 1.0, 0.5]) for i in range(1, 40)],
        "vec_id long, embedding array<float>")
    out = semdedup(d, tau=0.9, centroids=[[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_curate_survives_a_near_dup_chain_deeper_than_hashmin_budget(spark):
    """Sliding 30-token windows over one random 600-token sequence: each doc
    is a near-dup of the next few, so the LSH pair graph is a chain far
    deeper than Hash-Min's round budget. curate must fall back to star
    contraction and keep one doc per component of that graph."""
    import random

    from webextract.dedup import connected_components_star, minhash_lsh_pairs

    rng = random.Random(7)
    seq = [f"t{rng.randrange(10**6):06d}" for _ in range(600)]
    rows = [(f"http://chain.example/{i:03d}", " ".join(seq[i:i + 30]), "en")
            for i in range(250)]
    df = spark.createDataFrame(rows, "url string, text string, lang string")

    out, report = curate(df)
    assert report["after_exact_dedup"] == 250, report

    pairs = minhash_lsh_pairs(df, n=2).select(
        F.xxhash64("id_a").alias("id_a"), F.xxhash64("id_b").alias("id_b"))
    comps = connected_components_star(
        pairs, vertices=df.select(F.xxhash64("url").alias("id")))
    n_comps = comps.select("cluster_id").distinct().count()
    assert report["after_near_dedup"] == n_comps == report["final"], report
    out.unpersist()
