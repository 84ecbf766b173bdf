"""Deterministic (hash-gated) sampling — the reproducible subsetting ops of
a training-data pipeline (language rebalancing, held-out splits, ablation
slices).

Why hash gates and not ``rand()``/``sample()``: a training-data recipe must
be REPRODUCIBLE and AUDITABLE — the same corpus and the same rates must
select the same rows on every rerun, on any cluster size, in any engine.
``rand()`` depends on partition layout and seed plumbing; a hash of a stable
key does not. The gate ``hash(key) % buckets < rate`` is also exactly what
makes incremental processing safe: a document's membership never changes
when the corpus around it grows (per-key decision, no global state).

Scale shape: every operator here is a single scan + codegen'd filter —
zero shuffles, zero Python. Rates compose: a 10% sample of a 50% sample is
the rows with bucket < 50 AND an independent second-key bucket < 100.

Reference parity: document_extraction_tools exposes no sampler (its
TestDataLoader loads a fixed eval set, src/document_extraction_tools/
orchestrators/evaluation.py); this module is the engine extension for
corpus-scale work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import HASH_FNS


def hash_bucket(key: Column | str, *, buckets: int = 1000,
                hash_fn: str = "md5_60") -> Column:
    """Stable bucket in [0, buckets) from the string form of ``key``.

    md5_60 is the portable (DuckDB-reproducible) hash; xxhash64 the faster
    production one. The key is cast to string so integer and string keys
    bucket identically in every engine.
    """
    c = F.col(key) if isinstance(key, str) else key
    fn, _ = HASH_FNS[hash_fn]
    return F.pmod(fn(c.cast("string")), F.lit(buckets))


def stratified_sample(df: DataFrame, *, key_col: str, strata_col: str,
                      rates: dict[str, int], default_permille: int = 1000,
                      hash_fn: str = "md5_60",
                      bucket_out: str | None = "bucket") -> DataFrame:
    """Per-stratum keep rates (permille), e.g. language rebalancing:
    downsample the dominant language, keep the tail at full rate.

    One scan, one codegen'd CASE + filter — the plan has no exchange at any
    corpus size, and the selection is stable under corpus growth (each row's
    fate depends only on its own key).
    """
    bucket = hash_bucket(key_col, buckets=1000, hash_fn=hash_fn)
    gate = F.lit(default_permille)
    for stratum, rate in sorted(rates.items()):
        gate = F.when(F.col(strata_col) == stratum, F.lit(rate)).otherwise(gate)
    if bucket_out:
        return df.withColumn(bucket_out, bucket).filter(
            F.col(bucket_out) < gate)
    # no output column requested: filter on the expression directly, so a
    # pre-existing column named "bucket" on the input is never clobbered
    return df.filter(bucket < gate)


def per_group_cap(df: DataFrame, *, group_col: str, key_col: str,
                  cap: int, hash_fn: str = "md5_60",
                  rank_out: str = "rk") -> DataFrame:
    """Keep a deterministic pseudo-random ``cap`` rows per group — the
    crawl-balance operator (cap docs per domain/source so no single origin
    dominates the training mix).

    Ordering within the group by ``hash(key)`` (key as tiebreak) is an
    unbiased shuffle that is REPRODUCIBLE across engines and reruns, unlike
    ``rand()``. Catalyst plans a ``WindowGroupLimit`` below the exchange:
    every task pre-trims to its local top-``cap`` per group, so the shuffle
    moves at most cap x |groups| x tasks rows at any corpus size.
    """
    from pyspark.sql import Window

    h = hash_bucket(key_col, buckets=1 << 62, hash_fn=hash_fn)
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    return (df.withColumn(rank_out, F.row_number().over(w).cast("long"))
              .filter(F.col(rank_out) <= cap))


def pack_sequences(df: DataFrame, *, id_col: str, tokens_col: str,
                   capacity: int, shards: int = 64,
                   hash_fn: str = "md5_60") -> DataFrame:
    """SEQUENCE PACKING (concat-and-chunk): map every document to the
    ``capacity``-token training chunks it occupies — the batch-assembly
    step between a curated corpus and a pretraining dataloader. The
    standard GPT-style pipeline concatenates the document stream and cuts
    it every context-length tokens (documents straddle chunk boundaries);
    this operator computes that assignment declaratively: per document,
    its shard, its token offset in the shard's stream, and the first/last
    chunk it lands in.

    Why per-shard windows and not one global running sum: a global order is
    a single-partition window — the classic scale cliff. Documents are
    hash-assigned to ``shards`` independent streams, deterministically
    ordered within each (id-hash, then id), so every running sum is an
    independent window (one Exchange on the shard key, shards-wide
    parallelism). The whole assignment is a pure function of
    (ids, capacity, shards): reproducible on any cluster size and engine —
    q65's DuckDB oracle recomputes it bit-for-bit.

    Returns (id, tokens, shard, offset, first_chunk, last_chunk,
    n_chunks) with offset = token position of the document's first token
    within its shard's stream and chunks numbered from 0 per shard. A
    zero-token document occupies NOTHING: n_chunks = 0, with
    first_chunk = last_chunk recording the zero-width position.
    """
    from pyspark.sql import Window

    fn, _ = HASH_FNS[hash_fn]
    h = fn(F.col(id_col).cast("string"))
    t = F.col(tokens_col).cast("long")
    base = df.select(F.col(id_col).alias("id"), t.alias("tokens"),
                     F.pmod(h, F.lit(shards)).alias("shard"), h.alias("_h"))
    w = Window.partitionBy("shard").orderBy(F.asc("_h"), F.asc("id"))
    cum = F.sum("tokens").over(w)          # inclusive running token total
    off = (cum - F.col("tokens"))          # exclusive: this doc's offset
    first = F.expr(f"_off div {capacity}")
    # last occupied chunk = position of the final token; empty docs span
    # nothing and report first_chunk = last_chunk (a zero-width placement)
    last = F.when(F.col("tokens") > 0,
                  F.expr(f"(_off + tokens - 1) div {capacity}")) \
            .otherwise(first)
    n_chunks = F.when(F.col("tokens") > 0, last - first + 1).otherwise(0)
    return (base.withColumn("_off", off)
            .select(F.col("id").alias(id_col), "tokens", "shard",
                    F.col("_off").alias("offset"),
                    first.alias("first_chunk"), last.alias("last_chunk"),
                    n_chunks.cast("long").alias("n_chunks")))


def passage_chunks(df: DataFrame, *, window: int, stride: int,
                   id_col: str = "doc_id", text_col: str = "text",
                   min_tokens: int = 1) -> DataFrame:
    """Overlapping passage extraction (RAG/retrieval-corpus chunking):
    split each document into ``window``-token passages starting every
    ``stride`` tokens (stride < window -> overlap), emitting one row per
    passage with its token offsets and text.

    The dual of :func:`pack_sequences`: packing assigns documents into
    fixed training chunks; chunking cuts documents into retrieval units.
    Start positions beyond the first are emitted only while they expose
    at least one NEW token (start < n_tokens), and trailing partials
    shorter than ``min_tokens`` are dropped — both rules are pure integer
    arithmetic, so the passage set is reproducible anywhere.

    Plan: one ``sequence``+``explode`` per document (passage count =
    ceil(n/stride), linear in corpus tokens), all JVM array ops; the only
    data growth is the overlap factor window/stride. Zero shuffles.
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    t = F.split(F.trim(F.col(text_col)), r"\s+")
    base = (df.filter(F.length(F.trim(text_col)) > 0)
            .select(F.col(id_col), t.alias("t"))
            .withColumn("n_tokens", F.size("t")))
    starts = F.expr(f"sequence(0, greatest(0, n_tokens - 1), {stride})")
    out = (base.select(id_col, "n_tokens", "t",
                       F.explode(starts).alias("start"))
           .withColumn("piece", F.expr(f"slice(t, start + 1, {window})"))
           .withColumn("p_tokens", F.size("piece"))
           .filter(F.col("p_tokens") >= min_tokens)
           .select(
               id_col,
               F.expr(f"start div {stride}").cast("long").alias("passage"),
               F.col("start").cast("long").alias("start_tok"),
               (F.col("start") + F.col("p_tokens")).cast("long")
               .alias("end_tok"),
               F.col("p_tokens").cast("long").alias("p_tokens"),
               F.array_join("piece", " ").alias("passage_text")))
    return out
