"""Embedding similarity search: brute-force cosine top-k + LSH-bucketed ANN.

Implementations over an ``array<float>`` embedding column. Float semantics
are pinned to the sequential left fold everywhere (Spark
``aggregate``/``zip_with`` ≡ DuckDB ``list_dot_product``, the form every
oracle SQL uses). Each operator has ONE implementation: the hot paths
compute that fold VECTORIZED in Arrow batches (``np.cumsum`` is
bit-identical to the fold — see the kernel notes below), including its
SQL edge semantics (NULL/ragged vectors, NULL elements, zero norms). The
interpreted fold forms those kernels are checked against live with the
tests, not here.

- :func:`cosine_topk`      — exact top-k vs a query vector (the baseline);
  sequential-fold dot products (``aggregate``/``zip_with``) so results are
  bit-reproducible and oracle-comparable.
- :func:`ann_topk`         — random-hyperplane LSH bucketing: probe only the
  buckets the query falls in; at 10^12 scale the bucket column is the
  partition key, so a query touches a bounded slice of the corpus.
- :func:`ivf_topk`         — IVF (inverted-file) coarse quantization: a
  deterministic spherical k-means partitions the corpus into cells; a query
  probes only its ``nprobe`` nearest cells. The data-dependent alternative
  to LSH — fewer empty probes when the corpus is clustered.
- :func:`pairwise_near`    — all pairs above a cosine threshold with
  blocking (label or LSH bucket) to stay sub-quadratic.
- :func:`semdedup`         — k-means clustering + within-cluster
  :func:`pairwise_near` pruning.

The random hyperplanes are seeded deterministically (xxhash64 of
(plane, dim)) → reproducible bucketing with no stored model artifact.
The IVF centroids are likewise deterministic (hash-ordered init sample +
fixed Lloyd iteration count), so cell assignments are reproducible.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F


def _doubles(values) -> pd.Series:
    """float64 column for Arrow: None → NULL, NaN stays NaN. (A plain pandas
    float/object column goes through ``isnull()``, which turns every NaN
    into NULL — where the SQL fold returns NaN.)"""
    return pd.Series(pd.arrays.ArrowExtensionArray(
        pa.array(values, type=pa.float64())))


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm(a: str):
    return F.sqrt(_dot(a, a))


def _lit_vec(vec: list[float]):
    return F.array(*[F.lit(float(x)).cast("double") for x in vec])


def _null_if_any_null(vec_col: str):
    """The vector, or NULL when any element is NULL. Arrow hands a NULL
    element to numpy as NaN, while the SQL fold turns it into a NULL dot;
    routing such rows to the NULL-vector path keeps the kernels on the SQL
    semantics (a genuine NaN element still reaches them as NaN)."""
    c = F.col(vec_col)
    return F.when(F.exists(c, lambda x: x.isNull()), F.lit(None)).otherwise(c)


def l2_normalize(centroids: list[list[float]]) -> list[list[float]]:
    """L2-normalize centroids with a pure-python sequential fold, so the
    doubles are engine-neutral (the :mod:`webextract.ivf_snapshot` form).
    Argmax of dot equals argmax of cosine only at constant ``|c_i|``, so
    every trained centroid set goes through here before cell assignment."""
    out = []
    for c in centroids:
        s = 0.0
        for x in c:
            s += float(x) * float(x)
        n = math.sqrt(s) or 1.0
        out.append([float(x) / n for x in c])
    return out


def cosine_topk(df: DataFrame, query_vec: list[float], *, k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact cosine top-k: one scan, one top-k sort (no shuffle of vectors)."""
    scored = df.withColumn("qv", _lit_vec(query_vec)).withColumn(
        "cosine", _dot(vec_col, "qv") / (_norm(vec_col) * _norm("qv"))
    )
    return (
        scored.select(id_col, "cosine")
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _hyperplane(plane: int, dim: int, seed: int = 7) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane via integer hashing."""
    import random

    r = random.Random(f"{seed}|{plane}")
    return [r.gauss(0.0, 1.0) for _ in range(dim)]


def ann_topk(df: DataFrame, query_vec: list[float], *, k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             n_planes: int = 8, probe_hamming: int = 1, seed: int = 7) -> DataFrame:
    """Approximate top-k: score only rows whose LSH bucket is within
    ``probe_hamming`` bits of the query's bucket (multi-probe).

    At scale the bucket column is precomputed and the table partitioned by
    it → the filter becomes partition pruning and the scan touches only
    probed buckets.
    """
    dim = len(query_vec)
    # r6: vectorized bucket + scoring kernels — bit-identical to the SQL
    # fold expressions (see lsh_bucket_pandas / cosine_vs_query_exact),
    # one Arrow pass instead of per-row interpreted folds
    bucketed = df.withColumn(
        "bucket", lsh_bucket_pandas(dim, n_planes, seed)(F.col(vec_col)))
    # query bucket, computed driver-side with the same planes
    qcode = 0
    for p in range(n_planes):
        plane = _hyperplane(p, dim, seed)
        proj = sum(float(x) * y for x, y in zip(query_vec, plane))
        qcode |= (1 if proj > 0 else 0) << p
    probe = F.bit_count(F.col("bucket").bitwiseXOR(F.lit(qcode))) <= probe_hamming
    cand = bucketed.filter(probe)
    scored = cand.withColumn(
        "cosine", cosine_vs_query_exact(query_vec, vec_col))
    return (
        scored.select(id_col, "bucket", "cosine")
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_assign_pandas_exact(centroids: list[list[float]],
                            vec_col: str = "embedding"):
    """IVF cell assignment, ``argmax_i dot(v, c_i)`` — the cell ids of the
    oracle's first-max CASE chain over sequential-fold dots, bit for bit.

    Per row: the C dot products are sequential left-folds (cumsum — the same
    accumulation order as the SQL fold and DuckDB), and the winner is the
    FIRST argmax (``np.argmax``), exactly the CASE chain's
    ``d[i] >= greatest(d[i+1:])`` pick. One numpy pass per Arrow batch
    instead of the O(C²·dim) interpreted expression tree per row. Expects
    **L2-normalized** centroids (:func:`l2_normalize`).
    """
    from pyspark.sql.functions import pandas_udf

    cm = np.asarray([[float(x) for x in c] for c in centroids],
                    dtype=np.float64)

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        arrs = v.to_numpy()
        # NULL / NULL-element / wrong-length vectors: every fold is NULL,
        # every CASE cond is NULL, the chain falls through to otherwise(C-1)
        out = np.full(len(arrs), cm.shape[0] - 1, dtype=np.int32)
        ok = np.fromiter(
            (w is not None and len(w) == cm.shape[1] for w in arrs),
            dtype=bool, count=len(arrs))
        if ok.any():
            E = np.stack([np.asarray(w, dtype=np.float64) for w in arrs[ok]])
            # chunk rows so the (rows × C × dim) product tensor stays small
            cells = np.empty(E.shape[0], dtype=np.int32)
            step = max(1, int(32e6 / (8 * cm.shape[0] * max(cm.shape[1], 1))))
            for i0 in range(0, E.shape[0], step):
                i1 = min(i0 + step, E.shape[0])
                prod = E[i0:i1, None, :] * cm[None, :, :]
                dots = np.cumsum(prod, axis=2)[:, :, -1]
                cells[i0:i1] = np.argmax(dots, axis=1).astype(np.int32)
            out[ok] = cells
        return pd.Series(out)

    return _assign(_null_if_any_null(vec_col))


def cosine_vs_query_exact(query_vec: list[float], vec_col: str = "embedding"):
    """Vectorized ``_dot(v, qv)/(_norm(v)*_norm(qv))`` against a literal
    query — bit-identical doubles (sequential folds via cumsum), including
    the SQL edge semantics: NULL for NULL/ragged vectors (the zip_with NULL
    tail), for vectors with a NULL element (NULL fold) and for a zero
    denominator (Spark x/0 → NULL); NaN data yields a NaN cosine."""
    from pyspark.sql.functions import pandas_udf

    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    qn = float(np.sqrt(np.cumsum(q * q)[-1])) if q.size else 0.0

    @pandas_udf("double")
    def _cos(v: pd.Series) -> pd.Series:
        n = len(v)
        if n == 0:
            return pd.Series([], dtype="float64")
        arrs = v.to_numpy()
        ok = np.fromiter(
            (w is not None and len(w) == q.size for w in arrs),
            dtype=bool, count=n)
        out: list = [None] * n
        if ok.any():
            E = np.stack([np.asarray(w, dtype=np.float64) for w in arrs[ok]])
            dots = (np.cumsum(E * q[None, :], axis=1)[:, -1]
                    if q.size else np.zeros(E.shape[0]))
            nrm = (np.sqrt(np.cumsum(E * E, axis=1)[:, -1])
                   if q.size else np.zeros(E.shape[0]))
            denom = nrm * qn
            idxs = np.nonzero(ok)[0]
            for j, i in enumerate(idxs):
                d = denom[j]
                out[i] = None if d == 0 else float(dots[j] / d)
        return _doubles(out)

    return _cos(_null_if_any_null(vec_col))


def kmeans_centroids(df: DataFrame, *, n_centroids: int = 8, n_iter: int = 3,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     seed: int = 7) -> list[list[float]]:
    """Deterministic spherical k-means; driver state is C×dim floats only.

    Init: the ``n_centroids`` rows with the smallest ``xxhash64(id, seed)``
    — a deterministic pseudo-random sample taken with one top-k scan (never
    a corpus collect). Each Lloyd iteration is two distributed passes:
    vectorized assignment (:func:`ivf_assign_pandas_exact` over the
    L2-normalized current centroids) and an element-wise mean
    via ``posexplode`` + ``groupBy(cell, pos)`` — the shuffle output is
    C×dim rows regardless of corpus size, so iterations cost one scan each
    at any scale. Empty cells keep their previous centroid.
    """
    init = (
        df.select(F.col(vec_col).alias("v"),
                  F.xxhash64(F.col(id_col), F.lit(seed)).alias("h"))
        .orderBy("h", "v").limit(n_centroids).collect()
    )
    cents = [[float(x) for x in r.v] for r in init]
    for _ in range(n_iter):
        assigned = df.select(
            ivf_assign_pandas_exact(l2_normalize(cents), vec_col).alias("cell"),
            F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("v"),
        )
        means = (
            assigned.select("cell", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell", "pos").agg(F.avg("val").alias("m"))
            .collect()
        )
        nxt = [list(c) for c in cents]
        for r in means:
            nxt[r.cell][r.pos] = float(r.m)
        cents = nxt
    return cents


def ivf_topk(df: DataFrame, query_vec: list[float], *, k: int = 10,
             n_centroids: int = 8, nprobe: int = 2, n_iter: int = 3,
             vec_col: str = "embedding", id_col: str = "vec_id", seed: int = 7,
             centroids: list[list[float]] | None = None) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` max-dot cells only.

    At 10^12 scale the cell column is computed once at ingest and the table
    is partitioned by it, so the probe filter below becomes partition
    pruning and a query scans ~``nprobe / n_centroids`` of the corpus.
    Pass precomputed L2-normalized ``centroids`` (the
    :mod:`webextract.ivf_snapshot` form) to skip training (the served-index
    path); trained centroids go through :func:`l2_normalize`.

    Cells come from :func:`ivf_assign_pandas_exact`, probes are ranked by
    the sequential-fold ``dot(centroid, query)`` (ties → lower cell), and
    scores from :func:`cosine_vs_query_exact`: every float op is the fold
    the q26 oracle SQL uses, so rows, cells and cosines are bit-identical.
    """
    if centroids is None:
        centroids = l2_normalize(kmeans_centroids(
            df, n_centroids=n_centroids, n_iter=n_iter, vec_col=vec_col,
            id_col=id_col, seed=seed))
    qv = [float(x) for x in query_vec]
    dots = []
    for i, c in enumerate(centroids):
        s = 0.0
        for x, y in zip(c, qv):  # sequential fold ≡ the engine/oracle fold
            s += float(x) * y
        dots.append((s, i))
    probes = [i for _, i in sorted(dots, key=lambda t: (-t[0], t[1]))[:nprobe]]
    cand = (df.withColumn("cell", ivf_assign_pandas_exact(centroids, vec_col))
            .filter(F.col("cell").isin(probes)))
    scored = cand.withColumn("cosine", cosine_vs_query_exact(query_vec, vec_col))
    return (
        scored.select(id_col, "cell", "cosine")
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Vectorized within-block near-pair kernel (optimization guide §4.2).
#
# The naive shape — self-join on the block key, then an interpreted
# ``aggregate(zip_with(...))`` fold per pair — materializes O(pairs) JVM rows
# each carrying TWO full vectors and pays ~2*dim interpreted lambda calls per
# pair (the fold appears in both the filter and the projection).  The kernel
# below moves the whole block into ONE Arrow batch per block and computes:
#
#   1. a BLAS gram-matrix prefilter (``E @ E.T``) with a 1e-6 margin — the
#      float64 BLAS-vs-sequential-fold cosine error is bounded by ~dim*eps
#      (~1.4e-14 at dim=64, measured 1.7e-16), so the margin is ~8 orders of
#      magnitude of safety and can only ADD candidates, never lose one;
#   2. the exact sequential left-fold dot (``np.cumsum(a*b)[-1]``, which is
#      bit-identical to Spark's ``aggregate(zip_with(...))`` fold and to
#      DuckDB ``list_dot_product``) for candidate pairs only.
#
# Result rows are therefore bit-identical to the join+fold plan, including
# the edge semantics: rows with NULL vectors or NULL elements never pair
# (their SQL cosine is NULL), pairs of different-length vectors never pair
# (zip_with's NULL tail nulls the fold), a zero-norm side yields NULL (Spark
# x/0 → NULL) and never pairs, a duplicated id never pairs with itself (SQL's
# id_a < id_b), and a NaN cosine from NaN data PASSES the >= tau filter
# (Spark/DuckDB order NaN above every value).
# ---------------------------------------------------------------------------

_PAIR_PREFILTER_MARGIN = 1e-6


def _block_pair_arrays(ids, E, tau: float):
    """Exact near pairs for one equal-length block.

    ids: 1-D numpy array sorted ascending; E: (n, d) float64 matrix in the
    same order. Returns (ia, jb, cosine) index arrays of surviving pairs.
    """
    n = E.shape[0]
    nrm = np.sqrt(np.cumsum(E * E, axis=1)[:, -1]) if E.shape[1] else \
        np.zeros(n)
    out_i, out_j, out_c = [], [], []
    # row-chunk the gram matrix so a huge block stays bounded in memory
    chunk = max(64, min(8192, int(256e6 / (8 * max(n, 1)))))
    for i0 in range(0, n, chunk):
        i1 = min(i0 + chunk, n)
        G = E[i0:i1] @ E.T                                  # BLAS prefilter
        denom = np.outer(nrm[i0:i1], nrm)
        with np.errstate(divide="ignore", invalid="ignore"):
            C = G / denom
        # upper triangle only (id_a < id_b after the ascending sort)
        cols = np.arange(n)[None, :]
        rows = np.arange(i0, i1)[:, None]
        cand = (cols > rows) & ((C >= tau - _PAIR_PREFILTER_MARGIN)
                                | np.isnan(C))
        ci, cj = np.nonzero(cand)
        if ci.size == 0:
            continue
        ci = ci + i0
        # exact sequential-fold recompute on candidates, sliced to bound mem
        for s0 in range(0, ci.size, 1 << 18):
            s1 = min(s0 + (1 << 18), ci.size)
            ii, jj = ci[s0:s1], cj[s0:s1]
            dots = (np.cumsum(E[ii] * E[jj], axis=1)[:, -1]
                    if E.shape[1] else np.zeros(ii.size))
            dn = nrm[ii] * nrm[jj]
            nz = dn != 0                       # zero denom → SQL NULL → drop
            cos = np.full(ii.size, np.nan)
            cos[nz] = dots[nz] / dn[nz]
            # NaN cosine (NaN data, inf/inf) passes: Spark/DuckDB order NaN
            # above every value; zero-denom rows are already out (SQL NULL)
            keep = nz & ((cos >= tau) | np.isnan(cos)) & (ids[ii] != ids[jj])
            if keep.any():
                out_i.append(ids[ii[keep]])
                out_j.append(ids[jj[keep]])
                out_c.append(cos[keep])
    if not out_i:
        return None
    return (np.concatenate(out_i), np.concatenate(out_j),
            np.concatenate(out_c))


def _near_pairs_grouped(v: DataFrame, tau: float, id_type: str) -> DataFrame:
    """applyInPandas near-pair stage over ``v(id, blk, emb)``; one Arrow
    batch per block, numpy kernel inside (guide §4.2). ``blk`` must be
    non-null (null block keys never join in the SQL twin)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": pd.Series([], dtype=object),
                              "id_b": pd.Series([], dtype=object),
                              "cosine": pd.Series([], dtype="float64")})
        vecs = pdf["emb"].to_numpy()
        ok = np.fromiter((w is not None for w in vecs), dtype=bool,
                         count=len(vecs))
        if ok.sum() < 2:
            return empty
        ids_all = pdf["id"].to_numpy()[ok]
        vecs = vecs[ok]
        lens = np.fromiter((len(w) for w in vecs), dtype=np.int64,
                           count=len(vecs))
        frames = []
        for ln in np.unique(lens):
            sel = lens == ln
            if sel.sum() < 2:
                continue
            ids = ids_all[sel]
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            E = np.stack([np.asarray(w, dtype=np.float64)
                          for w in vecs[sel][order]]) if ln else \
                np.zeros((int(sel.sum()), 0))
            got = _block_pair_arrays(ids, E, tau)
            if got is not None:
                frames.append(pd.DataFrame(
                    {"id_a": got[0], "id_b": got[1], "cosine": got[2]}))
        if not frames:
            return empty
        out = pd.concat(frames, ignore_index=True)
        out["cosine"] = _doubles(out["cosine"].to_numpy())
        return out

    schema = f"id_a {id_type}, id_b {id_type}, cosine double"
    return v.groupBy("blk").applyInPandas(fn, schema)


def lsh_bucket_pandas(dim: int, n_planes: int = 6, seed: int = 7):
    """Random-hyperplane bucket code ``Σ (dot(v, p_i) > 0) << i``:
    projections computed with the exact sequential fold (cumsum), so the
    sign bits — and therefore the bucket ids — are bit-identical to the SQL
    fold and the DuckDB oracle. A NULL element makes every SQL projection
    NULL (bit 0), exactly like its NaN here."""
    planes = np.stack([np.asarray(_hyperplane(p, dim, seed), dtype=np.float64)
                       for p in range(n_planes)])

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _bucket(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        arrs = v.to_numpy()
        out = np.zeros(len(arrs), dtype=np.int64)
        ok = np.fromiter(
            (w is not None and len(w) == dim for w in arrs), dtype=bool,
            count=len(arrs))
        if ok.any():
            E = np.stack([np.asarray(w, dtype=np.float64)
                          for w in arrs[ok]])
            code = np.zeros(E.shape[0], dtype=np.int64)
            for p in range(n_planes):
                proj = np.cumsum(E * planes[p][None, :], axis=1)[:, -1]
                code |= (proj > 0).astype(np.int64) << p
            out[ok] = code
        # None / wrong-length rows keep bucket 0, matching the SQL
        # ``otherwise(0)`` bit default; their pairs are NULL-cosine anyway
        return pd.Series(out)

    return _bucket


def pairwise_near(df: DataFrame, *, tau: float, vec_col: str = "embedding",
                  id_col: str = "vec_id", block_col: str | None = None,
                  n_planes: int = 6, seed: int = 7, dim: int | None = None) -> DataFrame:
    """All pairs with cosine >= tau, computed within blocks only.

    ``block_col=None`` → LSH-bucket blocking (approximate recall, linear-ish
    cost) over ``dim``-long vectors, ``dim`` required; a user block column
    (e.g. label, domain) → exact within blocks.

    Implementation: one ``applyInPandas`` per block — BLAS prefilter + exact
    sequential-fold recompute (see the kernel note above) — replacing the
    r5 self-join + interpreted per-pair fold. Output rows are bit-identical;
    the per-pair cost drops from ~2*dim interpreted lambda calls to a shared
    matrix multiply (measured 265s → ~2s on the 20k-row q16 block layout).
    """
    if block_col is None:
        if dim is None:
            raise ValueError("pairwise_near: LSH blocking (block_col=None) "
                             "needs the vector length dim")
        df = df.withColumn(
            "_blk", lsh_bucket_pandas(dim, n_planes, seed)(F.col(vec_col)))
        block = "_blk"
    else:
        block = block_col
    id_type = dict(df.dtypes)[id_col]
    v = df.select(
        F.col(id_col).alias("id"), F.col(block).alias("blk"),
        _null_if_any_null(vec_col).alias("emb"),
    ).filter(F.col("blk").isNotNull())
    return _near_pairs_grouped(v, tau, id_type).distinct()


def semdedup(df: DataFrame, *, tau: float,
             centroids: list[list[float]] | None = None,
             n_centroids: int = 8, n_iter: int = 2,
             vec_col: str = "embedding", id_col: str = "vec_id",
             seed: int = 7, mode: str = "minid") -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup by k-means cluster +
    within-cluster cosine pruning.

    A vector is DROPPED iff some other vector in its cluster has cosine
    >= ``tau`` with it and a smaller id — the deterministic "min-id
    dominates" rule, which needs no transitive closure (each pair's verdict
    is local: the larger id loses). Returns one row per input vector:
    (id, cluster, kept int).

    Two keep rules, selected by ``mode``:

    - ``"minid"`` (default): a pair's verdict is local — the larger id
      loses. A dominator may itself be dropped, so on a similarity CHAIN
      1-2, 2-3 with cos(1,3) < tau only id 1 survives. Cheapest shape (one
      distinct over the pair ids, no iteration); never under-prunes (every
      dropped vector has SOME above-``tau`` neighbor with a smaller id,
      just not necessarily a KEPT one).
    - ``"component"`` (paper semantics): duplicate GROUPS are the connected
      components of the above-``tau`` pair graph (within clusters — edges
      never cross clusters) and exactly the min id of each group survives,
      so every dropped vector is transitively linked to its kept
      representative. Ids must be INTEGRAL (the CC label arithmetic is
      long) — non-integral id columns raise ``TypeError``; key string
      ids by ``xxhash64`` upstream (``"minid"`` accepts any orderable id).
      Components come from :func:`webextract.dedup.connected_components`,
      which runs Hash-Min with a fixed 25-round diameter budget —
      within-cluster near-dup graphs are quasi-cliques, 2-3 rounds — and
      reruns with star contraction (O(log^2 n) rounds on any topology)
      when a drifting-template similarity CHAIN is deeper than the budget.
      Neither keep rule subsumes the other: on edges (1,3),(2,3) minid
      keeps {1,2} while component keeps {1} (2 and 3 share the group
      through 3).

    Scale shape: cluster assignment is :func:`ivf_assign_pandas_exact`
    (bit-reproducible against the oracle's fold with literal ``centroids``;
    trains a deterministic k-means when none are given); the pairwise stage
    is :func:`pairwise_near` blocked ON THE CLUSTER KEY, so candidate cost
    is bounded by cluster co-occupancy, never corpus². At 10^12 scale the
    cluster id is the partition key and each cluster prunes independently
    — SemDeDup's
    published design point (clusters sized to fit one worker). The k-means
    centroid count grows as sqrt(corpus) to keep clusters bounded; the
    dominance rule keeps the min id of each pairwise-above-``tau``
    neighborhood (swap the id for a quality column upstream to keep the
    best copy, as pipeline.curate does for text near-dup).
    """
    if centroids is None:
        centroids = l2_normalize(kmeans_centroids(
            df, n_centroids=n_centroids, n_iter=n_iter, vec_col=vec_col,
            id_col=id_col, seed=seed))
    assigned = df.select(
        F.col(id_col), F.col(vec_col),
        ivf_assign_pandas_exact(centroids, vec_col).alias("cluster"),
    )
    pairs = pairwise_near(assigned, tau=tau, vec_col=vec_col, id_col=id_col,
                          block_col="cluster")
    if mode == "component":
        from .dedup import connected_components

        # raises TypeError on non-integral ids before any job runs
        comp = connected_components(pairs, src="id_a", dst="id_b")
        # group min survives: cluster_id IS the component min
        dropped = (comp.filter(F.col("id") != F.col("cluster_id"))
                   .select(F.col("id").alias(id_col)))
    elif mode == "minid":
        # id_b is dominated (some same-cluster id_a < id_b with cos >= tau)
        dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    else:
        raise ValueError(f"semdedup: unknown mode {mode!r} "
                         "(expected 'minid' or 'component')")
    # no broadcast hint: dropped scales with the near-dup count (can approach
    # corpus size), so the join strategy is left to AQE's runtime sizes
    return (
        assigned.join(dropped.withColumn("_drop", F.lit(1)), id_col, "left")
        .select(id_col, "cluster",
                F.when(F.col("_drop").isNull(), 1).otherwise(0)
                .cast("int").alias("kept"))
    )
