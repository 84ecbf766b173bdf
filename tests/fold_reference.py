"""Interpreted sequential-fold references for the :mod:`webextract.sim`
kernels — test-only.

Every expression here is the all-JVM form the DuckDB oracle SQL mirrors
(``aggregate``/``zip_with`` ≡ ``list_dot_product``): per-row interpreted
folds and a first-max CASE chain. The engine runs the vectorized kernels;
these forms only exist to check them, bit for bit, including the SQL edge
semantics (NULL vectors, NULL elements, ragged lengths, zero norms, ties).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from webextract.sim import _dot, _hyperplane, _lit_vec, _norm


def _dot_lit(vec_col: str, vals: list[float]):
    """Sequential-fold dot product against a literal vector — the same fold
    as :func:`webextract.sim._dot`, so it is bit-equal to DuckDB
    ``list_dot_product`` on the same doubles."""
    arr = ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in vals)
    return F.expr(
        f"aggregate(zip_with({vec_col}, array({arr}), "
        f"(x, y) -> CAST(x AS DOUBLE) * y), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def ivf_assign_expr(centroids: list[list[float]], vec_col: str = "embedding"):
    """IVF cell assignment ``argmax_i dot(v, c_i)`` via sequential folds + a
    first-max CASE chain (ties → lowest cell index) — the expression the
    q26/q68 oracles' ``_centroid_case_sql`` mirrors. Expects L2-normalized
    centroids."""
    d = [_dot_lit(vec_col, c) for c in centroids]
    chain = None
    for i in range(len(d) - 1):
        rest = d[i + 1:]
        best_rest = rest[0] if len(rest) == 1 else F.greatest(*rest)
        cond = d[i] >= best_rest
        chain = F.when(cond, i) if chain is None else chain.when(cond, i)
    if chain is None:  # single centroid
        return F.lit(0).cast("int")
    return chain.otherwise(len(d) - 1).cast("int")


def lsh_bucket_col(vec_col: str, dim: int, n_planes: int = 8, seed: int = 7):
    """Sign-of-projection bit code: bucket = Σ (dot(v, p_i) > 0) << i."""
    code = None
    for p in range(n_planes):
        proj = _dot_lit(vec_col, _hyperplane(p, dim, seed))
        bit = F.when(proj > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, p)
        code = term if code is None else code.bitwiseXOR(term)
    return code


def cosine_vs_query_fold(df, query_vec: list[float], vec_col: str = "embedding"):
    """``df`` plus a ``cosine`` column: the interpreted
    ``_dot(v, qv) / (_norm(v) * _norm(qv))`` against a literal query."""
    return df.withColumn("qv", _lit_vec(query_vec)).withColumn(
        "cosine", _dot(vec_col, "qv") / (_norm(vec_col) * _norm("qv")))


def ivf_topk_fold(df, query_vec: list[float], *, k: int, nprobe: int,
                  centroids: list[list[float]], vec_col: str = "embedding",
                  id_col: str = "vec_id"):
    """All-JVM IVF top-k on given centroids: CASE-chain cells, python-fold
    probe ranking (ties → lower cell), interpreted fold cosine."""
    qv = [float(x) for x in query_vec]
    dots = []
    for i, c in enumerate(centroids):
        s = 0.0
        for x, y in zip(c, qv):
            s += float(x) * y
        dots.append((s, i))
    probes = [i for _, i in sorted(dots, key=lambda t: (-t[0], t[1]))[:nprobe]]
    cand = (df.withColumn("cell", ivf_assign_expr(centroids, vec_col))
            .filter(F.col("cell").isin(probes)))
    return (
        cosine_vs_query_fold(cand, query_vec, vec_col)
        .select(id_col, "cell", "cosine")
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def pairwise_near_fold(df, *, tau, block_col, id_col="vec_id",
                       vec_col="embedding"):
    """Near pairs as a self-join on the block key + interpreted
    aggregate/zip_with fold — the plan :func:`webextract.sim.pairwise_near`'s
    kernel replaces, and the q16/q32 oracles' join."""
    v = df.select(
        F.col(id_col).alias("id"), F.col(block_col).alias("blk"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("e"),
    ).withColumn("nrm", _norm("e"))
    a = v.select(F.col("id").alias("id_a"), F.col("blk"),
                 F.col("e").alias("ea"), F.col("nrm").alias("na"))
    b = v.select(F.col("id").alias("id_b"), F.col("blk"),
                 F.col("e").alias("eb"), F.col("nrm").alias("nb"))
    cos = _dot("ea", "eb") / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "blk").filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= tau)
        .distinct()
    )
