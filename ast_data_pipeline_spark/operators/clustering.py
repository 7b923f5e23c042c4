"""Iterative Lloyd k-means over an embedding column.

Reference behavior: the reference's vector-quantization path
(clustering of chip embeddings) assigns each vector to its nearest
centroid and refines centroids by the cluster mean until stable.

Spark-first design (the same loop structure MLlib's KMeans uses):
only the K x dim centroid matrix ever crosses the driver boundary.

- **Assignment is literal-folded, not joined.** Centroids are inlined
  as array literals, so each iteration's assignment is a single
  narrow map stage in WholeStageCodegen: per row, K squared-distance
  folds (``aggregate(zip_with(...))``) and an ``array_min`` over
  (dist, cid) structs for the argmin. No broadcast exchange, no
  shuffle, no Python in the loop.
- **Update is one partial-agg shuffle.** ``groupBy(cid)`` with
  dim per-element ``avg`` columns; map-side combine reduces each
  task's contribution to <= K x dim doubles before the exchange, so
  shuffle volume is O(tasks * K * dim) regardless of row count.
- **Driver holds K x dim floats only** — at 100 TB the fact table is
  scanned once per iteration (cacheable) while driver traffic stays
  kilobytes. Convergence = max centroid L2 shift < tol.

Float-sum reduction order makes iterated centroids non-bit-
reproducible across engines, so this operator is pytest-verified
(inertia monotonicity, convergence, determinism on a fixed frame)
rather than DuckDB-oracled; a single assignment step (argmax cosine
over K seed centroids) IS oracled, as the coarse-cell assignment of
``x_ivf_nprobe_sweep``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from ast_data_pipeline_spark.lineage import lineage_cut_lazy


def _sq_dist(vec_col: str | Column, centroid: Column) -> Column:
    """Squared Euclidean distance as a sequential left fold (JVM-side)."""
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    diffs = F.zip_with(vec, centroid, lambda a, b: (a - b) * (a - b))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def assign_to_centroids(
    df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Add ``cid`` (nearest centroid, ties -> lowest id) and ``sq_dist``.

    Pure expression code: array_min over (dist, cid) structs compares
    dist first, then cid — a deterministic argmin with no shuffle.

    The K x dim centroid matrix enters the plan as ONE nested-array
    ``Literal`` (not a CreateArray tree of K*dim scalar literals).
    Complex-typed literals land in the codegen ``references[]`` array
    rather than the generated Java source, so every Lloyd round emits
    byte-identical source and hits the codegen cache — the per-round
    compile floor that made the Lloyd pair the PROFILE.md tail
    (VERDICT r6 #6) disappears, while the arithmetic (per-element
    widen, sequential left fold, ties to lowest cid) is unchanged.
    """
    cl = F.lit([[float(x) for x in c] for c in centroids])
    pairs = F.transform(
        cl,
        lambda c, i: F.struct(
            _sq_dist(vec_col, c).alias("d"), i.alias("cid")
        ),
    )
    best = F.array_min(pairs)
    return df.withColumn("_best", best).withColumn(
        "cid", F.col("_best.cid")
    ).withColumn("sq_dist", F.col("_best.d")).drop("_best")


def kmeans_lloyd(
    df: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 10,
    tol: float = 1e-6,
) -> tuple[DataFrame, list[list[float]], int]:
    """Lloyd's algorithm; returns (assignments, centroids, iterations).

    Seeding is deterministic: the K rows with the lowest ``id_col``
    (a stand-in for kmeans|| — at scale you'd seed from
    ``x_hash_sample``'s md5 gate instead of an orderBy+limit).
    """
    # Round-boundary lineage cut (same trick as pagerank/BPE): every
    # Lloyd round re-reads the input, so pin it to local blocks once
    # instead of re-scanning parquet + re-decoding the vectors per
    # round (PROFILE.md r5: the two Lloyd queries were the sweep tail).
    df = df.transform(lineage_cut_lazy)
    seed_rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    )
    centroids = [list(r[vec_col]) for r in seed_rows]
    if len(centroids) < k:
        raise ValueError(f"need >= {k} rows to seed {k} centroids")

    iters = 0
    for _ in range(max_iter):
        iters += 1
        assigned = assign_to_centroids(df, centroids, vec_col)
        # One partial-agg shuffle: K x dim (mean) rows out. The update
        # is a posexplode + SINGLE avg, not dim separate agg columns —
        # same multiset of floats summed, but the per-iteration plan
        # Catalyst must analyze/optimize/compile shrinks from 64 agg
        # expressions to one (the Lloyd pair sat at the PROFILE.md
        # tail purely on that per-round planning floor, VERDICT r6 #6).
        stats = (
            assigned.select("cid", F.posexplode(F.col(vec_col)))
            .groupBy("cid", "pos")
            .agg(F.avg("col").alias("m"))
            .collect()
        )
        new_centroids = [list(c) for c in centroids]
        for row in stats:  # empty clusters keep their old centroid
            new_centroids[row["cid"]][row["pos"]] = row["m"]
        shift = max(
            math.sqrt(sum((a - b) * (a - b) for a, b in zip(old, new)))
            for old, new in zip(centroids, new_centroids)
        )
        centroids = new_centroids
        if shift < tol:
            break

    return assign_to_centroids(df, centroids, vec_col), centroids, iters


def inertia(assigned: DataFrame) -> float:
    """Sum of squared distances to assigned centroids (the Lloyd loss)."""
    return assigned.agg(F.sum("sq_dist").alias("i")).collect()[0]["i"]


def kmeans_lloyd_exact(
    df: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
) -> DataFrame:
    """Cross-engine bit-exact Lloyd: fixed iteration count, centroid
    means via the exact-decimal path (functions/exact.davg semantics).

    Same loop shape as ``kmeans_lloyd`` (literal-folded assignment, one
    partial-agg shuffle per iteration, K x dim doubles to the driver),
    but every arithmetic step is deterministic across engines:

    - float32 elements widen to double (exact) before the decimal cast,
    - per-dim centroid means are round(sum(decimal), 4)::double / n —
      order-free decimal addition, then one IEEE division,
    - squared distances are sequential left folds (aggregate ↔
      list_reduce), ties break to the lowest cid.

    That makes the ITERATED algorithm oracle-able (x_kmeans_lloyd_exact
    runs the identical recursion as a DuckDB recursive CTE); the
    convergence-based ``kmeans_lloyd`` stays the production variant.
    Raises if a cluster empties (the recursion's GROUP BY would drop
    it and the two engines could then diverge — with data-seeded
    centroids this does not occur; a real run would reseed).
    """
    from ..functions.exact import davg

    # same round-boundary lineage cut as kmeans_lloyd
    df = df.transform(lineage_cut_lazy)
    seed_rows = (
        df.filter(F.col(id_col) < k).select(id_col, vec_col).orderBy(id_col).collect()
    )
    if len(seed_rows) < k:
        raise ValueError(f"need rows with {id_col} < {k} to seed")
    centroids = [[float(x) for x in r[vec_col]] for r in seed_rows]

    for _ in range(iters):
        assigned = assign_to_centroids(df, centroids, vec_col)
        # posexplode + ONE davg per (cid, dim) — the same shape the
        # recursive-CTE oracle uses (its d.dim fan-out), the same
        # order-free decimal sum per cell, and a per-round plan small
        # enough that planning stops dominating toy-scale runs
        # (VERDICT r6 #6). K x dim rows to the driver, as before.
        stats = (
            assigned.select("cid", F.posexplode(F.col(vec_col)))
            .groupBy("cid", "pos")
            .agg(davg(F.col("col").cast("double")).alias("m"))
            .collect()
        )
        touched = {row["cid"] for row in stats}
        if len(touched) < k:
            raise ValueError(
                "kmeans_lloyd_exact: a cluster emptied — the recursive "
                "oracle would drop it; reseed or use kmeans_lloyd"
            )
        for row in stats:
            centroids[row["cid"]][row["pos"]] = row["m"]

    return assign_to_centroids(df, centroids, vec_col).select(
        id_col, F.col("cid").cast("int").alias("cid")
    )
