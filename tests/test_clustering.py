"""Lloyd k-means: convergence, monotone inertia, determinism, plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from ast_data_pipeline_spark.operators.clustering import (
    assign_to_centroids,
    inertia,
    kmeans_lloyd,
)
from ast_data_pipeline_spark.sources.catalog import load

K, DIM = 4, 64


def _emb(spark, sf_dir):
    return load(spark, sf_dir, "embeddings")


def test_assignment_is_valid_partition(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    assigned, cents, iters = kmeans_lloyd(emb, k=K, dim=DIM, max_iter=3)
    assert len(cents) == K and all(len(c) == DIM for c in cents)
    assert 1 <= iters <= 3
    n_in = emb.count()
    stats = assigned.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cid").alias("lo"),
        F.max("cid").alias("hi"),
    ).collect()[0]
    assert stats["n"] == n_in  # every vector assigned exactly once
    assert 0 <= stats["lo"] and stats["hi"] < K


def test_inertia_monotone_nonincreasing(spark, sf_dir):
    """Each Lloyd step must not increase the loss (textbook invariant)."""
    emb = _emb(spark, sf_dir)
    seed = [list(r["embedding"]) for r in emb.orderBy("vec_id").limit(K).collect()]
    losses = []
    cents = seed
    for _ in range(4):
        assigned = assign_to_centroids(emb, cents)
        losses.append(inertia(assigned))
        rows = (
            assigned.groupBy("cid")
            .agg(*[F.avg(F.element_at("embedding", i + 1)).alias(f"m{i}") for i in range(DIM)])
            .collect()
        )
        nxt = [list(c) for c in cents]
        for r in rows:
            nxt[r["cid"]] = [r[f"m{i}"] for i in range(DIM)]
        cents = nxt
    for a, b in zip(losses, losses[1:]):
        assert b <= a + 1e-9, losses


def test_deterministic_given_seed(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    a1, c1, _ = kmeans_lloyd(emb, k=K, dim=DIM, max_iter=2)
    a2, c2, _ = kmeans_lloyd(emb, k=K, dim=DIM, max_iter=2)
    assert c1 == c2
    census = lambda a: sorted(  # noqa: E731
        (r["cid"], r["n"])
        for r in a.groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert census(a1) == census(a2)


def test_assignment_plan_has_no_shuffle_or_python(spark, sf_dir):
    """Assignment must be a narrow JVM-only stage: literals, no exchange."""
    emb = _emb(spark, sf_dir)
    cents = [[0.0] * DIM, [1.0] * DIM]
    plan = assign_to_centroids(emb, cents)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _ref_clusters(pairs):
    """Union-find reference for the CC contract: one row per doc named
    in ``pairs`` -> (doc_id, cluster_id = min reachable doc, cluster
    size, is_canonical)."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = {d: find(d) for d in parent}
    sizes = {}
    for r in roots.values():
        sizes[r] = sizes.get(r, 0) + 1
    return sorted((d, r, sizes[r], d == r) for d, r in roots.items())


def test_neardup_clusters_chain_and_clique(spark):
    # chain 1-2-3-4-5 (diameter 4); clique 10-11-12; pair 20-21
    from ast_data_pipeline_spark.operators.dedup import neardup_clusters_star

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (10, 12), (11, 12),
         (20, 21)],
        "doc_a long, doc_b long",
    )
    out = {
        r.doc_id: (r.cluster_id, r.n_cluster_docs, r.is_canonical)
        for r in neardup_clusters_star(pairs).collect()
    }
    assert {d: c for d, (c, _, _) in out.items()} == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }
    assert all(n == 5 for d, (_, n, _) in out.items() if d <= 5)
    assert sorted(d for d, (_, _, canon) in out.items() if canon) == [1, 10, 20]


def test_star_cc_matches_hashmin_and_bounds_rounds(spark):
    # Equivalence with the union-find reference on mixed topology + the
    # O(log n) round bound on the adversarial case: a 64-node chain
    # (diameter 63, which label propagation needs 63 rounds for)
    # converges within 10 star rounds.
    from ast_data_pipeline_spark.operators.dedup import neardup_clusters_star

    edges = [(1, 2), (2, 3), (3, 4), (4, 5),
             (10, 11), (10, 12), (11, 12),
             (20, 21), (30, 31), (31, 32), (30, 32), (32, 33)]
    mixed = spark.createDataFrame(edges, "doc_a long, doc_b long")
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(neardup_clusters_star(mixed)) == _ref_clusters(edges)

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 163)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r.cluster_id for r in neardup_clusters_star(chain, max_iters=10).collect()}
    assert out == {i: 100 for i in range(100, 164)}


def test_star_cc_matches_hashmin_on_random_graphs(spark):
    # Property check: on arbitrary random pair graphs — self-pairs and
    # an empty pair frame included — star CC equals the union-find
    # reference (same labels, sizes, canonicals).
    import random

    from ast_data_pipeline_spark.operators.dedup import neardup_clusters_star

    rng = random.Random(5)
    graphs = [[]]
    for _ in range(4):
        n_nodes = rng.randint(5, 40)
        graphs.append([
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(rng.randint(1, 60))
        ])
    # a doc seen only in a self-pair, and a self-pair inside a component
    graphs.append([(50, 50), (1, 2), (2, 2), (2, 3)])
    key = lambda df: sorted(map(tuple, df.collect()))
    for trial, edges in enumerate(graphs):
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        assert key(neardup_clusters_star(pairs)) == _ref_clusters(edges), (
            f"trial {trial}: {edges}"
        )
