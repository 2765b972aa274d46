"""Physical-plan shape pins for the kernel's shuffle-economy claims.

The join kernel's docstrings make concrete plan-level claims (one
exchange serves dedup + out-degree + scatter join; the cached edge
frame's partitioning is reused; parquet scans prune and push down).
These tests pin them so a Spark upgrade or refactor that silently
reintroduces a shuffle fails loudly instead of doubling iteration cost
at 100-TB scale.

AQE is off in the test session (conftest), so plans are deterministic.
"""

from __future__ import annotations

import contextlib
import io
import os
import uuid

import pytest
from pyspark.sql import functions as F

from propagon_spark.graph.core import Graph


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def _live_exchanges(df) -> int:
    """Exchanges in the live execution path — the cached-build subtree
    under InMemoryRelation is display-only (already materialized) and
    excluded."""
    return _plan(df).split("InMemoryRelation")[0].count("Exchange")


def _raw_edges(spark):
    return spark.createDataFrame(
        [(i % 7, (i + 1) % 5, 1.0) for i in range(60)],
        "src long, dst long, weight double",
    )


def test_folded_dedup_single_exchange_serves_dedup_and_outdeg(spark):
    # pagerank.py folds dedup into the scatter repartition: hash(src)
    # clustering satisfies the (src, dst) distinct AND the out-degree
    # aggregate — ONE exchange of the edge data end to end
    e = _raw_edges(spark)
    ded = e.select("src", "dst").repartition(4, "src").distinct()
    assert _live_exchanges(ded) == 1
    outdeg = ded.groupBy("src").agg(F.count("*").alias("outdeg"))
    assert _live_exchanges(outdeg) == 1


def test_cached_graph_partitioning_reused_by_src_aggregates(spark):
    # Graph persists the id-typed frame hash-partitioned by src; every
    # kernel's per-src aggregate must reuse it (zero live exchanges)
    g = Graph.from_dense_ids(_raw_edges(spark), weight="weight")
    try:
        agg = g.edges.groupBy("src").agg(F.sum("weight").alias("s"))
        assert _live_exchanges(agg) == 0
    finally:
        g.unpersist()


def test_scatter_join_ships_only_the_vertex_side(spark):
    # per-iteration scatter join: the edge side stays put (its one
    # exchange is the dedup repartition), the vertex-sized ranks side
    # hash-exchanges to meet it — exactly 2 exchanges, never 3
    e = _raw_edges(spark)
    ded = e.select("src", "dst").repartition(4, "src").distinct()
    ranks = (
        spark.range(7)
        .select(F.col("id").alias("src"), F.lit(0.1).alias("rank"))
        .hint("shuffle_hash")
    )
    contrib = ded.join(ranks, "src")
    assert _plan(contrib).count("Exchange") == 2


def test_parquet_scan_prunes_and_pushes_down(spark):
    sf_dir = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
    doc = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    q = doc.where(F.col("text").isNotNull()).select("doc_id", "text")
    plan = _plan(q)
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    # column pruning: only the projected columns reach the scan
    assert "doc_id" in scan and "text" in scan
    assert "n_chars" not in scan and "source" not in scan
    # predicate pushdown: the filter reaches the scan
    assert "PushedFilters: [IsNotNull(text)]" in plan


def test_lsh_candidate_distinct_keys_on_id_pair_only(spark):
    # lsh_cosine_topk dedups bucket-join candidates BEFORE any vector is
    # attached: the distinct's aggregate keys are the two long ids, never
    # the embedding arrays (the round-4 wart shuffled ~dim·8 bytes/row ×
    # num_tables and hash-compared whole float arrays per candidate)
    from propagon_spark.functions.similarity import lsh_cosine_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(lsh_cosine_topk(emb, k=2, num_planes=4, num_tables=2, dim=3))
    dedup_aggs = [
        ln
        for ln in plan.splitlines()
        if "HashAggregate" in ln and "query_id" in ln and "neighbor_id" in ln
    ]
    assert dedup_aggs, "candidate-dedup aggregate missing from plan"
    for ln in dedup_aggs:
        keys = ln.split("keys=[", 1)[1].split("]", 1)[0]
        assert "_qv" not in keys and "_cv" not in keys and "embedding" not in keys


def _fit_jobs(spark, fit) -> int:
    """Spark jobs one kernel call runs, counted through its job group."""
    sc = spark.sparkContext
    group = f"jobs-per-turn-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fit()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "kernel", ["katz", "leader_rank", "rank_centrality", "random_walker"]
)
def test_fixpoint_kernels_run_one_job_per_turn(spark, kernel):
    # each turn of a single-frame loop is ONE job: the eager checkpoint of
    # the next state, with the stop test's scalars observed on that job
    from propagon_spark.graph.katz import katz
    from propagon_spark.graph.leader_rank import leader_rank
    from propagon_spark.graph.random_walker import random_walker
    from propagon_spark.graph.rank_centrality import rank_centrality

    rows = [("a", "b", 2.0), ("b", "c", 1.0), ("c", "a", 1.0), ("a", "c", 1.0)]
    frame = spark.createDataFrame(rows, "src string, dst string, weight double")
    games = frame.toDF("winner", "loser", "weight")
    g = Graph.from_edges(frame, weight="weight")
    fits = {
        "katz": lambda it: katz(g, iterations=it, tolerance=0.0),
        "leader_rank": lambda it: leader_rank(g, iterations=it, tolerance=0.0),
        "rank_centrality": lambda it: rank_centrality(
            games, iterations=it, tolerance=0.0
        ),
        "random_walker": lambda it: random_walker(
            games, iterations=it, tolerance=0.0
        ),
    }
    try:
        jobs2 = _fit_jobs(spark, lambda: fits[kernel](2))
        jobs4 = _fit_jobs(spark, lambda: fits[kernel](4))
    finally:
        g.unpersist()
    assert jobs4 - jobs2 == 2


@pytest.mark.parametrize("impl", ["csr", "join"])
def test_seeded_pagerank_resolves_seeds_in_one_job(spark, impl):
    # seed names resolve to ids with ONE collect, shared by the teleport
    # vector (csr) and the vertex frame (join); nothing else changes
    from propagon_spark.graph.pagerank import pagerank

    rows = [(f"v{i}", f"v{(i + 1) % 6}") for i in range(6)]
    g = Graph.from_edges(spark.createDataFrame(rows, "src string, dst string"))

    def fit(**kw):
        return _fit_jobs(spark, lambda: pagerank(g, iterations=2, impl=impl, **kw))

    try:
        fit()  # warm-up: one-time session work stays out of the counts
        plain = fit()
        seeded = fit(seeds={"v0": 2.0, "v3": 1.0})
    finally:
        g.unpersist()
    assert seeded - plain == 1
