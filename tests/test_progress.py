"""Progress-callback hook (reference FR-3.5, progress.rs:1-30).

The iterative kernels invoke a user-supplied Progress (or bare callable)
on the driver once per solver turn with the same metrics row they append
to their result — so long fits are observable programmatically without
log scraping.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

import pytest

from propagon_spark.graph.components import connected_components
from propagon_spark.graph.core import Graph
from propagon_spark.graph.hits import hits
from propagon_spark.graph.pagerank import pagerank
from propagon_spark.progress import CallbackProgress, Progress, as_progress


def chain_graph(spark, n=6):
    rows = [(f"v{i}", f"v{i+1}", 1.0) for i in range(n - 1)]
    return Graph.from_edges(
        spark.createDataFrame(rows, "src string, dst string, weight double")
    )


def test_pagerank_callback_per_iteration_both_kernels(spark):
    g = chain_graph(spark)
    row_keys = set()
    for impl in ("csr", "join"):
        calls = []
        res = pagerank(
            g, iterations=3, impl=impl, progress=lambda ph, m: calls.append((ph, m))
        )
        # join kernel may chain several power steps into one solver turn;
        # callback fires per TURN and the steps sum to the iteration count
        assert all(ph == "pagerank" for ph, _ in calls)
        assert sum(m["steps"] for _, m in calls) == res.iterations == 3
        assert calls == [("pagerank", m) for m in res.metrics]
        assert all("l1_delta" in m and "mass" in m for _, m in calls)
        row_keys |= {frozenset(m) for _, m in calls}
    # one metrics row schema, whichever kernel ran
    assert len(row_keys) == 1


def test_hits_callback_counts(spark):
    g = chain_graph(spark)
    calls = []
    res = hits(g, iterations=4, tolerance=0.0, progress=lambda ph, m: calls.append((ph, m)))
    assert len(calls) == res.iterations == 4
    assert calls[0][0] == "hits"
    assert calls[-1][1]["iteration"] == 4


def test_components_callback_rounds_and_progress_subclass(spark):
    g = chain_graph(spark, n=9)

    class Recorder(Progress):
        def __init__(self):
            self.started, self.finished, self.rows = None, False, []

        def start(self, phase, total=None):
            self.started = phase

        def iteration(self, phase, metrics):
            self.rows.append(metrics)

        def finish(self):
            self.finished = True

    rec = Recorder()
    connected_components(g, progress=rec)
    assert rec.started == "components" and rec.finished
    # fixpoint ends with a no-change round; rounds are 1..k
    assert rec.rows[-1]["changed"] == 0
    assert [m["round"] for m in rec.rows] == list(range(1, len(rec.rows) + 1))


def test_as_progress_normalization():
    assert isinstance(as_progress(None), Progress)
    assert isinstance(as_progress(lambda p, m: None), CallbackProgress)
    p = Progress()
    assert as_progress(p) is p
    with pytest.raises(TypeError):
        as_progress(42)


def _cached_frames(spark) -> list[str]:
    """Names of the live DataFrame cache entries (localCheckpoint blocks
    are ``MapPartitionsRDD`` entries and are left out)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sorted(i.name() for i in infos if i.name() != "MapPartitionsRDD")


def _csr_block_dirs(spark) -> list[str]:
    """The CSR kernel's edge-block dirs under the checkpoint dir."""
    ckdir = urlparse(spark.sparkContext.getCheckpointDir()).path
    return sorted(e for e in os.listdir(ckdir) if e.startswith("csr_blocks_"))


@pytest.mark.parametrize(
    "kernel", ["components", "pagerank_join", "pagerank_csr"]
)
def test_failed_fit_releases_its_caches(spark, kernel):
    g = chain_graph(spark)

    def boom(phase, metrics):
        raise RuntimeError("callback failed")

    before = _cached_frames(spark)
    blocks_before = _csr_block_dirs(spark)
    try:
        with pytest.raises(RuntimeError, match="callback failed"):
            if kernel == "components":
                connected_components(g, progress=boom)
            else:
                impl = kernel.split("_")[1]
                pagerank(g, iterations=3, impl=impl, progress=boom)
        assert _cached_frames(spark) == before
        assert _csr_block_dirs(spark) == blocks_before
    finally:
        g.unpersist()
