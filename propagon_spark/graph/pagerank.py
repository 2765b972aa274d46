"""PageRank / personalized PageRank — the flagship kernel.

Re-creates the exact semantics of
``/root/reference/crates/propagon/src/algos/pagerank.rs`` (params 63-83,
sink policies 31-46/147-218, teleport 51-59/106-131, update rule 175-235)
as a Spark-first power iteration.

:func:`pagerank` is the one turn loop. It validates the parameters,
resolves the seeds, opens the checkpoint and reads its newest state, then
builds one of two kernels and drives it: step count per turn, NaN guard,
the per-turn metrics row, progress, checkpoint saves and the stop test.
Each kernel is an object with ``chain_max``, ``timings``,
``advance(steps, need_delta) -> (l1, mass)`` and ``ranks()``; its
constructor is its setup and registers what it must release on the fit's
``ExitStack``. The dispatch is the only place that knows there are two:

- the CSR kernel (pagerank_csr.py) while ``num_vertices <=
  csr_max_vertices`` — distributed edge blocks, driver-held rank vector,
  no per-iteration shuffle;
- the join kernel (:class:`_JoinKernel`) beyond it, pure dataflow:
  - **scatter**: join ranks to the dedup'd edge frame on ``src``
    (both sides hash-partitioned on the key → no per-iteration re-shuffle
    of the big edge side),
  - **gather**: ``groupBy(dst).sum`` — partial+final hash aggregation,
    the one unavoidable shuffle per iteration,
  - **normalize/update**: the sink mass as a driver scalar + a projection.

Reference semantics reproduced exactly (parity fixtures in tests):
- parallel edges deduplicated, weights ignored (``pagerank.rs:6-7,133-141``);
- sink policies ``none | uniform | all | reverse``:
  - ``reverse`` (reference default): each sink's out-edges are replaced by
    its dedup'd in-neighbors — a topology rewrite computed once before
    iterating (``pagerank.rs:147-164``);
  - ``all``: pooled sink mass spread to every *other* node —
    ``(S - p_i·[i is sink])/(n-1)`` (``pagerank.rs:194-201``); ignores
    personalization by design (doc gotcha ``pagerank.rs:15-18``);
  - ``uniform``: sink mass follows the teleport distribution
    (``pagerank.rs:206-218``);
  - ``none``: mass leaks;
- teleport ``uniform`` or seed dict (positive finite weights, normalized,
  unknown names are errors — ``pagerank.rs:106-131``);
- init = teleport vector (``pagerank.rs:170-173``);
- update ``p ← d·(gathered + sink_term) + (1−d)·v``.

Beyond the reference (north rule): convergence mode (L1 delta < tol) with
per-iteration metrics, checkpoint/resume mid-convergence, lineage
truncation via localCheckpoint, and explicit salting of the scatter join
for high-out-degree hubs (AQE skew join as backstop).
"""

from __future__ import annotations

import logging
import math
import time
import uuid
from contextlib import ExitStack
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from propagon_spark.canon import dedup_edges
from propagon_spark.errors import InvalidParameterError, NumericError
from propagon_spark.graph.core import Graph, sorted_scores
from propagon_spark.graph.pagerank_csr import CsrKernel
from propagon_spark.plans.checkpoint import CheckpointManager
from propagon_spark.plans.iterate import STORAGE, truncate_lineage
from propagon_spark.progress import as_progress

logger = logging.getLogger("propagon_spark.pagerank")

_SINKS = ("none", "uniform", "all", "reverse")

# Skew guard for the folded dedup (repartition-by-src-then-distinct):
# probe partition sizes only when a partition above the row floor is even
# possible, and fall back to dedup-then-repartition when one partition
# holds > _SKEW_MAX_RATIO x the mean AND exceeds the floor. Module-level
# so tests can exercise the fallback on small graphs.
_SKEW_PROBE_MIN_ROWS = 5_000_000
_SKEW_MAX_RATIO = 4

# Join-kernel loop layout (see _JoinKernel): the repart gather from this
# many vertices on, with loop partitions sized so a task's hash tables
# hold about _KEYS_PER_TASK entries (≈ 3-5 MB per task map) and no task
# exceeds _EDGE_ROWS_PER_TASK edge rows.
_REPART_MIN_VERTICES = 2_000_000
_KEYS_PER_TASK = 100_000
_EDGE_ROWS_PER_TASK = 16_000_000


@dataclass
class PageRankResult:
    scores: DataFrame  # (name, score) sorted desc, name asc
    ranks: DataFrame  # (id, rank)
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)
    #: per-phase wall-clock breakdown (kernel, setup_s, per-iteration
    #: phase sums) — the evidence trail for the N→4N scaling criterion
    timings: dict = field(default_factory=dict)


def _teleport(g: Graph, seeds: dict[str, float] | None) -> dict[int, float] | None:
    """Seed weights normalized to sum 1, keyed by vertex id; ``None``
    (uniform 1/n) when ``seeds`` is None. Names resolve with ONE collect,
    shared by both kernels.

    Seed validation mirrors ``pagerank.rs:106-131``: non-empty, weights
    positive and finite, names must exist in the graph.
    """
    if seeds is None:
        return None
    if len(seeds) == 0:
        raise InvalidParameterError("seed list must not be empty")
    for name, w in seeds.items():
        if not (isinstance(w, (int, float)) and math.isfinite(w) and w > 0):
            raise InvalidParameterError(
                f"seed weight for {name!r} must be positive and finite, got {w!r}"
            )
    names = g.spark.createDataFrame([(str(k),) for k in seeds], "name string")
    ids = {r["name"]: r["id"] for r in names.join(g.vocab, "name").collect()}
    missing = sorted({str(k) for k in seeds} - set(ids))
    if missing:
        raise InvalidParameterError(f"unknown seed name(s): {missing}")
    total = float(sum(seeds.values()))
    return {ids[str(k)]: float(w) / total for k, w in seeds.items()}


def _reverse_rewrite(edges: DataFrame) -> DataFrame:
    """Sink::Reverse topology rewrite (``pagerank.rs:147-164``).

    For each sink s (no out-edges), add edges s→u for every distinct
    in-neighbor u of s. Every vertex is an edge endpoint, so each sink has
    ≥1 in-neighbor and no sinks remain afterwards.
    """
    outs = edges.select("src").distinct()
    sink_in = (
        edges.join(
            outs.withColumnRenamed("src", "dst"), "dst", "left_anti"
        )  # edges whose dst is a sink
        .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        .distinct()
    )
    return edges.unionAll(sink_in)


def _canonical_edges(g: Graph, sink: str) -> DataFrame:
    """Distinct ``(src, dst)``, with the reverse rewrite for ``sink="reverse"``."""
    edges = dedup_edges(g.edges)
    return _reverse_rewrite(edges) if sink == "reverse" else edges


def pagerank(
    g: Graph,
    damping: float = 0.85,
    iterations: int = 10,
    sink: str = "reverse",
    seeds: dict[str, float] | None = None,
    tol: float | None = None,
    max_iterations: int = 200,
    checkpoint_interval: int = 10,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    resume: bool = False,
    hub_threshold: int = 1_000_000,
    hub_salts: int = 16,
    impl: str = "auto",
    csr_max_vertices: int = 10_000_000,
    progress=None,
) -> PageRankResult:
    """Fit PageRank. ``tol=None`` → fixed ``iterations`` (reference parity
    mode, default 10); ``tol`` set → iterate to L1 delta < tol (north-rule
    convergence mode, bounded by ``max_iterations``).

    ``checkpoint_dir`` + ``run_id`` enable durable Parquet checkpoints every
    ``checkpoint_interval`` iterations; ``resume=True`` continues from the
    newest durable checkpoint of the same run.

    ``impl``: ``"auto"`` picks the CSR-blocked vectorized kernel
    (pagerank_csr.py — distributed edge blocks, broadcast vertex state, no
    per-iteration shuffle) while ``num_vertices <= csr_max_vertices``, the
    pure-dataflow join kernel beyond; force with ``"csr"`` / ``"join"``.

    ``progress``: a :class:`propagon_spark.progress.Progress` or a bare
    ``callable(phase, metrics_row)`` invoked on the driver after every
    solver turn with the same row appended to ``result.metrics``
    (reference FR-3.5, ``progress.rs:1-30``).
    """
    if sink not in _SINKS:
        raise InvalidParameterError(f"sink must be one of {_SINKS}, got {sink!r}")
    if not (0.0 < damping < 1.0):
        raise InvalidParameterError(f"damping must be in (0,1), got {damping}")
    prog = as_progress(progress)
    if impl not in ("auto", "csr", "join"):
        raise InvalidParameterError(f"impl must be auto|csr|join, got {impl!r}")
    teleport = _teleport(g, seeds)

    ckpt: CheckpointManager | None = None
    metrics: list[dict] = []
    start_iter, state = 0, None
    if checkpoint_dir is not None:
        ckpt = CheckpointManager(g.spark, checkpoint_dir, run_id or uuid.uuid4().hex)
        latest = ckpt.latest() if resume else None
        if latest is not None:
            start_iter, state, metrics = latest

    total_iters = iterations if tol is None else max_iterations
    it = last_ckpt = start_iter
    converged = False
    prev_l1: float | None = None
    rate: float | None = None
    with ExitStack() as release:
        if impl == "csr" or (impl == "auto" and g.num_vertices <= csr_max_vertices):
            kernel = CsrKernel(
                g, _canonical_edges(g, sink), sink, damping, teleport, state,
                release,
            )
        else:
            kernel = _JoinKernel(
                g, sink, damping, teleport, state,
                metrics[-1]["mass"] if metrics else 1.0,
                hub_threshold, hub_salts, release,
            )
        timings = kernel.timings
        timings["iterate_s"] = 0.0
        prog.start("pagerank", total=total_iters)
        release.callback(prog.finish)
        while it < total_iters:
            t0 = time.monotonic()
            steps = min(
                _turn_steps(kernel.chain_max, tol, prev_l1, rate),
                total_iters - it,
            )
            l1, mass = kernel.advance(steps, tol is not None)
            if not math.isfinite(mass) or (
                l1 is not None and not math.isfinite(l1)
            ):
                raise NumericError(
                    f"pagerank diverged at iteration {it}: mass={mass}"
                )
            # observed decay rate of the single-step L1 across this turn's
            # `steps` power steps — feeds the next turn's chain prediction
            if l1 is not None and prev_l1 is not None and prev_l1 > 0 and l1 > 0:
                rate = (l1 / prev_l1) ** (1.0 / steps)
            prev_l1 = l1
            it += steps
            row = {
                "iteration": it,
                "steps": steps,
                "l1_delta": l1,
                "mass": mass,
                "seconds": time.monotonic() - t0,
            }
            metrics.append(row)
            timings["iterate_s"] += row["seconds"]
            prog.iteration("pagerank", row)
            logger.info(
                "pagerank[%s] iter=%d l1=%s mass=%.6f %.2fs", timings["kernel"],
                it, f"{l1:.3e}" if l1 is not None else "-", mass, row["seconds"],
            )
            # save whenever the iteration counter CROSSES a checkpoint
            # boundary — chained turns advance `it` by up to chain_max, so
            # an exact `it % interval == 0` test would rarely fire (with
            # one step per turn the two rules agree)
            if ckpt is not None and (
                it // checkpoint_interval > last_ckpt // checkpoint_interval
            ):
                ckpt.save(it, kernel.ranks(), metrics)
                last_ckpt = it
            if tol is not None and l1 < tol:
                converged = True
                break

    ranks = kernel.ranks()
    scores = sorted_scores(
        g.with_names(ranks.select("id", F.col("rank").alias("score")))
        .select("name", "score")
    )
    return PageRankResult(
        scores=scores,
        ranks=ranks,
        iterations=it,
        converged=converged if tol is not None else True,
        metrics=metrics,
        timings=timings,
    )


def _turn_steps(
    chain_max: int, tol: float | None, prev_l1: float | None, rate: float | None
) -> int:
    """Power steps for the next turn.

    Parity mode chains ``chain_max`` steps. Convergence mode sizes chains
    ADAPTIVELY: the first two turns run single steps to measure the L1
    decay rate, then each turn runs min(chain_max, predicted-steps-to-tol)
    — amortizing per-job fixed cost (Catalyst planning, scheduling,
    lineage materialization) while bounding overshoot by the prediction
    error instead of a fixed C−1. A rate that is not decaying, or a
    ``tol`` no delta can reach, runs full chains.
    """
    if tol is None:
        return chain_max
    if prev_l1 is None or rate is None:
        return 1
    if not (0.0 < rate < 1.0) or tol <= 0 or prev_l1 <= 0:
        return chain_max
    need = math.log(tol / prev_l1) / math.log(rate)
    return max(1, min(chain_max, math.ceil(need)))


class _JoinKernel:
    """The pure-dataflow kernel: no vertex-count cap, state in DataFrames.

    Construction is the one-time setup (gather plan and loop layout, skew
    guard, dedup/reverse, hub salting, the persisted ``scatter`` and
    ``vstat`` frames, AQE off for the loop); everything it takes is
    registered on ``release``. ``mass`` is the rank mass of the initial
    state (1.0 for the teleport vector; the last metrics row on resume).
    """

    def __init__(self, g: Graph, sink: str, damping: float,
                 teleport: dict[int, float] | None, state: DataFrame | None,
                 mass: float, hub_threshold: int, hub_salts: int,
                 release: ExitStack):
        spark = g.spark
        n = g.num_vertices
        nparts = g.edges.rdd.getNumPartitions()
        t_setup = time.monotonic()

        # Gather plan + loop partition LAYOUT, decided up front from graph
        # shape. Past a few million vertices every per-task hash table in the
        # loop (the shuffle-hash join's ranks build side, the gather
        # aggregate's key map) holds ~n/nparts entries; with the session's
        # width-derived nparts (2·cores) that is millions of entries per
        # task — tens-to-hundreds of MB, so every probe is a DRAM miss and
        # concurrent tasks contend for the memory controller (BENCH/RUNS.md
        # runs #21-22: iterate-phase N→4N efficiency 0.52/0.66 at n = 12M
        # while the cache-resident 1M-vertex input scores 0.899 on the same
        # code). In that regime:
        #   - gather_mode "repart": route the scatter-join output through an
        #     explicit hash repartition on dst — the exchange pipelines off
        #     the join (no map-side agg table) and ships exactly E rows at
        #     every parallelism level (the groupBy partial-agg's output rows
        #     grow with nparts on sparse graphs: distinct (partition, dst)
        #     pairs, modeled 47M @ nparts=4 vs 115M @ 16 on synth-wide);
        #   - loop_nparts pinned by SHAPE, not session width: enough
        #     partitions that a task's table (~_KEYS_PER_TASK entries) stays
        #     cache-resident at any core count, and no task exceeds
        #     _EDGE_ROWS_PER_TASK edge rows. More partitions never increase
        #     repart-mode shuffle volume (always exactly E rows), so the
        #     max() with the session width only ever shrinks tables. This is
        #     the join-kernel analogue of the CSR kernel's pinned bucket
        #     layout: fix the per-iteration work independent of cluster
        #     size, let the cluster divide it. At 10^12-edge scale the same
        #     rule yields data-proportional partition counts (the standard
        #     cluster sizing), independent of executor count.
        # Dense/small graphs (n < _REPART_MIN_VERTICES) keep the
        # map-side-combine groupBy and the session layout — the partial agg
        # there cuts shuffle volume ~14× (synth: E/(P·n) ≈ 14) and its
        # tables are cache-resident anyway.
        gather_mode = "repart" if n >= _REPART_MIN_VERTICES else "agg"
        loop_nparts = nparts
        if gather_mode == "repart":
            loop_nparts = max(
                nparts,
                -(-n // _KEYS_PER_TASK),                        # ceil
                -(-g.num_edge_rows // _EDGE_ROWS_PER_TASK),
            )
        # No reverse rewrite: fold the dedup INTO the scatter partitioning
        # — repartition by src FIRST, then distinct. A hash partitioning on
        # src satisfies the (src, dst) clustering the dedup aggregate
        # requires, so the frame is deduplicated AND scatter-ready after ONE
        # exchange of the edge data, replacing distinct's (src, dst)
        # exchange plus a separate scatter repartition (verified plan-level:
        # no Exchange between the repartition, the dedup HashAggregate, the
        # out-degree agg, and the scatter join).
        pre_partitioned = sink != "reverse"
        if pre_partitioned:
            # SKEW GUARD: folding dedup into the src repartition removes the
            # partial aggregation that would otherwise collapse duplicate
            # rows BEFORE the exchange, and hash(src) clustering puts a hub's
            # ENTIRE raw edge set into one dedup task (hub salting only
            # protects the downstream scatter join). g.edges is already
            # hash-partitioned by src (core.py), so its partition sizes are a
            # faithful preview of the post-repartition layout: probe them
            # with one cheap partial-agg job over the cached frame and fall
            # back to dedup-then-repartition (balanced (src,dst) exchange
            # with map-side combine, one extra exchange of DEDUP'D rows) when
            # one partition dominates — the power-law-hub regression risk on
            # the common PageRank input.
            # probe only when a partition above the floor is even possible —
            # the count(*) scan over the cached frame is wasted work below it
            if g.num_edge_rows > _SKEW_PROBE_MIN_ROWS:
                psizes = [
                    r["cnt"]
                    for r in g.edges.groupBy(F.spark_partition_id().alias("_p"))
                    .agg(F.count("*").alias("cnt"))
                    .collect()
                ]
                pmax = max(psizes, default=0)
                pmean = (sum(psizes) / len(psizes)) if psizes else 0.0
                if pmax > _SKEW_MAX_RATIO * pmean and pmax > _SKEW_PROBE_MIN_ROWS:
                    pre_partitioned = False
        if pre_partitioned:
            edges = g.edges.select("src", "dst") \
                .repartition(loop_nparts, "src").distinct()
        else:
            edges = _canonical_edges(g, sink)
        edges = edges.persist(STORAGE)
        release.callback(edges.unpersist)

        outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
        # scatter frame: (src, dst, inv) — inverse out-degree folded in so the
        # per-iteration join multiplies instead of dividing after a second join
        scatter_base = edges.join(outdeg, "src").select(
            "src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("inv")
        )

        # hub salting: split the scatter join key for very-high-out-degree
        # sources so a single hub's edges don't land in one join task. The
        # persist happens ONCE, after the salting decision — persisting the
        # pre-salt frame and then replacing it would leak the first cache for
        # the whole fit on hub-heavy graphs.
        hub_ids = [
            r["src"]
            for r in outdeg.where(F.col("outdeg") >= hub_threshold)
            .select("src")
            .collect()
        ]
        self.hubs = hub_ids
        if hub_ids:
            is_hub = F.col("src").isin(hub_ids)
            scatter = (
                scatter_base.withColumn(
                    "salt",
                    F.when(
                        is_hub, F.pmod(F.hash("dst"), F.lit(hub_salts))
                    ).otherwise(F.lit(0)),
                )
                .repartition(loop_nparts, "src", "salt")
            )
            self.salt_df = spark.range(hub_salts).select(
                F.col("id").cast("int").alias("salt")
            )
        elif pre_partitioned:
            # already hash-partitioned by src (dedup rode the same exchange)
            scatter = scatter_base
        else:
            scatter = scatter_base.repartition(loop_nparts, "src")
        self.scatter = scatter.persist(STORAGE)
        release.callback(self.scatter.unpersist)

        # vertex frame: (id, v, is_sink) — static across iterations
        if teleport is None:
            tele = g.vocab.select("id", F.lit(1.0 / n).alias("v"))
        else:
            seeded = spark.createDataFrame(
                list(teleport.items()), "id long, v double"
            )
            tele = g.vocab.select("id").join(seeded, "id", "left").select(
                "id", F.coalesce("v", F.lit(0.0)).alias("v")
            )
        self.vstat = (
            tele.join(
                outdeg.select(F.col("src").alias("id"), F.lit(False).alias("ns")),
                "id",
                "left",
            )
            .select("id", "v", F.coalesce(F.col("ns"), F.lit(True)).alias("is_sink"))
            .repartition(loop_nparts, "id")
            .persist(STORAGE)
        )
        release.callback(self.vstat.unpersist)
        self.vstat.count()
        # sink-free graphs (every vertex has out-edges — e.g. any symmetric
        # graph) make every sink policy IDENTICAL: the pooled sink mass is
        # exactly 0, so uniform/all degenerate to none and reverse rewrites
        # nothing. Detect it once (vertex-sized scan of the persisted frame)
        # and run the cheap single-reference step plan — the per-step sink
        # machinery (gather materialization + mass scalar) is pure overhead.
        # `reverse` removes sinks by construction (_reverse_rewrite).
        self.has_sinks = (
            sink != "reverse"
            and self.vstat.where(F.col("is_sink")).limit(1).count() > 0
        )
        # materialize the persisted scatter inside "setup"; row count = the
        # canonicalized edges actually processed per iteration (scaling harness
        # reads it from timings instead of re-running the distinct)
        n_scatter = self.scatter.count()
        # the dedup'd frame is a SETUP intermediate in the join kernel: the
        # loop reads only scatter/vstat (both just materialized). Holding it
        # for the whole fit keeps a third edge-scale cache alive — and pins
        # its upstream shuffle files through the cached lineage — which at
        # 591M edges was enough to overflow a 75 GB local-disk budget
        # (round-5 huge run). Release it the moment its derived frames exist.
        edges.unpersist(blocking=False)

        if state is not None:
            self.ranks_df = truncate_lineage(
                state.select("id", "rank").repartition(loop_nparts, "id")
            )
        else:
            # init = teleport vector (pagerank.rs:170-173)
            self.ranks_df = truncate_lineage(
                self.vstat.select("id", F.col("v").alias("rank"))
            )

        # Step scheduling. Two shapes, chosen by whether a per-step SCALAR
        # barrier exists (pooled sink mass S — only when the graph actually
        # has sinks AND the policy redistributes):
        #
        # - single-reference path (none/reverse, or any policy on a sink-free
        #   graph): steps CHAIN into one Spark job — each step references the
        #   previous iterate exactly once, so the chained plan is a linear
        #   pipeline (no duplicated subtree anywhere). Convergence turns run
        #   the chain as TWO jobs: job A = steps−1 pure chained steps,
        #   materialized; job B = one final step whose `old` reference hits
        #   job A's materialized LEAF (a second reference to a leaf is a
        #   scan, not a recompute — measured this round: carrying `old` on
        #   the last step of a LAZY chain doubled the whole edge pass).
        #   The stop test stays the TRUE single-step delta
        #   ||p_{t+C} − p_{t+C−1}||₁ (a chain-START delta is unsound: under
        #   a negative second eigenvalue consecutive deltas alternate sign
        #   and partially cancel, stopping early while the reference's
        #   criterion is still above tol).
        #
        # - two-phase path (uniform/all WITH sinks): the update needs
        #   S = M − Σm before any output row can be emitted, so each step is
        #   job A = edge-heavy gather, materialized with Σm as an Observation
        #   riding the same job; job B = vertex-sized update with S folded in
        #   as a driver LITERAL. Round 3 derived S in-plan via a broadcast
        #   aggregate over the gather subtree instead — that second subtree
        #   reference recomputed the edge pass per step (2× at chain 1, 2^C
        #   chained; a 4-step uniform chain measured 47 s vs 4×2 s single).
        self.two_phase = self.has_sinks and sink in ("uniform", "all")
        self.chain_max = 1 if self.two_phase else 8
        self.n, self.sink, self.damping = n, sink, damping
        self.gather_mode, self.loop_nparts = gather_mode, loop_nparts
        # analytic mass at turn start: redistributing sinks conserve
        # M' = d·M + (1−d); re-anchored to the observed mass each turn
        self.mass = float(mass)
        self.timings = {"kernel": "join", "edge_rows": n_scatter,
                        "gather_mode": gather_mode,
                        "dedup_plan": "folded" if pre_partitioned else "separate",
                        "loop_nparts": loop_nparts,
                        "setup_s": time.monotonic() - t_setup,
                        "iterate_gather_s": 0.0, "iterate_update_s": 0.0}
        # AQE off for the loop: every chained job re-plans each exchange as a
        # separate adaptive query stage (serial driver work per iteration)
        # and its partition coalescing breaks the pinned nparts partitioning
        # that makes the vstat join exchange-free. Skew is already handled
        # explicitly (hub salting above); AQE returns for the final scores.
        aqe_key = "spark.sql.adaptive.enabled"
        release.callback(spark.conf.set, aqe_key, spark.conf.get(aqe_key, "true"))
        spark.conf.set(aqe_key, "false")

    def _gather(self, ranks: DataFrame) -> DataFrame:
        """Scatter + gather — the edge-heavy half of one step: (id, m).

        Shuffle-hash joins: the ranks side is a vertex-sized frame, and
        broadcasting it every iteration is a serial driver collect that
        caps scaling; a hash exchange of the small side is parallel and
        the big edge side stays put.
        """
        r = ranks.withColumnRenamed("id", "src").select("src", "rank").hint(
            "shuffle_hash"
        )
        if self.hubs:
            r = r.join(F.broadcast(self.salt_df), F.col("src").isin(self.hubs), "left") \
                 .select("src", "rank", F.coalesce("salt", F.lit(0)).alias("salt")) \
                 .hint("shuffle_hash")
            contrib = self.scatter.join(r, ["src", "salt"])
        else:
            contrib = self.scatter.join(r, "src")
        msgs = contrib.select(
            F.col("dst").alias("id"),
            (F.col("rank") * F.col("inv")).alias("_c"),
        )
        if self.gather_mode == "repart":
            # no map-side agg table: the exchange pipelines off the join,
            # and the downstream aggregates are dst-partition-local
            msgs = msgs.repartition(self.loop_nparts, "id")
        return msgs.groupBy("id").agg(F.sum("_c").alias("m"))

    def _update(
        self,
        gathered: DataFrame,
        carry_old: bool,
        old_ranks: DataFrame | None,
        s_mass: float,
    ) -> DataFrame:
        """Sink redistribution + damping update over one gather result.

        ``s_mass`` is the pooled sink-rank scalar S as a plain DRIVER
        FLOAT, folded into the plan as a literal. Round 3 derived S
        in-plan via a broadcast 1-row aggregate over the gather subtree —
        measured this round, that second reference DOUBLES the edge pass
        per step (Catalyst's ReuseExchange does not bridge the broadcast
        boundary on these iterated plans), and chaining such steps
        recomputes the gather 2^C times (a 4-step chain measured 47 s vs
        4×2 s single steps at 8 cores / 22M edges). :meth:`advance`
        materializes the gather output with S observed on the SAME job
        (Observation — no extra pass), so this update is a pure
        single-reference projection: vertex-sized vstat join, literal
        arithmetic, no broadcast subtree anywhere.

        S = M − Σm (total gathered mass is exactly the rank mass of
        non-sink vertices), with M tracked analytically on the driver and
        re-anchored to the observed mass at every materialization; FP
        deviation vs the reference's direct sink-rank sum is ~1e-15, far
        inside the 1e-6 parity contract (pagerank.rs:194-218).

        ``carry_old=True`` emits the previous rank as ``old`` (the L1
        delta's input); ``old_ranks`` must then be a MATERIALIZED leaf so
        the second plan reference costs a leaf scan, not a recompute.
        The ``all`` sink needs ``old`` for its self-exclusion term
        regardless (pagerank.rs:194-201).
        """
        sink, n, damping = self.sink, self.n, self.damping
        joined = self.vstat.join(gathered.hint("shuffle_hash"), "id", "left")
        need_old = carry_old or (sink == "all" and self.has_sinks)
        if need_old:
            joined = joined.join(
                old_ranks.select("id", F.col("rank").alias("old")).hint(
                    "shuffle_hash"
                ),
                "id",
            )
        if not self.has_sinks or sink in ("none", "reverse"):
            # sink-free graph or non-redistributing policy: S ≡ 0
            sink_term = F.lit(0.0)
        elif sink == "uniform":
            sink_term = F.lit(s_mass) * F.col("v")
        else:  # all: (S - p_i·[i sink]) / (n-1), pagerank.rs:194-201
            sink_term = (
                (
                    F.lit(s_mass)
                    - F.when(F.col("is_sink"), F.col("old")).otherwise(0.0)
                )
                / F.lit(float(n - 1))
                if n > 1
                else F.lit(0.0)
            )

        cols = ["id"] + (["old"] if carry_old else [])
        return joined.select(
            *cols,
            (
                F.lit(damping) * (F.coalesce("m", F.lit(0.0)) + sink_term)
                + F.lit(1.0 - damping) * F.col("v")
            ).alias("rank"),
        )

    def advance(self, steps: int, need_delta: bool) -> tuple[float | None, float]:
        """Run ``steps`` power steps as one turn; returns the last step's
        L1 delta (None unless ``need_delta``) and the new rank mass.

        The turn ends by materializing the new ranks and truncating their
        lineage — without truncation the logical plan compounds per
        iteration. The turn's scalars ride along as observed aggregates
        of that SAME job (CollectMetrics).
        """
        timings = self.timings
        if self.two_phase:
            # job A: edge pass; Σm observed on the SAME job, so the
            # sink-mass scalar costs no extra pass and no broadcast.
            t_g = time.monotonic()
            obs_g = Observation()
            gath = truncate_lineage(
                self._gather(self.ranks_df).observe(
                    obs_g, F.sum("m").alias("sigma")
                )
            )
            sigma = float(obs_g.get["sigma"])
            timings["iterate_gather_s"] += time.monotonic() - t_g
            cur = self._update(gath, need_delta, self.ranks_df, self.mass - sigma)
        else:
            cur = self.ranks_df
            pure = steps - 1 if need_delta else steps
            for _ in range(pure):
                cur = self._update(self._gather(cur), False, None, 0.0)
            if need_delta:
                if pure > 0:
                    # job A: materialize the pure chain; the final
                    # delta-carrying step then references a LEAF
                    t_g = time.monotonic()
                    cur = truncate_lineage(cur)
                    timings["iterate_gather_s"] += time.monotonic() - t_g
                cur = self._update(self._gather(cur), True, cur, 0.0)

        t_u = time.monotonic()
        obs = Observation()
        if need_delta:
            self.ranks_df = truncate_lineage(
                cur.select(
                    "id", "rank",
                    F.abs(F.col("rank") - F.col("old")).alias("_d"),
                )
                .observe(obs, F.sum("_d").alias("l1"), F.sum("rank").alias("mass"))
                .drop("_d")
            )
        else:
            self.ranks_df = truncate_lineage(
                cur.select("id", "rank").observe(obs, F.sum("rank").alias("mass"))
            )
        agg = obs.get
        self.mass = float(agg["mass"])
        timings["iterate_update_s"] += time.monotonic() - t_u
        return (float(agg["l1"]) if need_delta else None), self.mass

    def ranks(self) -> DataFrame:
        """The current ranks as an ``(id, rank)`` frame."""
        return self.ranks_df
