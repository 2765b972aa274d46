"""Benchmark for the propagon_spark graph engine.

    python3 perfbench/run.py --workload repo_pagerank --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the seed,
starts one Spark driver on ``local[4]`` and loads the inputs, makes one
cold pass over the workload's engine calls in the fresh JVM, then warm
passes until ``--seconds`` have elapsed, then sets up again (session
restart + input load) several times in the warm JVM. It checks every output against the oracles, prints a table of every metric
with its unit and sample count, and prints one JSON object as the last
line of standard output: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing as tr  # noqa: E402
from workloads import WORKLOADS, PassOutput, du  # noqa: E402

CORES = 4
#: setups timed after the warm passes. Timed before them, each restart
#: ran faster than the one before it (the JIT was still compiling the load
#: path), and setup_s spread by 0.3-0.44 of its median across seeds
SETUPS = 5
#: driver heap, fixed at launch (-Xms = -Xmx): a heap left to grow from
#: the JVM's default start size expands at GC-timing-dependent moments,
#: and peak_rss_mb then spread by 0.14-0.21 of its median across seeds
DRIVER_MEM = "2g"
#: the canonical edge forms a kernel derives from ``g.edges``
CANON_FORMS = ("dedup_edges", "canonical_undirected", "symmetrize")

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "run_s": "s",
    "build_s": "s",
    "pagerank_s": "s",
    "edges_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def host_state(path: str) -> dict:
    """Load average, free disk and the CPU time the hypervisor has stolen
    so far (steal is what other tenants of the host cost this run)."""
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    return {
        "loadavg": load,
        "free_disk_gb": round(shutil.disk_usage(path).free / 2**30, 2),
        "cpu_steal_s": steal,
    }


class Run:
    """One benchmark run: its scratch directory, Spark session and spans."""

    def __init__(self, workload: str, seed: int, trace: bool, root: str):
        self.run_id = f"{workload}-seed{seed}-trace{int(trace)}-{os.getpid()}"
        self.work = os.path.join(root, ".perfbench_work", self.run_id)
        self.spans_path = os.path.join(root, ".perfbench_work", "spans", self.run_id + ".jsonl")
        self.events = os.path.join(self.work, "events")
        self.java_opts = f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
        for d in ("data", "local", "ckpt", "tmp", "events"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.makedirs(os.path.dirname(self.spans_path), exist_ok=True)
        # everything the engine, Spark and Python write goes under self.work
        os.environ["PROPAGON_LOCAL_DIR"] = os.path.join(self.work, "local")
        os.environ["PROPAGON_CHECKPOINT_DIR"] = os.path.join(self.work, "ckpt")
        os.environ["PROPAGON_DRIVER_MEM"] = DRIVER_MEM
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        # the launcher JVM that spark-submit runs first writes perf data
        # and temp files too
        os.environ["SPARK_LAUNCHER_OPTS"] = self.java_opts
        self.tracer = tr.Tracer(self.run_id)
        self.spark = None
        self.jvm = None
        self.iter_metrics: dict[str, list[dict]] = {}

    # -- session ---------------------------------------------------------
    def start_session(self, event_log: bool = False) -> float:
        from propagon_spark import get_spark

        conf = {
            "spark.driver.extraJavaOptions": f"{self.java_opts} -Xms{DRIVER_MEM}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.events,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.monotonic()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf=conf,
        )
        took = time.monotonic() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.jvm is None:
            self.jvm = self.spark.sparkContext._gateway.proc
        return took

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self, seen_pids: set[int]) -> None:
        """Stop Spark, end the JVM and wait for every process it forked."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.jvm is not None:
            self.jvm.stdin.close()  # the gateway JVM exits on stdin EOF
            self.jvm.wait(timeout=60)
        deadline = time.monotonic() + 30
        for pid in seen_pids:
            while _alive(pid):
                if time.monotonic() > deadline:
                    raise RuntimeError(f"process {pid} did not exit")
                time.sleep(0.05)

    # -- hooks the workloads call ----------------------------------------
    def span(self, name: str):
        return self.tracer.span(name)

    def set_group(self, name: str) -> None:
        self.tracer.set_group(name)

    def iteration_hook(self, name: str):
        """Progress callback: keeps the kernel's per-turn rows and, when
        traced, moves the jobs of later turns to the ``<name>.iter``
        group (jobs before the first callback are setup + turn 1)."""
        rows = self.iter_metrics.setdefault(name, [])
        rows.clear()

        def hook(_phase, row):
            rows.append(dict(row))
            self.tracer.set_group(name + ".iter")

        return hook


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run_pass(run: Run, wl, k: int, outputs: list[PassOutput]) -> tuple[tr.Span, object]:
    out = PassOutput(ops=list(wl.ops))
    outputs.append(out)
    g = None
    with run.span("pass"):
        try:
            g = wl.run_pass(run, k, out)
        except Exception:  # the ops it did not finish count as failed
            traceback.print_exc()
    return run.tracer.last("pass"), g


def pass_metrics(run: Run, out: PassOutput, span: tr.Span) -> dict:
    """Samples of one warm pass; a call that failed gives no sample."""
    m = {"run_s": span.seconds}
    if "build" in out.done:
        m["build_s"] = run.tracer.last("build").seconds
    if "pagerank" in out.done:
        fit = out.values["pagerank_fit"]
        secs = run.tracer.last("pagerank").seconds
        m["pagerank_s"] = secs
        m["edges_per_s"] = fit.timings["edge_rows"] * fit.iterations / secs
    return m


def per_layer(
    run: Run, out: PassOutput, counters: dict, start_s: float, canon_calls: int
) -> dict:
    """Per-layer metrics of the traced pass and the traced-only calls. A
    layer whose call failed (``failed`` reports it) is left out."""
    sp = {s.name: s for s in run.tracer.spans}  # the last span of each name

    def c(*groups) -> tr.GroupCounters:
        tot = tr.GroupCounters()
        for grp in groups:
            x = counters.get(grp)
            if x is not None:
                for f in tot.__dataclass_fields__:
                    setattr(tot, f, getattr(tot, f) + getattr(x, f))
        return tot

    def util(name: str) -> float:
        return c(name, name + ".iter").run_s / (sp[name].seconds * CORES)

    m = {"session.start_s": start_s, "canon.derivations": canon_calls}
    if "probe.derive" in sp:
        m["sources.derive_s"] = sp["probe.derive"].seconds
        m["sources.edge_rows"] = out.values["derived_rows"]
        m["sources.shuffle_write_bytes"] = c("probe.derive").shuffle_write_bytes
    if "probe.dedup" in sp:
        m["canon.dedup_s"] = sp["probe.dedup"].seconds
        m["canon.undirected_s"] = sp["probe.undirected"].seconds
        m["canon.sym_distinct_s"] = sp["probe.sym_distinct"].seconds
    if "build" in out.done:
        b = c("build")
        m["core.build_s"] = sp["build"].seconds
        m["core.jobs"] = b.jobs
        m["core.shuffle_write_bytes"] = b.shuffle_write_bytes
        m["core.spill_bytes"] = b.spill_bytes
        m["core.gc_s"] = b.gc_s
        m["core.util"] = util("build")
    for op in ("pagerank", "pagerank_alt"):
        if op not in out.done:
            continue
        fit = out.values[op + "_fit"]
        turns = run.iter_metrics[op]
        secs = [r["seconds"] for r in turns]
        later = c(op + ".iter")  # jobs of every turn after the first
        t = fit.timings
        if t["kernel"] == "csr":
            m.update(
                {
                    "pagerank_csr.setup_dedup_s": t["setup_dedup_s"],
                    "pagerank_csr.setup_blocks_s": t["setup_blocks_s"],
                    "pagerank_csr.bcast_s": t["bcast_s"],
                    "pagerank_csr.gather_s": t["gather_s"],
                    "pagerank_csr.update_s": t["update_s"],
                    "pagerank_csr.iterations": fit.iterations,
                    "pagerank_csr.iter_s_p50": float(np.percentile(secs, 50)),
                    "pagerank_csr.iter_s_p95": float(np.percentile(secs, 95)),
                    "pagerank_csr.jobs_per_iter": later.jobs / max(1, len(turns) - 1),
                    "pagerank_csr.util": util(op),
                }
            )
        else:
            m.update(
                {
                    "pagerank_join.setup_s": t["setup_s"],
                    "pagerank_join.iterate_gather_s": t["iterate_gather_s"],
                    "pagerank_join.iterate_update_s": t["iterate_update_s"],
                    "pagerank_join.iterations": fit.iterations,
                    "pagerank_join.turns": len(turns),
                    "pagerank_join.turn_s_p50": float(np.percentile(secs, 50)),
                    "pagerank_join.turn_s_p95": float(np.percentile(secs, 95)),
                    "pagerank_join.jobs_per_turn": later.jobs / max(1, len(turns) - 1),
                    "pagerank_join.shuffle_bytes_per_iter": later.shuffle_write_bytes
                    / max(1, fit.iterations - turns[0]["steps"]),
                    "pagerank_join.spill_bytes": c(op, op + ".iter").spill_bytes,
                    "pagerank_join.util": util(op),
                }
            )
    if "checkpoint" in out.done:
        root = out.values["checkpoint"][0]
        m["checkpoint.saves"] = len([f for f in os.listdir(root) if f.startswith("manifest_")])
        m["checkpoint.bytes"] = du(root)
    if "hits" in out.done:
        later_iters = max(1, len(run.iter_metrics["hits"]) - 1)
        h = c("hits.iter")
        m["hits.s"] = sp["hits"].seconds
        m["hits.jobs_per_iter"] = h.jobs / later_iters
        m["hits.shuffle_bytes_per_iter"] = h.shuffle_write_bytes / later_iters
        m["hits.util"] = util("hits")
    for op in ("components", "lpa", "triangles", "kcore"):
        if op in out.done:
            k = c(op, op + ".iter")
            m[op + ".s"] = sp[op].seconds
            m[op + ".jobs"] = k.jobs
            m[op + ".shuffle_bytes"] = k.shuffle_write_bytes
            m[op + ".spill_bytes"] = k.spill_bytes
            m[op + ".util"] = util(op)
    if "components" in out.done:
        m["components.rounds"] = len(run.iter_metrics["components"])
    if "output" in out.done:
        m["output.write_s"] = sp["output"].seconds
        m["output.bytes"] = du(out.values["output"])
    return m


PER_LAYER = {
    "session.start_s": "s",
    "sources.derive_s": "s",
    "sources.edge_rows": "count",
    "sources.shuffle_write_bytes": "bytes",
    "core.build_s": "s",
    "core.jobs": "count",
    "core.shuffle_write_bytes": "bytes",
    "core.spill_bytes": "bytes",
    "core.gc_s": "s",
    "core.util": "ratio",
    "canon.dedup_s": "s",
    "canon.undirected_s": "s",
    "canon.sym_distinct_s": "s",
    "canon.derivations": "count",
    "pagerank_csr.setup_dedup_s": "s",
    "pagerank_csr.setup_blocks_s": "s",
    "pagerank_csr.bcast_s": "s",
    "pagerank_csr.gather_s": "s",
    "pagerank_csr.update_s": "s",
    "pagerank_csr.iterations": "count",
    "pagerank_csr.iter_s_p50": "s",
    "pagerank_csr.iter_s_p95": "s",
    "pagerank_csr.jobs_per_iter": "count",
    "pagerank_csr.util": "ratio",
    "pagerank_join.setup_s": "s",
    "pagerank_join.iterate_gather_s": "s",
    "pagerank_join.iterate_update_s": "s",
    "pagerank_join.iterations": "count",
    "pagerank_join.turns": "count",
    "pagerank_join.turn_s_p50": "s",
    "pagerank_join.turn_s_p95": "s",
    "pagerank_join.jobs_per_turn": "count",
    "pagerank_join.shuffle_bytes_per_iter": "bytes",
    "pagerank_join.spill_bytes": "bytes",
    "pagerank_join.util": "ratio",
    "hits.s": "s",
    "hits.jobs_per_iter": "count",
    "hits.shuffle_bytes_per_iter": "bytes",
    "hits.util": "ratio",
    "checkpoint.saves": "count",
    "checkpoint.bytes": "bytes",
    "components.s": "s",
    "components.jobs": "count",
    "components.shuffle_bytes": "bytes",
    "components.spill_bytes": "bytes",
    "components.util": "ratio",
    "components.rounds": "count",
    "lpa.s": "s",
    "lpa.jobs": "count",
    "lpa.shuffle_bytes": "bytes",
    "lpa.spill_bytes": "bytes",
    "lpa.util": "ratio",
    "triangles.s": "s",
    "triangles.jobs": "count",
    "triangles.shuffle_bytes": "bytes",
    "triangles.spill_bytes": "bytes",
    "triangles.util": "ratio",
    "kcore.s": "s",
    "kcore.jobs": "count",
    "kcore.shuffle_bytes": "bytes",
    "kcore.spill_bytes": "bytes",
    "kcore.util": "ratio",
    "output.write_s": "s",
    "output.bytes": "bytes",
    "trace.overhead_s": "s",
}


def probes(run: Run, wl, g, out: PassOutput) -> None:
    """Traced-run probes: each canonical edge form, and the co-commit
    derivation on its own, materialized once on the workload's graph."""
    from propagon_spark.canon import canonical_undirected, dedup_edges, symmetrize

    if hasattr(wl, "repo_path"):
        from propagon_spark.sources.repo_table import derive_edges, load_repo_table

        with run.span("probe.derive"):
            repo = load_repo_table(run.spark, wl.repo_path, columns=("repo", "path", "commit"))
            out.values["derived_rows"] = derive_edges(repo).count()
    with run.span("probe.dedup"):
        dedup_edges(g.edges).count()
    with run.span("probe.undirected"):
        canonical_undirected(g.edges).count()
    with run.span("probe.sym_distinct"):
        symmetrize(g.edges).distinct().count()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    import propagon_spark  # noqa: F401 — fail fast outside a checkout

    run = Run(args.workload, args.seed, bool(args.trace), root)
    host = {"start": host_state(root)}
    sampler = None
    try:
        wl = WORKLOADS[args.workload](args.seed, os.path.join(run.work, "data"))
        stats = wl.edges.stats()
        outputs: list[PassOutput] = []

        t0 = time.monotonic()
        run.start_session()
        wl.load(run.spark)
        launch_s = time.monotonic() - t0
        sampler = tr.RssSampler(run.jvm.pid)
        sampler.start()

        cold, g = run_pass(run, wl, 0, outputs)
        if g is not None:
            g.unpersist()

        warm = []
        t_warm = time.monotonic()
        while not warm or time.monotonic() - t_warm < args.seconds:
            span, g = run_pass(run, wl, len(outputs), outputs)
            if g is not None:
                g.unpersist()
            warm.append(pass_metrics(run, outputs[-1], span))

        # each setup stops the SparkContext and starts a new one in the
        # same, now warm, JVM
        setup, starts = [], []
        for _ in range(SETUPS):
            run.stop_session()
            t0 = time.monotonic()
            starts.append(run.start_session())
            wl.load(run.spark)
            setup.append(time.monotonic() - t0)

        layers = None
        if args.trace:
            run.stop_session()
            run.start_session(event_log=True)
            run.tracer.sc = run.spark.sparkContext
            with tr.count_calls("propagon_spark", "propagon_spark.canon", CANON_FORMS) as calls:
                traced, g = run_pass(run, wl, len(outputs), outputs)
                if g is not None:
                    outputs[-1].ops += wl.traced_ops
                    try:
                        wl.run_ops(run, g, len(outputs) - 1, outputs[-1], wl.traced_ops)
                    except Exception:
                        traceback.print_exc()
            if g is not None:
                probes(run, wl, g, outputs[-1])
                g.unpersist()
            run.tracer.sc = None
            run.stop_session()
            layers = per_layer(
                run,
                outputs[-1],
                tr.fold_event_log(run.events),
                statistics.median(starts),
                sum(calls.values()),
            )
            layers["trace.overhead_s"] = traced.seconds - statistics.median(
                w["run_s"] for w in warm
            )
        attempted = sum(len(out.ops) for out in outputs)
        failed = 0
        for k, out in enumerate(outputs):
            bad = set(wl.check(out)) | (set(out.ops) - set(out.done))
            if bad:
                print(f"pass {k}: failed {sorted(bad)}", file=sys.stderr)
            failed += len(bad)
        host["end"] = host_state(root)
    finally:
        if sampler is not None:
            sampler.stop()
        run.shutdown(sampler.seen if sampler is not None else set())
        shutil.rmtree(run.work, ignore_errors=True)
    run.tracer.write(run.spans_path)

    e2e_samples = {
        "setup_s": setup,
        "cold_s": [cold.seconds],
        "peak_rss_mb": [sampler.peak / 2**20],
    }
    stats["pagerank_iterations"] = [
        o.values["pagerank_fit"].iterations for o in outputs if "pagerank" in o.done
    ]
    for name in ("run_s", "build_s", "pagerank_s", "edges_per_s"):
        e2e_samples[name] = [w[name] for w in warm if name in w]

    print(f"workload {args.workload} seed {args.seed}: {json.dumps(stats)}")
    print(f"host {json.dumps(host)}")
    print(f"{'metric':<40}{'median':>16}  unit    n")
    for name, unit in END_TO_END.items():
        vals = e2e_samples[name]
        print(f"{name:<40}{statistics.median(vals) if vals else float('nan'):>16.4f}  {unit:<6}{len(vals):>3}")
    print(f"{'failed_ratio':<40}{failed / attempted:>16.4f}  ratio {attempted:>3}")
    print(f"{'launch_s (JVM launch + input load)':<40}{launch_s:>16.4f}  s       1")
    if layers is not None:
        print("per-layer (traced pass):")
        for name, unit in PER_LAYER.items():
            if name in layers:
                print(f"  {name:<38}{layers[name]:>16.4f}  {unit}")

    if layers is None:
        metrics = {
            n: {"value": statistics.median(e2e_samples[n]), "unit": u}
            for n, u in END_TO_END.items()
            if e2e_samples[n]
        }
    else:
        metrics = {
            n: {"value": float(layers[n]), "unit": u} for n, u in PER_LAYER.items() if n in layers
        }
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
