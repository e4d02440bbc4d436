"""kg-spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload kg_incremental --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. It launches Spark on ``local[<cores>]``
with host-fit settings given from outside the program (environment and
Spark conf), sets up the workload (untimed warm-up included), runs timed
iterations for about ``--seconds``, checks every iteration's output, and
prints a table of metrics followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``peak_rss_mb`` is sampled
over the timed iterations only, so set-up's side-by-side builds and
warm-up do not set it. ``--trace 1`` runs one
untraced and then one traced iteration and reports the per-layer metrics of
the traced one, plus the tracing overhead: the traced iteration's wall time
minus the untraced one's (the later iteration runs in a warmer JVM, so this
understates the overhead and may be negative). The full span table goes to
``.perfbench_runs/`` in the checkout.

A failed check or an exception in set-up or an iteration is counted in
``failed``; the run then stops, prints ``"correct": false`` and exits 1.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MiB",
}

# per-layer metrics: "<layer>.<field>"; a layer a workload does not run reads 0
_KG_LAYERS = ("extract.mentions", "extract.triples", "canonicalize", "graph.build", "delta.resolve", "commit")
_KG_EXTRA = {
    "canonicalize.names_in": "count",
    "canonicalize.canon_rows": "count",
    "delta.resolve.extract_ratio": "ratio",
    "commit.snapshot_mb": "MiB",
    "commit.files": "count",
}
_Q_FIELDS = (("wall_s", "s"), ("cpu_s", "s"), ("jobs", "count"), ("s_per_job", "s"))


def per_layer_units() -> dict:
    from perfbench.ledger import FIELDS
    from perfbench.workloads import KG_STAGES, GraphQueries

    units = {}
    for layer in _KG_LAYERS:
        units.update({f"{layer}.{f}": u for f, u in FIELDS.items()})
    units.update(_KG_EXTRA)
    for stage in KG_STAGES:
        units[f"commit.{stage}.wall_s"] = "s"
        units[f"commit.{stage}.disk_mb"] = "MiB"
    for q in GraphQueries.queries:
        units.update({f"q.{q}.{f}": u for f, u in _Q_FIELDS})
    units.update(
        {
            "iteration.wall_s": "s",
            "iteration.self_s": "s",
            "iteration.jobs": "count",
            "iteration.cpu_s": "s",
            "session.start_s": "s",
            "corpus.gen_s": "s",
            "storage.cached_mb": "MiB",
            "trace.overhead_s": "s",
        }
    )
    return units


def host_fit_env(work: str) -> dict:
    """Launch settings for a small host, given to the program from outside."""
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    heap_gb = max(1, min(4, mem_kb // 2**20 // 4))
    return {
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        # the Python workers import theta_spark and perfbench from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_SPECULATION": "0",
    }


def start_spark(work: str, cores: int):
    from theta_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage in the status store, for attribution
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            # a fixed-size heap, every page of it touched as the JVM starts:
            # on a VM that hands freed pages back to its host, the first
            # touch of a page costs a fault whose price depends on the host,
            # and otherwise a timed graph_queries pass is the first to touch
            # ~0.9 GB of heap; set-up pays for it instead. No hsperfdata
            # file outside the checkout.
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("OFF")
    return spark


def stop_spark(spark, timeout_s: float = 30.0):
    """Stop Spark and wait until the JVM and every Python worker has ended."""
    from pyspark import SparkContext

    from perfbench.procfs import tree_pids

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # a later session in this process launches a fresh JVM
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + timeout_s
    while len(tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in tree_pids()[1:]:
        with contextlib.suppress(OSError):
            os.kill(pid, 9)


def settle(max_s: float = 8.0, step_s: float = 0.5, idle_cores: float = 0.25) -> float:
    """Wait until the process tree is nearly idle (the JVM keeps compiling
    hot code on background threads after a burst of work), so that this
    work does not land in the timed window. Returns the seconds waited."""
    from perfbench.procfs import tree_cpu_s

    t0 = time.time()
    last = tree_cpu_s()
    while time.time() - t0 < max_s:
        time.sleep(step_s)
        now = tree_cpu_s()
        if now - last < idle_cores * step_s:
            break
        last = now
    return time.time() - t0


def run_iteration(wl, k: int, tracer, store):
    """One timed iteration; returns (result, wall_s, cpu_s, span rows)."""
    from perfbench.ledger import span_table
    from perfbench.procfs import tree_cpu_s

    c0, t0 = tree_cpu_s(), time.time()
    if tracer is None:
        result = wl.iterate(k)
    else:
        wl.install_trace(tracer)
        try:
            with tracer.span("iteration"):
                result = wl.iterate(k, tracer)
        finally:
            tracer.restore()
    wall, cpu = time.time() - t0, tree_cpu_s() - c0
    rows = None
    if tracer is not None:
        rows = span_table(tracer.spans, store.jobs(), store.stages())
    return result, wall, cpu, rows


def layer_metrics(rows: list[dict], facts: dict, overhead_s: float, phases: dict, cached_mb: float) -> dict:
    from perfbench.ledger import layer_totals

    totals = layer_totals(rows)
    commits = [r for r in rows if r["name"].startswith("commit.")]
    totals["commit"] = layer_totals([dict(r, name="commit", parent=None) for r in commits]).get("commit", {})
    values = {}
    for name in per_layer_units():
        layer, _, field = name.rpartition(".")
        if name in facts:
            values[name] = facts[name]
        elif field == "s_per_job":
            t = totals.get(layer, {})
            values[name] = t["wall_s"] / t["jobs"] if t.get("jobs") else 0.0
        elif layer in totals and field in totals[layer]:
            values[name] = totals[layer][field]
        else:
            values[name] = 0.0
    values["session.start_s"] = phases["session.start_s"]
    values["corpus.gen_s"] = phases["corpus.gen_s"]
    values["storage.cached_mb"] = cached_mb
    values["trace.overhead_s"] = overhead_s
    return values


def main(argv=None) -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import theta_spark.pipeline  # noqa: F401 - the program under test must be in the checkout

        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} (have {sorted(WORKLOADS)})", file=sys.stderr)
        return 2

    from perfbench.ledger import StatusStore, Tracer
    from perfbench.procfs import PeakRss

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    env = host_fit_env(work)
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    os.environ.update(env)
    cores = len(os.sched_getaffinity(0))

    wl = WORKLOADS[args.workload](work, args.seed)
    phases: dict = {}
    failures: list[str] = []
    attempted = 1  # the set-up run is checked too
    samples: list[tuple[float, float, bool]] = []  # (wall_s, cpu_s, traced) of iterations that ran
    traced_rows, traced_facts, cached_mb, peak_rss_mb = None, {}, 0.0, 0.0
    spark = None
    try:
        try:
            wl.prepare(phases)
            t = time.time()
            spark = start_spark(work, cores)
            phases["session.start_s"] = time.time() - t
            store = StatusStore(spark.sparkContext)
            failures += [f"setup:{f}" for f in wl.setup(spark, phases)]
        except Exception as e:  # noqa: BLE001 - a failed set-up is a failed attempt
            failures.append(f"setup:{type(e).__name__}: {e}")
        phases["settle_s"] = settle()
        setup_s = time.time() - t_start

        modes = [False, True] if args.trace else None
        t_window = time.time()
        k = 0
        # resident memory is sampled over the timed iterations only
        with PeakRss() as rss:
            while not failures:
                traced = modes[k] if modes else False
                tracer = Tracer(spark.sparkContext) if traced else None
                attempted += 1
                try:
                    result, wall, cpu, rows = run_iteration(wl, k, tracer, store)
                    failures += [f"iter{k}:{f}" for f in wl.check(result)]
                    facts = wl.facts(result, traced)
                    cached_mb = store.cached_mb()
                    wl.release(result)
                except Exception as e:  # noqa: BLE001 - a failed iteration ends the run
                    failures.append(f"iter{k}:{type(e).__name__}: {e}")
                    break
                samples.append((wall, cpu, traced))
                if traced:
                    traced_rows, traced_facts = rows, facts
                k += 1
                if modes:
                    if k == len(modes):
                        break
                elif time.time() - t_window + statistics.median(s[0] for s in samples) > args.seconds:
                    break
        peak_rss_mb = rss.peak_mb
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed_iters = len({f.split(":")[0] for f in failures})
    untraced = [s for s in samples if not s[2]]
    values, units = {}, END_TO_END
    if args.trace and traced_rows is not None:
        overhead = statistics.median(s[0] for s in samples if s[2]) - statistics.median(s[0] for s in untraced)
        values = layer_metrics(traced_rows, traced_facts, overhead, phases, cached_mb)
        units = per_layer_units()
        runs_dir = os.path.join(ROOT, ".perfbench_runs")
        os.makedirs(runs_dir, exist_ok=True)
        with open(os.path.join(runs_dir, f"{args.workload}-seed{args.seed}-trace.json"), "w") as f:
            json.dump({"phases": phases, "samples": samples, "spans": traced_rows}, f, indent=1, default=str)
    elif not args.trace and untraced:
        values = {
            "setup_s": setup_s,
            "run_s": statistics.median(s[0] for s in untraced),
            "cpu_s": statistics.median(s[1] for s in untraced),
            "peak_rss_mb": peak_rss_mb,
        }

    print(f"# workload={args.workload} seed={args.seed} cores={cores} iterations={len(samples)}")
    print("# phases: " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()))
    print("# iterations (wall_s, cpu_s): " + " ".join(f"({w:.2f}, {c:.1f})" for w, c, _ in samples))
    print(f"# error_rate={failed_iters / attempted:.4f} failures={failures}")
    for name, v in values.items():
        print(f"{name:40s} {v:14.4f} {units[name]}")
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": attempted,
                "failed": failed_iters,
                "metrics": {n: {"value": values[n], "unit": units[n]} for n in values},
            }
        )
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
