"""Warm-pass benchmark of the engine's public surface.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 25 --trace 0

Run from the root of a checkout of the engine. One process, one
closed-loop client, a ``local[<half the cores>]`` session. Every run:

1. makes what the checks need in a process of its own (the seeded
   ``versioned_ingest`` feed and its replay);
2. starts the session and loads the inputs (the engine's fixture
   tables, copied under ``perfbench/data``);
3. runs every operation once (the untimed first pass, which compiles the
   plans the timed passes run);
4. runs a fixed number of timed passes (one pass = one fixed mix of
   operations; the count is ``--seconds`` over the workload's nominal
   pass time, never a time-bounded loop), checking each pass's outputs
   outside its timer;
5. stops the session, then compares the first pass's outputs with
   independent oracles, so the checks never count in ``peak_rss_mb``;
6. prints each metric as ``metric <name> <value> <unit>``, context as
   ``context ...`` lines, and as the last line one JSON object.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs at
least four timed passes, untraced and traced in the order U T T U,
reports per-layer metrics (span self times, Spark and JVM counters, tracing overhead) and
writes the spans to ``perfbench/out/``.

Workloads: ``query_mix`` (13 relational queries and 8 text/embedding
operations) and ``versioned_ingest`` (upserts, reads and vacuums of a
versioned store).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

import probes
from spans import NO_TRACE, Tracer

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

# nominal_pass_s, a pass's measured median on a 4-core host with the
# session on 2 of them, converts --seconds into a fixed timed-pass count.
# No warm passes follow the first pass: every pass recompiles its
# generated code (~80-150 Janino compiles), so the JIT never settles.
# The star-schema queries and the corpus operations share one workload:
# run as two, with a session and a first pass each, the spread of
# whole-run pass times over 10 seeds reached 0.24-0.28 of the median on
# one of them in two of three sets; their per-seed sum spread 0.15-0.19.
WORKLOADS = {
    "query_mix": {"nominal_pass_s": 11.6},
    "versioned_ingest": {"nominal_pass_s": 3.2},
}
MIN_TIMED_PASSES = 2
# the session's own default heap is 8g on a 16 GB host; these inputs need
# far less, and the host's memory is shared
DRIVER_MEM = "2g"

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def timed_pass_count(workload: str, seconds: float) -> int:
    return max(MIN_TIMED_PASSES, round(seconds / WORKLOADS[workload]["nominal_pass_s"]))


def session_cores() -> int:
    """Half the cores. HotSpot's compiler threads take 1.5-2.5 cores
    through every timed pass (``timed.jvm.jit_s_per_pass``), so a session
    on all of them oversubscribes the host. On 4 cores, the 3-pass median
    of the corpus operations alone spread 6.27-6.56 s over 4 seeds on 2
    task threads and 6.32-7.28 s on 4, run interleaved; the inputs are too
    small for the extra threads to shorten a pass."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _isolate(work: str) -> dict[str, str]:
    """Point every scratch location of Python, Spark and the JVM into the
    run's work directory; returns the session conf doing the JVM side."""
    for sub in ("tmp", "local", "warehouse", "checkpoints"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_TMP"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(session_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    from fugue_warehouses_spark.session import pinned_heap_conf

    java_opts = pinned_heap_conf().get(
        "spark.driver.extraJavaOptions", os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")
    )
    # PerfDisableSharedMem keeps the JVM's perf counters out of /tmp.
    # AlwaysPreTouch makes the whole pinned heap resident at start:
    # otherwise G1's adaptive young-generation sizing decides how much of
    # it is, and peak RSS of identical runs of the star queries read
    # 2.19-2.73 GB.
    return {
        "spark.driver.extraJavaOptions":
            f"{java_opts} -Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
            " -XX:+AlwaysPreTouch".strip(),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.fugue_warehouses.checkpoint.dir": os.path.join(work, "checkpoints"),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop_tree(spark, pids: list[int]) -> None:
    """Stop the session, then make sure the JVM and the Python workers it
    forked have exited before returning."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    me = os.getpid()
    deadline = time.monotonic() + 20
    alive = [p for p in pids if p != me]
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive and time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = float("inf")
        if alive:
            time.sleep(0.05)


def _tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest pass-time percentile with at
    least ten passes beyond it; ``None`` under eleven passes."""
    n = len(values)
    if n < 11:
        return None
    k = n - 10
    return 100.0 * k / n, sorted(values)[k - 1]


def _half_ratio(values: list[float]) -> float:
    h = len(values) // 2
    return statistics.median(values[-h:]) / statistics.median(values[:h])


def _layer_metrics(tracer, setup_mark: int, traced: list, untraced_s: list) -> dict:
    """Per-pass averages over the traced passes plus the set-up layers."""
    n = len(traced)
    totals: dict[str, float] = {}
    selfs: dict[str, float] = {}
    for p in traced:
        for k, v in tracer.totals(p["mark0"], p["mark1"]).items():
            totals[k] = totals.get(k, 0.0) + v / n
        for k, v in tracer.self_times(p["mark0"], p["mark1"]).items():
            selfs[k] = selfs.get(k, 0.0) + v / n
    setup_tot = tracer.totals(0, setup_mark)
    setup_self = tracer.self_times(0, setup_mark)
    traced_s = [p["wall"] for p in traced]
    m = {
        "session.start_s": setup_tot.get("session", 0.0),
        "sources.load_s": setup_tot.get("load", 0.0),
        "engine.build_s": totals.get("build", 0.0),
        "catalyst.plan_s": totals.get("plan", 0.0),
        "exec_s": totals.get("exec", 0.0),
        "checkpoint.release_s": totals.get("release", 0.0),
        "self.session_s": setup_self.get("session", 0.0),
        "self.load_s": setup_self.get("load", 0.0),
        "self.op_s": selfs.get("op", 0.0),
        "self.build_s": selfs.get("build", 0.0),
        "self.plan_s": selfs.get("plan", 0.0),
        "self.exec_s": selfs.get("exec", 0.0),
        "self.release_s": selfs.get("release", 0.0),
        "trace.pass_s": statistics.median(traced_s),
        "trace.overhead_s": statistics.median(traced_s) - statistics.median(untraced_s),
    }
    for key in ("spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
                "codegen.compiles", "sources.files_discovered", "jvm.jit_s", "jvm.gc_s",
                "checkpoint.rdds_released"):
        m[key] = sum(p["counters"][key] for p in traced) / n
    m["py.workers_peak"] = max(p["workers_peak"] for p in traced)
    return m


PER_LAYER_UNITS = {
    "session.start_s": "s", "sources.load_s": "s", "engine.build_s": "s",
    "catalyst.plan_s": "s", "exec_s": "s", "checkpoint.release_s": "s",
    "self.session_s": "s", "self.load_s": "s", "self.op_s": "s", "self.build_s": "s",
    "self.plan_s": "s", "self.exec_s": "s", "self.release_s": "s",
    "trace.pass_s": "s", "trace.overhead_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "codegen.compiles": "count",
    "sources.files_discovered": "count", "jvm.jit_s": "s", "jvm.gc_s": "s",
    "checkpoint.rdds_released": "count", "py.workers_peak": "count",
}


def _op_layers(tracer, traced: list, reported: dict) -> dict[str, float]:
    """Over the traced passes: median latency per operation, per-pass time
    of the versioned store calls, and the self time of every span name
    the per-layer metrics do not already report."""
    per_op: dict[str, list[float]] = {}
    out: dict[str, float] = {}
    n = len(traced)
    for p in traced:
        for s in tracer.spans[p["mark0"]:p["mark1"]]:
            secs = s["end"] - s["start"]
            if s["name"] == "op":
                per_op.setdefault(s["op"], []).append(secs)
            elif s["name"] in ("upsert", "read", "vacuum"):
                key = f"versioned.{s['name']}_s"
                out[key] = out.get(key, 0.0) + secs / n
        for k, v in tracer.self_times(p["mark0"], p["mark1"]).items():
            if f"self.{k}_s" not in reported:
                out[f"self.{k}_s"] = out.get(f"self.{k}_s", 0.0) + v / n
    ops = {f"op.{k}_s": statistics.median(v) for k, v in sorted(per_op.items())}
    return {**ops, **out}


def _timed_pass(wl, ctx, spark, sampler, tracer, traced: bool) -> tuple[float, list, dict]:
    """One timed pass; a traced one also returns its span window and
    counter deltas, all read outside the pass's timer."""
    import workloads as W

    if not traced:
        t = time.perf_counter()
        results = wl.run_pass(ctx, NO_TRACE, None)
        return time.perf_counter() - t, results, {}
    layers = W.PassLayers()
    sampler.reset_window()
    c0 = probes.jvm_counters(spark)
    mark0 = tracer.mark()
    t = time.perf_counter()
    results = wl.run_pass(ctx, tracer, layers)
    wall = time.perf_counter() - t
    spark.sparkContext.setJobGroup("perfbench-untraced", "perfbench-untraced")
    c1 = probes.jvm_counters(spark)
    counters = {k: c1[k] - c0[k] for k in c0}
    for key in ("spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks"):
        counters[key] = sum(probes.job_counts(spark, g)[key] for g in layers.groups)
    counters["checkpoint.rdds_released"] = layers.rdds_released
    rec = {"wall": wall, "mark0": mark0, "mark1": tracer.mark(), "counters": counters,
           "workers_peak": sampler.window_workers, "layers": layers}
    return wall, results, rec


def run(args, work: str) -> tuple[list[str], dict | None]:
    """Returns the output lines and the result object (``None`` when the
    run could not produce its metrics)."""
    conf = _isolate(work)
    import workloads as W
    from fugue_warehouses_spark.session import get_spark

    n_timed = timed_pass_count(args.workload, args.seconds)
    if args.trace:
        n_timed = max(n_timed, 4)  # room for one untraced-traced-traced-untraced cycle
    tracer = Tracer() if args.trace else NO_TRACE
    if args.workload == "versioned_ingest":
        wl = W.VersionedIngest(1 + n_timed)
    else:
        wl = W.QueryMix(W.QUERY_OPS, W.FIXTURE_TABLES)
    wl.expect(args.seed, work)
    host_start = probes.host_controls()
    steal0 = probes.cpu_jiffies()
    sampler = probes.TreeSampler().start()
    setup_s = jvm1 = None
    walls: list[float] = []  # every timed pass, in order
    untraced_s: list[float] = []
    traced: list[dict] = []

    t0 = time.perf_counter()
    with tracer.span("session"):
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ctx = W.Ctx(spark, args.seed, work)
    try:
        wl.prepare(ctx, tracer)
        setup_mark = tracer.mark() if args.trace else 0
        t = time.perf_counter()
        keep_s = wl.first_pass(ctx)
        first_s = time.perf_counter() - t - keep_s
        setup_s = time.perf_counter() - t0 - keep_s

        jvm0 = probes.jvm_counters(spark)
        # a traced run interleaves untraced and traced passes as U T T U,
        # so both kinds sit at the same average point of the warm-up and
        # their difference is the tracing overhead
        for i in range(n_timed):
            is_traced = bool(args.trace) and i % 4 in (1, 2)
            wall, results, rec = _timed_pass(wl, ctx, spark, sampler, tracer, is_traced)
            walls.append(wall)
            if is_traced:
                traced.append(rec)
            else:
                untraced_s.append(wall)
            wl.check_pass(ctx, results)
        jvm1 = probes.jvm_counters(spark)
    except Exception as e:  # noqa: BLE001 - reported as a failed operation
        ctx.fail("run", repr(e)[:300])
        traceback.print_exc()
    finally:
        pids = probes.process_tree(os.getpid())
        sampler.stop()
        _stop_tree(spark, pids)
    steal1 = probes.cpu_jiffies()
    t = time.perf_counter()
    try:
        wl.final_check(ctx)
    except Exception as e:  # noqa: BLE001
        ctx.fail("final_check", repr(e)[:300])
        traceback.print_exc()
    check_s = time.perf_counter() - t
    host_end = probes.host_controls()
    steal_pct = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

    failed = len(ctx.failures)
    attempted = max(1, ctx.attempted)
    for f in ctx.failures:
        print(f"perfbench failure: {f}", file=sys.stderr)
    lines = [f"context host_start.{k} {v:g}" for k, v in host_start.items()]
    lines += [f"context host_end.{k} {v:g}" for k, v in host_end.items()]
    lines.append(f"context host.cpu_steal_pct {steal_pct:.2f}")
    lines.append(f"context timed_passes {n_timed} session_cores {session_cores()}")
    if setup_s is not None:
        lines.append(f"context first_pass_s {first_s:.3f} keep_s {keep_s:.3f}")
    lines.append(f"context check_s {check_s:.3f}")
    lines.append("context pass_times_s " + " ".join(f"{x:.4f}" for x in untraced_s))
    tail = _tail(untraced_s)
    lines.append(
        f"metric pass_tail_s {tail[1]:.6f} s p{tail[0]:.1f} of {len(untraced_s)} passes"
        if tail else
        f"context pass_tail_s n/a: {len(untraced_s)} timed passes, needs >= 11"
    )
    lines.append(f"metric error_rate {failed / attempted:.6f} ratio")
    if jvm1 is None or not untraced_s or (args.trace and not traced):
        return lines, None
    lines.append(f"context warmup.half_ratio {_half_ratio(walls):.4f}")
    lines += [f"context timed.{k}_per_pass {(jvm1[k] - jvm0[k]) / len(walls):.4f}"
              for k in ("jvm.jit_s", "jvm.gc_s", "codegen.compiles")]

    if args.trace:
        values = _layer_metrics(tracer, setup_mark, traced, untraced_s)
        extra = {**wl.layer_lines([p["layers"] for p in traced]),
                 **_op_layers(tracer, traced, values)}
        lines += [f"layer {k} {v:.6f}" for k, v in extra.items()]
        out = os.path.join(BENCH_DIR, "out")
        os.makedirs(out, exist_ok=True)
        tracer.dump(
            os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "per_layer": values,
             "layers": extra, "host_start": host_start, "host_end": host_end},
        )
        units = PER_LAYER_UNITS
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": statistics.median(untraced_s),
            "peak_rss_mb": sampler.peak_rss / (1 << 20),
        }
        units = END_TO_END_UNITS
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    lines += [f"metric {k} {v:.6f} {units[k]}" for k, v in values.items()]
    return lines, {"correct": failed == 0, "attempted": attempted, "failed": failed,
                   "metrics": metrics}


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fugue_warehouses_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{os.getpid()}")
    try:
        lines, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    if result is None:
        print("perfbench: the run produced no metrics", file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
