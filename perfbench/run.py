"""hllspark benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload urls_by_lang --seed 1 --seconds 10 --trace 0

Run from the repository root.  With ``--trace 0`` the last stdout line is
the JSON result with the end-to-end metrics; with ``--trace 1`` it holds
the per-layer metrics (layer ladder, Spark stage/SQL metrics, codec
ladder, tracing overhead).  Full tables and spans are written to
``perfbench/out/``.  See perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_ROWS = 500_000
WARMUP_FLOOR_RUNS = 12  # b0 runs in warm-up, counting those paired with iterations
MIN_ITERS = 3
# past the deadline, stop retrying once this many iterations were attempted
MAX_ATTEMPTS = 3 * MIN_ITERS
# setup_s is the setup wall time rescaled to a host on which the pages
# floor (max(xxhash64(url)) over the 500k-row table) takes FLOOR_REF_S.
# Host drift slows setup and the floor alike; on a shared 4-vCPU host both
# moved by 20-25% between batches while their ratio moved 2%.
FLOOR_REF_S = 0.2
CALIBRATION_RUNS = 7


def declared(kind: str) -> dict:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``, in
    BENCHMARK.json order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=DEFAULT_ROWS,
                    help="pages rows (the self-test uses a tiny table)")
    return ap.parse_args(argv)


def start_session(work: str, cores: int):
    from hllspark import session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # executors' Python workers import hllspark from the checkout and keep
    # every temporary file inside the run's work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    # few malloc arenas keep the JVM's native memory, and so its peak RSS,
    # from varying with thread scheduling
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    builder = (
        session.configured_builder("perfbench", cores=cores)
        # a fixed-size heap and young generation, so the JVM's peak RSS
        # follows what the run retains rather than adaptive heap sizing;
        # extra JIT compiler threads shorten the warm-up
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g -Xmn256m "
                "-XX:+UseParallelGC -XX:CICompilerCount=6")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def jit_compile_ms(spark) -> int:
    mx = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return int(mx.getTotalCompilationTime())


def environment(spark, cores: int, seed: int) -> dict:
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        commit = "unknown"
    return {
        "seed": seed, "cpus": cores, "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(), "commit": commit,
    }


class Runner:
    """Setup, warm-up and the closed measurement loop for one workload."""

    def __init__(self, spark, workload, fixture):
        self.spark = spark
        self.w = workload
        self.fx = fixture
        self.i = 0  # iteration index across warm-up and measurement
        self.attempted = 0
        self.failed = 0
        self.rel_err_max = 0.0
        self.sketch_bytes: list[float] = []

    def setup(self) -> dict:
        t = time.perf_counter()
        self.fx.write()
        fixture = time.perf_counter() - t
        t = time.perf_counter()
        self.w.prepare()
        prep = time.perf_counter() - t
        # C2 keeps compiling for tens of seconds after start; a run timed
        # before the iteration and b0 plans are compiled drifts downward
        t = time.perf_counter()
        for _ in range(self.w.warmup_iters):
            self.floor_s()
            self.step()
        for _ in range(WARMUP_FLOOR_RUNS - self.w.warmup_iters):
            self.floor_s()
        warm = time.perf_counter() - t
        if self.failed:
            raise RuntimeError("warm-up iterations failed their checks")
        return {"fixture_s": fixture, "prepare_s": prep, "warmup_s": warm}

    def calibrate(self) -> list[float]:
        """Pages-floor runs right after setup, to rescale setup_s."""
        out = []
        for _ in range(CALIBRATION_RUNS):
            t = time.perf_counter()
            self.fx.floor_query().collect()
            out.append(time.perf_counter() - t)
        return out

    def floor_s(self) -> float:
        t = time.perf_counter()
        self.w.floor_query().collect()
        return time.perf_counter() - t

    def step(self, span=None) -> float | None:
        """One iteration plus its untimed check; None when it failed.
        ``span`` is a context-manager factory wrapped around the timed part."""
        i = self.i
        self.i += 1
        self.attempted += 1
        try:
            with span() if span else contextlib.nullcontext():
                t = time.perf_counter()
                result = self.w.iterate(i)
                elapsed = time.perf_counter() - t
            verdict = self.w.check(i, result)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        self.rel_err_max = max(self.rel_err_max, verdict["rel_err_max"])
        if verdict["sketch_bytes"] is not None:
            self.sketch_bytes.append(verdict["sketch_bytes"])
        if not verdict["ok"]:
            print(f"iteration {i}: correctness check failed", file=sys.stderr)
            self.failed += 1
            return None
        return elapsed

    def more(self, deadline: float, passed: int) -> bool:
        """Go on until the deadline and MIN_ITERS passing iterations, but
        past the deadline give up after MAX_ATTEMPTS attempts, so that
        iterations that keep failing their checks end the run."""
        if time.perf_counter() < deadline:
            return True
        return passed < MIN_ITERS and self.attempted < MAX_ATTEMPTS

    def measure(self, seconds: float) -> dict:
        """Closed loop: b0 and the iteration back to back until the deadline."""
        self.attempted = self.failed = 0
        iters, floors = [], []
        deadline = time.perf_counter() + seconds
        while self.more(deadline, len(iters)):
            b0 = self.floor_s()
            s = self.step()
            if s is not None:
                iters.append(s)
                floors.append(b0)
        return {"iteration_s": iters, "b0_s": floors}


def run_untraced(args, runner, out: dict) -> dict:
    out["calibration_b0_s"] = runner.calibrate()
    setup_s = (out["setup_wall_s"] * FLOOR_REF_S
               / statistics.median(out["calibration_b0_s"]))
    m = runner.measure(args.seconds)
    out["measure"] = m
    if not m["iteration_s"]:
        raise RuntimeError("no iteration passed its correctness check")
    med = statistics.median(m["iteration_s"])
    return {
        "setup_s": setup_s,
        "rows_per_s": runner.w.input_rows / med,
        "vs_floor": statistics.median(
            i / b0 for i, b0 in zip(m["iteration_s"], m["b0_s"])),
        "peak_rss_mb": jvm_peak_rss_mb(runner.spark),
    }


def run_traced(args, runner, work: str, out: dict) -> dict:
    import tracing

    tracer = tracing.Tracer(runner.spark.sparkContext)
    runner.attempted = runner.failed = 0
    plain, traced, traced_groups = [], [], []
    deadline = time.perf_counter() + args.seconds
    while runner.more(deadline, len(traced)):
        s = runner.step()
        if s is not None:
            plain.append(s)
        s = runner.step(lambda: tracer.span(runner.w.name,
                                            trace_id=f"iter-{runner.i}"))
        if s is not None:
            traced.append(s)
            traced_groups.append(tracer.spans[-1]["group"])
    if not plain or not traced:
        raise RuntimeError("no iteration passed its correctness check")
    rungs = tracing.run_ladder(tracer, runner.w, work)
    codec = tracing.run_codec_ladder(tracing.register_states(runner.w))
    engine = tracing.collect_engine_metrics(runner.spark)

    groups_of = {sp["span_id"]: sp["group"] for sp in tracer.spans}
    per_iter = {k: v / len(traced_groups)
                for k, v in tracing.sum_groups(engine, traced_groups).items()}
    table = {}
    for r in rungs:
        if "span_ids" in r:
            total = tracing.sum_groups(engine, [groups_of[i] for i in r["span_ids"]])
            r["engine_per_rep"] = {k: v / len(r["span_ids"]) for k, v in total.items()}
        table[r["rung"]] = r
    s = {k: table[k]["s"] for k in table if "s" in table[k]}
    py = {}
    for rung in ("agg.encode", "agg.merge", "agg.estimate"):
        for k, v in table[rung]["engine_per_rep"].items():
            if k.startswith("python."):
                py[k] = py.get(k, 0) + v
    med_plain, med_traced = statistics.median(plain), statistics.median(traced)
    metrics = {
        "io.scan_s": s["io.scan"],
        "hashing.hash_s": s["hashing.hash"],
        "hashing.self_s": s["hashing.hash"] - s["io.scan"],
        "jvmagg.build_s": s["jvmagg.build"],
        "jvmagg.self_s": s["jvmagg.build"] - s["hashing.hash"],
        "jvmagg.sort_fallback_tasks":
            table["jvmagg.build"]["engine_per_rep"]["sort_fallback_tasks"],
        "agg.encode_s": s["agg.encode"],
        "agg.encode_self_s": s["agg.encode"] - s["jvmagg.build"],
        "io.commit_s": s["io.commit"],
        "io.bytes_per_sketch": table["io.bytes_per_sketch"]["value"],
        "io.read_s": s["io.read"],
        "agg.merge_s": s["agg.merge"],
        "agg.estimate_s": s["agg.estimate"],
        "trace.overhead_frac": 1.0 - med_plain / med_traced,
    }
    for k in ("spark.executor_run_s", "spark.wait_s", "plan.python_nodes",
              "plan.exchanges"):
        metrics[k] = per_iter.get(k, 0)
    for k in ("python.run_s", "python.init_s"):
        metrics[k] = py.get(k, 0)
    for k in ("sketch.hlll_vs_hll_bits", "sketch.encode_us.hlll.p50",
              "sketch.decode_us.hlll.p50", "hll.estimate_us.p50"):
        metrics[k] = codec[k]
    out.update({
        "iterations": {"untraced_s": plain, "traced_s": traced,
                       "untraced_rows_per_s": runner.w.input_rows / med_plain,
                       "traced_rows_per_s": runner.w.input_rows / med_traced},
        "engine_per_iteration": per_iter, "ladder": table, "codec": codec,
    })
    spans_path = os.path.join(HERE, "out", f"spans-{_tag(args)}.jsonl")
    with open(spans_path, "w") as fh:
        for sp in sorted(tracer.spans, key=lambda x: x["span_id"]):
            fh.write(json.dumps({**sp, "start": sp["start"] - T0,
                                 "end": sp["end"] - T0,
                                 "engine": engine.get(sp["group"], {})}) + "\n")
    out["spans_file"] = os.path.relpath(spans_path, ROOT)
    return metrics


def _tag(args) -> str:
    return f"{args.workload}-s{args.seed}-t{args.trace}"


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import workloads  # imports hllspark: fails outside a repo checkout

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{_tag(args)}-{os.getpid()}")
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    spark = start_session(work, cores)
    try:
        session_s = time.perf_counter() - T0
        fixture = workloads.Fixture(spark, work, args.rows, args.seed)
        w = workloads.WORKLOADS[args.workload](fixture, work)
        runner = Runner(spark, w, fixture)
        out = {"workload": args.workload, "env": environment(spark, cores, args.seed),
               "input_rows": None, "session_start_s": session_s}
        out.update(runner.setup())
        out["input_rows"] = w.input_rows
        out["setup_wall_s"] = (session_s + out["fixture_s"]
                               + out["prepare_s"] + out["warmup_s"])
        out["jit_compile_ms_after_warmup"] = jit_compile_ms(spark)
        if args.trace:
            metrics = run_traced(args, runner, work, out)
            units = declared("per_layer")
        else:
            metrics = run_untraced(args, runner, out)
            units = declared("end_to_end")
        out["jit_compile_ms_at_end"] = jit_compile_ms(spark)
        out["attempted"], out["failed"] = runner.attempted, runner.failed
        out["rel_err_max"] = runner.rel_err_max
        out["sketch_bytes"] = (statistics.mean(runner.sketch_bytes)
                               if runner.sketch_bytes else None)
        out["metrics"] = metrics
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    detail = os.path.join(HERE, "out", f"{_tag(args)}.json")
    with open(detail, "w") as fh:
        json.dump(out, fh, indent=1, default=str)
    report(args, out, metrics, units, detail)
    return 0


def report(args, out, metrics, units, detail) -> None:
    from workloads import GATE_ABS, GATE_SIGMAS

    env = out["env"]
    n = len(out["iterations"]["traced_s"] if args.trace
            else out["measure"]["iteration_s"])
    print(f"workload {args.workload} seed {env['seed']} cpus {env['cpus']} "
          f"spark {env['spark']} java {env['java']} python {env['python']} "
          f"commit {env['commit'][:12]} rows {out['input_rows']}")
    sb = out["sketch_bytes"]
    lines = {
        "rel_err_max": f"{out['rel_err_max']:.6f} (gate: within "
                       f"{GATE_SIGMAS:g} x 1.04/sqrt(m) x exact + {GATE_ABS:g})",
        "sketch_bytes": f"{sb:.1f} B" if sb is not None else "n/a",
        "fail_frac": f"{out['failed'] / out['attempted']:.4f} "
                     f"({out['failed']}/{out['attempted']} iterations)",
    }
    if not args.trace:
        lines["setup_s"] = (f"{metrics['setup_s']:.3f} s (wall "
                            f"{out['setup_wall_s']:.3f} s x {FLOOR_REF_S:g} s / "
                            f"pages b0 {statistics.median(out['calibration_b0_s']):.4f} s)")
        lines["rows_per_s"] = (f"{metrics['rows_per_s']:.1f} rows/s "
                               f"(median of {n} iterations)")
        lines["vs_floor"] = f"{metrics['vs_floor']:.3f} x b0"
        lines["peak_rss_mb"] = f"{metrics['peak_rss_mb']:.1f} MB"
    else:
        it = out["iterations"]
        lines["tracing_overhead"] = (
            f"{it['untraced_rows_per_s'] - it['traced_rows_per_s']:.1f} rows/s "
            f"({metrics['trace.overhead_frac']:.4f} of untraced)")
    for k in ("setup_s", "rows_per_s", "vs_floor", "rel_err_max",
              "sketch_bytes", "fail_frac", "peak_rss_mb", "tracing_overhead"):
        if k in lines:
            print(f"  {k:<16} {lines[k]}")
    print(f"  detail           {os.path.relpath(detail, ROOT)}")
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    sys.exit(main())
