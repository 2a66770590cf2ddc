"""Benchmark entry point: one run of one workload in a fresh process.

    python3 perfbench/run.py --workload nightly_cold --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the inputs from ``--seed``,
starts the engine's session with its defaults on ``nproc`` task slots, runs
the workload, checks every output apart from the program, and prints one
JSON object as the last line of standard output: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). The line before it is the run record: host
steal and load, per-query latencies and any problems found.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, proc, trace  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx  # noqa: E402

# Settings that change what the program computes; a run refuses them so that
# every run measures the program's defaults.
FORBIDDEN_PREFIXES = ("PSE_",)
FORBIDDEN = ("SPARK_GRAFT_EXTRA_CONFS", "SPARK_GRAFT_SHUFFLE")


def refuse(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def hygiene() -> None:
    bad = sorted(k for k in os.environ if k.startswith(FORBIDDEN_PREFIXES) or k in FORBIDDEN)
    if bad:
        refuse(f"refusing to run with program overrides set: {', '.join(bad)}", 3)
    for need in ("profitscout_engine_spark/__init__.py", "tests/conftest.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            refuse(f"{need} not found under {ROOT}: run from a full checkout", 2)


def fresh_dirs(run_id: str) -> dict[str, str]:
    """Fresh scratch for this run: inputs, outputs, Spark local and temp dirs."""
    base = os.path.join(ROOT, ".perfbench", "scratch", run_id)
    shutil.rmtree(base, ignore_errors=True)
    dirs = {k: os.path.join(base, k) for k in ("inputs", "out", "local", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    dirs["base"] = base
    return dirs


def environment(dirs: dict[str, str]) -> None:
    slots = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    # Keep the JVM's temp files and perf-data file inside the run's scratch.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"


def written_files(out_dir: str, since: float) -> tuple[int, int]:
    """(bytes, files) of data files written under ``out_dir`` since ``since``.
    Hard-linked files of untouched partitions keep their old mtime."""
    size = count = 0
    for d, _, files in os.walk(out_dir):
        for f in files:
            if f.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(d, f))
            if st.st_mtime >= since:
                size += st.st_size
                count += 1
    return size, count


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its workers to end."""
    pids = [p for p in proc.descendants() if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    java = gateway.proc  # the JVM pyspark launched
    spark.stop()
    gateway.shutdown()
    java.stdin.close()  # the JVM exits when its stdin closes
    try:
        java.wait(timeout=30)
    except subprocess.TimeoutExpired:
        java.kill()
        java.wait()
    for p in proc.wait_gone(pids, 30):
        try:
            os.kill(p, 9)
        except OSError:
            pass
    proc.wait_gone(pids, 10)


# Per-layer metrics that run.py adds to the tracer's own.
TRACE_ONLY = ("session.start_s", "sources.bytes_written", "sources.files_written",
              "trace.wall_s", "trace.overhead_s")
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}


def e2e_metrics(setup_s: float, result: dict, cpu_s: float) -> dict[str, float]:
    """End-to-end metrics of one run. A warm workload's CPU is per pass."""
    return {"setup_s": setup_s, "wall_s": result["wall_s"], "cpu_s": cpu_s / result.get("passes", 1)}


def latency_summary(result: dict) -> dict[str, float]:
    """Per-query latency figures for the run record (analyst_warm's headline)."""
    lat = result["latencies"]
    out = {"query_p50_s": statistics.median(lat),
           "queries_per_min": 60.0 * result["queries"] / result.get("timed_s", result["wall_s"])}
    if len(lat) >= 100:
        out["query_p90_s"] = statistics.quantiles(lat, n=10)[-1]
    return out


def measure(args, workload, dirs: dict[str, str], tracer) -> tuple[dict, dict]:
    """Set up, time and check one run; returns (run record, metrics).
    The session is stopped, and its processes waited for, on every path."""
    host0 = proc.host()
    # -- set-up: session, registry import, workload preparation ------------
    t_setup = time.perf_counter()
    with tracer.span("session.start", "get_spark") as session_span:
        from profitscout_engine_spark.session import get_spark

        spark = get_spark()
    try:
        from profitscout_engine_spark.queries import load_registry

        ctx = Ctx(spark, load_registry(), dirs["inputs"], dirs["out"], tracer, args.seconds)
        workload.prepare(ctx)
        if args.trace:
            tracer.install(spark)
        warmup = workload.warm_up(ctx)
        setup_s = time.perf_counter() - t_setup - sum(warmup)

        # -- timed region --------------------------------------------------
        tracer.reset()
        t_wall0 = time.time()
        cpu0 = proc.tree_cpu_s()
        result = workload.run(ctx)
        cpu_s = proc.tree_cpu_s() - cpu0
        peak_rss = proc.tree_peak_rss_mb()
        bytes_written, files_written = written_files(dirs["out"], t_wall0)

        # -- correctness (untimed) -----------------------------------------
        workload.check(ctx, result)
    finally:
        stop_spark(spark)
    host1 = proc.host()

    e2e = e2e_metrics(setup_s, result, cpu_s)
    if args.trace:
        layer = tracer.layer_metrics(t_wall0, ctx.ops)
        layer.update({
            "session.start_s": session_span.dur,
            "sources.bytes_written": bytes_written,
            "sources.files_written": files_written,
            "trace.wall_s": result["wall_s"],
            "trace.overhead_s": tracer.harvest_s + tracer.bookkeeping_s,
        })
        metrics = {k: {"value": v, "unit": trace.UNITS[k]} for k, v in sorted(layer.items())}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    record = {
        "run": tracer.run, "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "steal_s": round(host1["steal_s"] - host0["steal_s"], 2), "load1": host1["load1"],
        "warmup_passes_s": [round(x, 3) for x in warmup],
        "latencies_s": [round(x, 4) for x in result["latencies"]],
        "attempted": ctx.attempted, "failed": ctx.failed, "problems": ctx.problems,
        "e2e": e2e, "latency": latency_summary(result), "peak_rss_mb": peak_rss,
        "ended": time.time(),
    }
    return record, metrics


def main() -> None:
    args = parse()
    hygiene()
    if args.workload not in WORKLOADS:
        refuse(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", 2)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = trace.Tracer(run_id, enabled=bool(args.trace))
    dirs = fresh_dirs(run_id)
    try:
        gen.generate(args.seed, dirs["inputs"])
        environment(dirs)
        os.chdir(dirs["base"])
        record, metrics = measure(args, WORKLOADS[args.workload](), dirs, tracer)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(dirs["base"], ignore_errors=True)
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, "runs.jsonl"), "a") as f:
        f.write(json.dumps({**record, "metrics": metrics}) + "\n")
    if args.trace:
        tracer.dump(os.path.join(results, f"spans-{run_id}.jsonl"))
    print(json.dumps({"perfbench_run": record}))
    print(json.dumps({"correct": record["failed"] == 0, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
