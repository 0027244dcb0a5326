"""Message-to-products benchmark for trollflow2_spark.

Run from the repository root:

    python3 perfbench/run.py --workload granule_fanout --seed 1 --seconds 20 --trace 0

Workloads and their shapes live in ``perfbench/workloads.json``. Each run
starts a fresh JVM on ``local[1]``, generates its inputs from the seed,
sets up the engine several times (``setup_s`` is the median of those
set-ups, each from session start through one untimed warm-up job),
measures for ``--seconds``, checks every job's outputs, and prints two
JSON lines: a detail report, then the result line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` measures half
the time untraced and half traced, and reports the per-layer metrics
from the traced half plus the tracing overhead (traced minus untraced
median latency). ``--smoke`` swaps in the tiny shapes.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import uuid

from tracing import PRUNING_PLUGINS, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 5
DRIVER_HEAP = "1g"
# One Spark task thread. At these input sizes a second or fourth core
# made no operator_mix cycle faster on a 4-vCPU VM, and every busy
# thread is exposed to the other tenants of a shared host: side by side,
# operator_mix runs on local[4] spread more than on local[1] or local[2].
SPARK_CORES = 1


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def child_pids(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                    # the parent pid is the second field after the ")" of comm
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(entry))
            except (OSError, IndexError, ValueError):
                continue
    return out


class RssSampler:
    """Peak resident memory of this process plus its direct children
    (the JVM), sampled every 50 ms."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-rss", daemon=True)

    def _loop(self) -> None:
        me, kids, refreshed = os.getpid(), [], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - refreshed > 1.0:
                kids, refreshed = child_pids(me), now
            self.peak_kb = max(self.peak_kb, rss_kb(me) + sum(rss_kb(k) for k in kids))
            self._stop.wait(0.05)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return float(s[max(0, math.ceil(q * len(s)) - 1)])


def end_to_end(phase: dict, setups: list[float], peak_kb: int) -> dict:
    jobs = phase["jobs"]
    lat = [j["latency"] for j in jobs if j["latency"] is not None and not j["error"]]
    failed = sum(1 for j in jobs if j["error"])
    throughput = len(lat) / phase["elapsed"] if phase["elapsed"] > 0 else 0.0
    p50 = median(lat)
    if "cycles" in phase:
        # a loop over a fixed job list: jobs per median cycle, and the
        # median over the list of each job's median, so that one slow
        # cycle moves neither
        throughput = len(lat) / len(phase["cycles"]) / median(phase["cycles"])
        by_id: dict[str, list[float]] = {}
        for j in jobs:
            if j["latency"] is not None and not j["error"]:
                by_id.setdefault(j["id"], []).append(j["latency"])
        p50 = median([median(v) for v in by_id.values()])
    m = {
        "setup_s": {"value": median(setups), "unit": "s"},
        "throughput_jobs_per_s": {"value": throughput, "unit": "1/s"},
        "latency_p50_s": {"value": p50, "unit": "s"},
        "error_rate": {"value": failed / len(jobs) if jobs else 1.0, "unit": "ratio"},
        "peak_rss_mb": {"value": peak_kb / 1024.0, "unit": "MB"},
    }
    # p90 needs at least ten samples beyond it
    if len(lat) >= 100:
        m["latency_p90_s"] = {"value": percentile(lat, 0.9), "unit": "s", "samples": len(lat)}
    return m


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb") or name == "sinks.mb_written":
        return "MB"
    if name.endswith("_ratio"):
        return "ratio"
    return "s" if name.endswith("_s") or ".write_s." in name else "count"


def per_layer(wl, spark, tracer, phase: dict, untraced: dict, queries: list[str]) -> dict:
    """Per-job means of the traced spans and counts, by layer. A layer
    the workload does not reach reads 0; ``queries`` names the
    operator_mix queries, which get one metric each on every workload."""
    jobs = phase["jobs"]
    n = max(1, len(jobs))
    spans = tracer.spans
    selfs = tracer.self_times()

    def total(name, key=None):
        return sum((s["end"] - s["start"]) if key is None else s.get(key, 0)
                   for s in spans if s["name"] == name)

    checks = [s for s in spans if s.get("plugin") in PRUNING_PLUGINS]
    checked = sum(s["items_in"] for s in checks)
    summaries = [j["summary"] for j in jobs if j.get("summary")]
    produced = [p for s in summaries for p in s["result"].produced]
    pm = [s for s in spans if s["name"] == "plans.process_message"]
    due = {j["id"]: j["due"] for j in jobs if "due" in j}
    lags = [s["start"] - due[s["job"]] for s in pm if s["job"] in due]
    traced_lat = [j["latency"] for j in jobs if j["latency"] is not None and not j["error"]]
    untraced_lat = [j["latency"] for j in untraced["jobs"]
                    if j["latency"] is not None and not j["error"]]
    m = {
        "config.expand_s": total("config.expand") / n,
        "config.leaves": total("config.expand", "leaves") / n,
        "sources.create_scene_s": total("sources.create_scene") / n,
        "sources.to_wide_s": total("sources.to_wide") / n,
        "sources.input_mb": total("sources.create_scene", "input_bytes") / 1e6 / n,
        "operators.checks_s": total("operators.checks") / n,
        "operators.items_kept_ratio": (sum(s["items_out"] for s in checks) / checked
                                       if checked else 0.0),
        "operators.composites_s": total("operators.composites") / n,
        "operators.valid_fraction_s": total("operators.valid_fraction") / n,
        "operators.resample_s": total("operators.resample") / n,
        "sinks.save_s": total("sinks.save") / n,
        **{f"sinks.write_s.{w}": total(f"sinks.write.{w}") / n
           for w in ("parquet", "json", "geotiff", "simple_image", "cf")},
        "sinks.commit_s": total("sinks.commit") / n,
        "sinks.publish_s": total("sinks.publish") / n,
        "sinks.outputs": len(produced) / n,
        "sinks.mb_written": sum(p.get("size_bytes") or 0 for p in produced) / 1e6 / n,
        "plans.process_message_s": total("plans.process_message") / n,
        "plans.self_s": sum(selfs[s["id"]] for s in pm) / n,
        "plans.priority_batches": total("config.expand", "priority_batches") / n,
        "plans.scene_builds": sum(1 for s in spans if s["name"] == "sources.create_scene") / n,
        "plans.spark_jobs": sum(tracer.spark_jobs(spark, j["id"]) for j in jobs) / n,
        "streaming.intake_lag_s": median(lags),
        "streaming.trigger_ms": 0.0,
        "streaming.wal_commit_ms": 0.0,
        "streaming.msgs_per_batch": 0.0,
        "streaming.backlog_end": 0.0,
        "streaming.generator_lag_s": 0.0,
        **{f"queries.{q}_s": median([j["latency"] for j in jobs
                                     if j["id"] == q and j["latency"] is not None])
           for q in queries},
        "tracing_overhead_s": median(traced_lat) - median(untraced_lat),
    }
    m.update(wl.layer_extras(phase))
    return {k: {"value": float(v), "unit": layer_unit(k)} for k, v in m.items()}


def configure_env(root: str, work: str) -> None:
    """Process environment the engine needs, set here rather than in
    repository files: ``SPARK_CORES`` task threads, the repository
    importable by executor Python workers, and every scratch directory
    inside this run's work directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(SPARK_CORES),
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEMORY": DRIVER_HEAP,
        "TMPDIR": tmp,
        # the JVM sizes its GC and compiler thread pools to the cores it is
        # given; with the default parallel collector spinning on every
        # vCPU of a shared VM, operator_mix runs spread more and used
        # 1.6x the peak memory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                             f"-XX:ActiveProcessorCount={SPARK_CORES} -XX:+UseSerialGC",
        "PYSPARK_PYTHON": sys.executable,
        # a driver heap fixed at its maximum keeps peak RSS from following
        # the collector's run-to-run sizing decisions
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Xms{DRIVER_HEAP} "
                               "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    sys.path.insert(0, root)


def stop_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - still alive: force it
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, shape: dict, queries: list[str], work: str, contract: dict) -> tuple[dict, dict]:
    import workloads

    from trollflow2_spark.session import get_spark

    clock = {"start": time.perf_counter()}
    wl = workloads.WORKLOADS[args.workload](work, args.seed, shape)
    wl.generate()
    clock["generated"] = time.perf_counter()
    spark = None
    with RssSampler() as rss:
        try:
            setups = []
            for i in range(SETUPS):
                t0 = time.perf_counter()
                spark = get_spark("perfbench")
                wl.start(spark)
                wl.warm_up(spark)
                setups.append(time.perf_counter() - t0)
                if i < SETUPS - 1:
                    wl.stop()
                    spark.stop()
            clock["set_up"] = time.perf_counter()
            wl.prime(spark)
            clock["primed"] = time.perf_counter()
            if args.trace:
                untraced = wl.run_phase(spark, args.seconds / 2)
                tracer = Tracer()
                tracer.install(spark)
                try:
                    traced = wl.run_phase(spark, args.seconds / 2, tracer)
                finally:
                    tracer.uninstall()
                phases = [untraced, traced]
            else:
                untraced = wl.run_phase(spark, args.seconds)
                phases = [untraced]
            clock["measured"] = time.perf_counter()
            wl.stop()
            jobs = [j for p in phases for j in p["jobs"]]
            wl.check(spark, jobs)
            clock["checked"] = time.perf_counter()
            layers = per_layer(wl, spark, tracer, traced, untraced, queries) if args.trace else {}
        finally:
            wl.stop()
            if spark is not None:
                spark.stop()
            stop_jvm()
    clock["stopped"] = time.perf_counter()
    e2e = end_to_end(untraced, setups, rss.peak_kb)
    if args.trace:
        spans_path = os.path.join(os.path.dirname(work),
                                  f"spans-{args.workload}-seed{args.seed}.jsonl")
        tracer.dump(spans_path)
    failed = sum(1 for j in jobs if j["error"])
    errors = sorted({j["error"] for j in jobs if j["error"]})[:5]
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "setup_runs_s": setups, "jobs": len(jobs), "failed": failed,
              "clock_s": {k: round(v - clock["start"], 3) for k, v in clock.items()},
              "errors": errors,
              "latencies_s": [None if j["latency"] is None else round(j["latency"], 4)
                              for j in untraced["jobs"]],
              "cycles_s": untraced.get("cycles"),
              "end_to_end": e2e, "per_layer": layers}
    wanted = [m["name"] for m in contract["per_layer" if args.trace else "end_to_end"]]
    source = layers if args.trace else e2e
    result = {
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {k: {"value": source[k]["value"], "unit": source[k]["unit"]} for k in wanted},
    }
    return detail, result


def main(argv=None) -> int:
    with open(os.path.join(HERE, "workloads.json"), encoding="utf-8") as fh:
        spec = json.load(fh)["workloads"]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny shapes, for the self-test")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "trollflow2_spark", "__init__.py")):
        print("perfbench: run from the repository root (no trollflow2_spark/ here)",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        contract = json.load(fh)
    shape = spec[args.workload]["smoke_shape" if args.smoke else "shape"]
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}-{uuid.uuid4().hex[:6]}")
    os.makedirs(work)
    try:
        configure_env(root, work)
        detail, result = run(args, shape, spec["operator_mix"]["shape"]["queries"], work, contract)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
