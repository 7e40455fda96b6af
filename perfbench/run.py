"""Linkage benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload link_many --seed 1 --seconds 20 --trace 0

Run it from the repository root. It generates its inputs from ``--seed`` into
parquet under ``.bench_run/``, checks them against the hashes recorded in
``perfbench/expected.json``, warms the process up, then runs the workload's
closed loop until ``--seconds`` seconds have passed (at least one iteration),
checking every iteration's outputs against generator gold.

With ``--trace 0`` the last stdout line reports the end-to-end metrics listed
in ``BENCHMARK.json``; with ``--trace 1`` the per-layer metrics, measured by
wrapping the layer functions from outside (``tracing.py``). The exit code is
non-zero when an input hash or any output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
import traceback
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
# stop starting iterations once the process is this old, so a run on a slow
# host still ends well inside three minutes
AGE_LIMIT_S = 150.0
FLOAT_SLACK = 1e-9


def process_age_s() -> float:
    """Seconds since this process started, from /proc (boot-time clock)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def host_memory_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(run_dir: Path) -> dict:
    """Settings pinned for every run. Everything else stays as shipped."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = host_memory_gb()
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # the shipped default (48g) exceeds most hosts; a quarter of memory
        "SPARK_DRIVER_MEM": f"{max(1, min(8, int(mem_gb // 4)))}g",
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "TMPDIR": str(tmp),
        # keep the JVM's temporary files inside the checkout too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(pinned)
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    return pinned


def host_record(spark, pinned: dict, load_start, steal_pct: float) -> dict:
    import pyspark

    return {
        "steal_pct": steal_pct,
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gb": round(host_memory_gb(), 1),
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),  # noqa: SLF001
        "python": platform.python_version(),
        "pinned": {k: v for k, v in pinned.items() if k.startswith("SPARK_")},
    }


def cpu_steal_ticks() -> tuple[int, int]:
    """(stolen, total) jiffies of the host's CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        jiffies = [int(x) for x in f.readline().split()[1:9]]
    return jiffies[7], sum(jiffies)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Context:
    """What a workload needs: the session, its directories, the seed and,
    in a traced run, the layer tracer."""

    def __init__(self, spark, run_dir: Path, seed: int, tracer, recorded_hashes: dict):
        from workloads import Inputs

        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.data_dir = run_dir / "data"
        self.work_dir = run_dir / "work"
        self.work_dir.mkdir(parents=True)
        self.inputs = Inputs(spark, self.data_dir, recorded_hashes)
        self.started = time.perf_counter()

    def layer_row(self, wall: float, facts: dict, runs=()) -> dict:
        """Per-layer metrics of one traced iteration of ``wall`` seconds."""
        from tracing import DOMAIN_COUNTS, LAYERS, STAGE_METRICS, STREAM_COUNTS, UNATTRIBUTED
        from workloads import cached_rdds

        totals = self.tracer.iteration_totals(extra_groups={r: "streaming" for r in runs})
        walls = self.tracer.walls
        row = {}
        for layer in LAYERS:
            row[f"{layer}.wall_s"] = walls.get(layer, 0.0)
            for m in STAGE_METRICS:
                row[f"{layer}.{m}"] = totals.get(layer, {}).get(m, 0.0)
        task_run_s = sum(t["task_run_s"] for t in totals.values())
        cores = len(os.sched_getaffinity(0))
        row.update(
            {
                "session.jobs": sum(t["jobs"] for t in totals.values()),
                "session.stages": sum(t["stages"] for t in totals.values()),
                "session.failed_tasks": sum(t["failed_tasks"] for t in totals.values()),
                "session.driver_s": wall - task_run_s / cores,
                "session.cached_rdds_after": cached_rdds(self.spark),
                "session.jvm_peak_rss_mb": jvm_peak_rss_mb(self.spark),
                "streaming.reconcile_jobs": totals.get("reconcile", {}).get("jobs", 0.0),
                # share of the traced sections' time that a named layer holds
                "trace.coverage": 1 - walls.get(UNATTRIBUTED, 0.0) / sum(walls.values()),
            }
        )
        row.update(dict.fromkeys(DOMAIN_COUNTS + STREAM_COUNTS, 0.0))
        row.update(facts)
        return row


def load_json(path: Path) -> dict:
    with open(path) as f:
        return json.load(f)


def f1_floor(expected: dict, workload: str, seed: int, name: str) -> float:
    """The HEAD value for this seed and input when recorded, else the lowest
    value recorded for the workload."""
    seeds = expected["seeds"]
    recorded = seeds.get(str(seed), {}).get(workload, {}).get("f1", {})
    if name in recorded:
        return recorded[name]
    values = [v for s in seeds.values() for v in s.get(workload, {}).get("f1", {}).values()]
    return min(values) if values else 0.0


def result_metrics(spec: dict, trace: bool, setup_s: float, summary: dict, ok_ratio: float, traced: list[dict]):
    import statistics

    if trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = {n: float(statistics.median(r[n] for r in traced)) for n in names if n in traced[0]}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {"setup_s": setup_s, "ok_ratio": ok_ratio} | {
            k: summary[k] for k in ("link_cpu_s", "redecide_cpu_s", "f1")
        }
    missing = [n for n in names if n not in values]
    if missing:
        raise RuntimeError(f"benchmark produced no value for {missing}")
    return {n: {"value": values[n], "unit": units[n]} for n in names}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "alligator_spark" / "plans" / "pipeline.py").is_file():
        print(f"no alligator_spark package under {ROOT}: nothing to measure", file=sys.stderr)
        return 2
    sys.path[:0] = [str(BENCH_DIR), str(ROOT)]
    from workloads import WORKLOADS, CheckFailed, InputMismatch, canary_hash, log

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    spec = load_json(ROOT / "BENCHMARK.json")
    expected = load_json(BENCH_DIR / "expected.json")

    load_start = os.getloadavg()
    run_dir = ROOT / ".bench_run" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    pinned = pin_environment(run_dir)
    spark = None
    try:
        from alligator_spark.session import get_spark

        extra = None
        if args.trace:
            # one linkage runs ~400 stages; keep them all in the status store
            extra = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra)
        log(f"session up at {process_age_s():.1f}s")
        tracer = None
        if args.trace:
            from tracing import LayerTracer

            tracer = LayerTracer(spark)
            tracer.install()
            if tracer.missing:
                log(f"trace: layer functions not found, skipped: {tracer.missing}")
        recorded = expected["seeds"].get(str(args.seed), {}).get(args.workload, {})
        ctx = Context(spark, run_dir, args.seed, tracer, recorded.get("hash", {}))
        workload = WORKLOADS[args.workload](ctx)
        try:
            canary = canary_hash(spark)
            if canary != expected["canary"]:
                raise InputMismatch(f"canary corpus hashes to {canary}, recorded {expected['canary']}")
            log(f"canary checked at {process_age_s():.1f}s")
            workload.setup()
        except InputMismatch as e:
            log(f"refusing to run: the generated workload differs from the recorded one: {e}")
            return 3

        setup_s = process_age_s()
        steal0 = cpu_steal_ticks()
        rows, attempted, failed = [], 0, 0
        t_end = time.perf_counter() + args.seconds
        while True:
            attempted += 1
            t0 = time.perf_counter()
            try:
                row = workload.iteration(attempted - 1)
                floor = f1_floor(expected, args.workload, args.seed, row["input"])
                if row["f1"] < floor - FLOAT_SLACK:
                    raise CheckFailed(f"f1 {row['f1']!r} below the recorded {floor!r}")
                if tracer:
                    row["trace"]["trace.link_s"] = row["link_s"]
                    row["trace"]["trace.redecide_s"] = row["redecide_s"]
                rows.append(row)
            except CheckFailed as e:
                failed += 1
                log(f"iteration {attempted - 1} failed its check: {e}")
            now = time.perf_counter()
            if now >= t_end:
                break
            if process_age_s() + (now - t0) > AGE_LIMIT_S:
                log(f"stopping after {attempted} iterations: the next would end past {AGE_LIMIT_S}s")
                break

        steal1 = cpu_steal_ticks()
        steal_pct = 100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        for row in rows:
            if tracer:
                row["trace"]["trace.steal_pct"] = steal_pct
        log("record: " + json.dumps({
            "seed": args.seed,
            "workload": args.workload,
            "hash": ctx.inputs.hashes,
            "f1": {r["input"]: r["f1"] for r in rows},
        }, sort_keys=True))
        log("host: " + json.dumps(host_record(spark, pinned, load_start, steal_pct)))
        if not rows:
            log("no iteration passed its checks")
            return 1
        summary = workload.summarize(rows)
        ok_ratio = (attempted - failed) / attempted
        metrics = result_metrics(
            spec, bool(args.trace), setup_s, summary, ok_ratio, [r.get("trace") for r in rows]
        )
        if not args.trace:
            report = summary["report"] + [
                ("setup_s", setup_s, "s", 1),
                ("ok_ratio", ok_ratio, "ratio", attempted),
            ]
            for label, value, unit, n in report:
                print(f"{args.workload}/{label} {value:.6g} {unit} (n={n})")
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
        print(json.dumps(result))
        return 0 if failed == 0 else 1
    except Exception:  # noqa: BLE001 - report and fail the run without a result
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass  # another run still uses it


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and its Python workers) to end."""
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
