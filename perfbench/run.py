"""perfbench: the engine's benchmark.

    python3 perfbench/run.py --workload eo_products --seed 1 --seconds 10 --trace 0

Runs one workload from inputs generated from ``--seed`` and prints one line
per metric (name, value, unit, sample count) and, as the last line of
stdout, one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the run records spans and the Spark
event log and the metrics are the per-layer ones.  Every run also writes
its full record (environment, all metrics, problems) under
``perfbench/results/<workload>/``.  NOTES.md defines each metric.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import startup  # noqa: E402  (light: no engine import at module level)

# Longest measuring window.  The warm loop also stops when llm_curation's
# merge batches run out (14 warm passes), which at over 4 s per pass lies
# beyond this window.
MAX_SECONDS = 60


def calibrate() -> float:
    """Fixed CPU-bound probe; flags slow VM phases in the record."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def configure_env(scratch: Path) -> dict:
    """local[nproc], a driver heap that fits the host, and every temporary
    file of Python, Spark and the JVMs under ``scratch``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_gb = int(fh.readline().split()[1]) / 2**20
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, min(2, int(total_gb // 4)))}g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    scratch.mkdir(parents=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(scratch)
    # the JVM's perf-data file lives in /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"
    return {
        "nproc": cpus,
        "mem_total_gb": round(total_gb, 1),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_DRIVER_MEM": os.environ["SPARK_DRIVER_MEM"],
    }


def peak_rss_mb() -> float:
    """Sum of VmHWM over the JVM and Python workers started by this process."""
    total_kb = 0
    for pid in startup.descendants(os.getpid()):
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def remove(path: Path) -> None:
    if path.is_dir() and not path.is_symlink():
        shutil.rmtree(path, ignore_errors=True)
    elif path.exists() or path.is_symlink():
        path.unlink()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not 1 <= args.seconds <= MAX_SECONDS:
        ap.error(f"--seconds must be within 1..{MAX_SECONDS}")

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    for need in ("odc_product_docker_images_spark/__init__.py", "tools/check_parity.py"):
        if not (ROOT / need).is_file():
            print(f"engine source missing: {need} (run from a repository checkout)", file=sys.stderr)
            return 2

    run_id = f"{args.workload}-t{args.trace}-s{args.seed}-{int(time.time() * 1000)}"
    work = HERE / ".work" / run_id
    env = configure_env(work / "tmp")
    tmp_root = ROOT / ".tmp"
    tmp_existed = tmp_root.is_dir()
    tmp_before = set(tmp_root.iterdir()) if tmp_existed else set()
    extra_conf = {}
    if args.trace:
        (work / "events").mkdir()
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    spark = None
    try:
        spark, queries, timings = startup.setup(extra_conf)
        calib0 = calibrate()

        import gen
        from spans import Tracer, read_event_log
        from workloads import WORKLOADS, Run

        data, truth = gen.ensure(HERE / ".data", args.seed)
        tracer = Tracer(run_id, enabled=bool(args.trace))
        tracer.sc = spark.sparkContext if args.trace else None
        run = Run(spark, queries, data, truth, tracer, args.seconds, work)
        WORKLOADS[args.workload](run)

        rss = peak_rss_mb()
        env.update({
            "spark": spark.version,
            "jvm": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "tables": truth["tables"],
        })
    finally:
        if spark is not None:
            startup.stop(spark)
        shutil.rmtree(work / "tmp", ignore_errors=True)
        from workloads import dir_bytes

        tmp_new = (set(tmp_root.iterdir()) if tmp_root.is_dir() else set()) - tmp_before
        tmp_left = sum(dir_bytes(p) for p in tmp_new)
        for p in tmp_new:
            remove(p)
        if not tmp_existed and tmp_root.is_dir() and not any(tmp_root.iterdir()):
            tmp_root.rmdir()
    calib1 = calibrate()
    env["host.calib_s"] = [calib0, calib1]

    m = dict(run.metrics)
    m["setup_s"] = (timings["setup_s"], "s", 1)
    m["peak_rss_mb"] = (rss, "MB", 1)
    m["fail_frac"] = (run.failed / max(1, run.attempted), "ratio", run.attempted)

    layer = {
        "session.start_s": timings["session.start_s"],
        "registry.import_s": timings["registry.import_s"],
        "jvm.gc_s": run.gc_s,
        "host.calib_s": statistics.median([calib0, calib1]),
        "versioned.tmp_bytes_left": tmp_left,
        **run.layer,
    }
    by_layer = {}
    if args.trace:
        n = len(run.warm_passes)
        logs = list((work / "events").iterdir())
        ev = read_event_log(logs[0], tracer, run.warm_passes)
        by_layer = ev["by_layer"]
        for k, v in ev["totals"].items():
            layer[k] = v if k == "exec.task_skew" else v / n
        layer["registry.plan_s"] = tracer.total("plan", run.warm_passes) / n
        for lay, s in tracer.self_times(run.warm_passes).items():
            layer[f"{lay}.self_s"] = s / n
        layer["trace.pass_s"] = m["pass_s"][0]
        for k in ("merge_s_p50", "read_s_p50", "write_amp", "space_amp", "dedup_recall",
                  "lag_s_p50", "lag_s_tail"):
            if k in m:
                layer[k] = m[k][0]

    correct = run.failed == 0
    if args.trace:
        units = {x["name"]: x["unit"] for x in bench["per_layer"]}
        out_metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        out_metrics = {
            x["name"]: {"value": float(m[x["name"]][0]), "unit": x["unit"]}
            for x in bench["end_to_end"]
        }

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"attempted={run.attempted} failed={run.failed}")
    for name, (v, unit, n) in sorted(m.items()):
        print(f"  {name} = {v:.6g} {unit} (n={n})")
    if args.trace:
        for name in sorted(layer):
            print(f"  {name} = {layer[name]:.6g}")
        untraced = [
            json.loads(f.read_text())["metrics"]["pass_s"]["value"]
            for f in (HERE / "results" / args.workload).glob("*-t0-*.json")
        ]
        if untraced:
            med = statistics.median(untraced)
            print(f"  tracing overhead: pass_s {m['pass_s'][0]:.4g} s traced vs "
                  f"{med:.4g} s untraced median (n={len(untraced)}): {m['pass_s'][0] - med:+.4g} s")
    for p in run.problems:
        print(f"  problem: {p}")

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "time": time.time(), "env": env,
        "attempted": run.attempted, "failed": run.failed, "problems": run.problems,
        "metrics": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in m.items()},
        "per_layer": layer, "by_layer": by_layer, "ops": run.ops,
    }
    res = HERE / "results" / args.workload
    res.mkdir(parents=True, exist_ok=True)
    (res / f"{run_id}.json").write_text(json.dumps(record, indent=1))
    if args.trace:
        tracer.dump(res / f"{run_id}.spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": out_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
