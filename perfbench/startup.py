"""Engine set-up as a fresh job container pays it, and its teardown.

``setup_s`` is the time from process start until ``get_spark`` and
``registry.queries()`` return, measured in the benchmark's own process:
one sample per run, repeated across runs.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
EXTRA_CONF = {"spark.ui.showConsoleProgress": "false"}


def process_age() -> float:
    """Seconds since this process was started (exec of the interpreter)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def setup(extra_conf: dict[str, str] | None = None):
    """Import the registry, start the session and list the query keys.
    Returns (spark, queries, timings)."""
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    t0 = time.perf_counter()
    from odc_product_docker_images_spark import registry
    from odc_product_docker_images_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={**EXTRA_CONF, **(extra_conf or {})})
    t2 = time.perf_counter()
    registry.queries()
    queries = registry.all_queries()
    t3 = time.perf_counter()
    timings = {
        "setup_s": process_age(),
        "session.start_s": t2 - t1,
        "registry.import_s": (t1 - t0) + (t3 - t2),
    }
    return spark, queries, timings


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (JVM, Python workers), from /proc."""
    children: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p.name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop(spark) -> None:
    """Stop the session, close the JVM's stdin so the gateway exits, and
    wait until the JVM and its Python workers have ended."""
    procs = descendants(os.getpid())
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    if jvm is not None:
        jvm.stdin.close()
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait(timeout=10)
    deadline = time.monotonic() + 15
    while procs and time.monotonic() < deadline:
        procs = [p for p in procs if Path(f"/proc/{p}").exists() and _alive(p)]
        if procs:
            time.sleep(0.05)
    for p in procs:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"
