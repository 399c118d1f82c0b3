"""Time registered keys at sf0.1 vs a scale-up replica (SCALING.md feed).

Usage: python tools/measure_scaleup.py key1,key2[,...] [--runs 3]
           [--dir .tmp/sf1x100]

Each key runs against /root/testdata/sf0.1 and the replica dir (default
.tmp/sf1x10; pass --dir for the 100x tier built by make_scaleup_n.py) on
the same warm session (local[$SPARK_GRAFT_CPUS], else one slot per host
core); per-dir timing is min-of-N (default 3) of a full materialization
into a noop sink (no driver collect).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

REPO = Path(__file__).resolve().parent.parent
SF01 = "/root/testdata/sf0.1"
SF10 = str(REPO / ".tmp" / "sf1x10")


def main() -> None:
    from odc_product_docker_images_spark import registry
    from odc_product_docker_images_spark.session import get_spark

    keys = sys.argv[1].split(",")
    runs = int(sys.argv[sys.argv.index("--runs") + 1]) if "--runs" in sys.argv else 3
    global SF10
    if "--dir" in sys.argv:
        SF10 = sys.argv[sys.argv.index("--dir") + 1]

    spark = get_spark("measure-scaleup", shuffle_partitions=32)
    qs = registry.all_queries()

    def bench(key: str, sf_dir: str) -> float:
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            qs[key].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return best

    tier = SF10.rsplit("sf1x", 1)[-1] + "x" if "sf1x" in SF10 else Path(SF10).name
    print(f"| key | sf0.1 | {tier} data | ratio |")
    for key in keys:
        a = bench(key, SF01)
        b = bench(key, SF10)
        print(f"| {key} | {a:.1f} s | {b:.1f} s | {b / a:.1f}x |")


if __name__ == "__main__":
    main()
