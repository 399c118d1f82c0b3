"""Scratch space (``scratch.py``): per-call directories, write-once
artifacts, fixture tags, and the sink keys that write through them."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

from odc_product_docker_images_spark import registry, scratch

REPO = Path(__file__).resolve().parent.parent


def test_artifact_builds_once(tmp_path, monkeypatch):
    monkeypatch.setattr(scratch, "ROOT", tmp_path)
    calls = []

    def build(d: str) -> None:
        calls.append(d)
        (Path(d) / "part").write_text("x")

    first = scratch.artifact("art", build, "t1")
    assert scratch.artifact("art", build, "t1") == first
    assert len(calls) == 1 and (Path(first) / "part").read_text() == "x"


def test_failed_build_leaves_nothing(tmp_path, monkeypatch):
    monkeypatch.setattr(scratch, "ROOT", tmp_path)

    def build(d: str) -> None:
        (Path(d) / "half").write_text("x")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        scratch.artifact("art", build, "t1")
    assert list(tmp_path.iterdir()) == []


def test_fresh_dir_removed_at_exit_not_by_forked_child(tmp_path):
    """The creating process removes its directory when it exits; a forked
    child that exits first (running the same exit hook) leaves it alone."""
    code = (
        "import os, sys, pathlib\n"
        "from odc_product_docker_images_spark import scratch\n"
        "scratch.ROOT = pathlib.Path(sys.argv[1])\n"
        "d = scratch.fresh('sub')\n"
        "if os.fork() == 0:\n"
        "    sys.exit(0)\n"
        "os.wait()\n"
        "print(d, d.is_dir())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path)],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.split()
    assert out[1] == "True"  # survived the child's exit
    assert Path(out[0]).parent == tmp_path and not Path(out[0]).exists()


def test_fixture_tag_invalidates_on_regeneration(tmp_path):
    """Write-once artifacts key their cache on scratch.fixture_tag; a
    fixture regenerated in place (same path, new bytes/mtime) must
    produce a DIFFERENT tag or five graded graph keys silently read
    stale edges (r8 advice)."""
    from odc_product_docker_images_spark.scratch import fixture_tag

    f = tmp_path / "lineitem.parquet"
    f.write_bytes(b"v1-bytes")
    t1 = fixture_tag(str(tmp_path))
    assert t1.startswith(fixture_tag(str(tmp_path)).rsplit("_", 1)[0])
    assert t1 == fixture_tag(str(tmp_path))  # stable while unchanged
    # same size, newer mtime (in-place regeneration)
    f.write_bytes(b"v2-bytes")
    os.utime(f, ns=(os.stat(f).st_atime_ns, os.stat(f).st_mtime_ns + 10**9))
    t2 = fixture_tag(str(tmp_path))
    assert t2 != t1
    # different size
    f.write_bytes(b"v3-bytes-longer")
    assert fixture_tag(str(tmp_path)) not in (t1, t2)


@pytest.mark.parametrize(
    "key", ["sink_geotiff_roundtrip", "sink_geotiff_tiled", "sink_partitioned_write"]
)
def test_sink_frame_survives_a_second_build(spark, sf_dir, key):
    """A sink key's frame reads back the files its own call wrote, so
    building the key again must not delete them."""
    fn = registry.queries()[key]
    first = fn(spark, sf_dir)
    fn(spark, sf_dir)
    got = sorted(tuple(r) for r in first.collect())
    assert got == sorted(tuple(r) for r in fn(spark, sf_dir).collect())
