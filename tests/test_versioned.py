"""Versioned-manifest table format: snapshot isolation, time travel,
compaction invariants (sources/versioned.py)."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql import types as T

import pytest

from conftest import SF_DIR

from odc_product_docker_images_spark.scratch import fresh
from odc_product_docker_images_spark.sources.versioned import CommitConflict, VersionedTable


def _table() -> VersionedTable:
    return VersionedTable(str(fresh("vtest")))


def test_commit_log_and_time_travel(spark):
    t = _table()
    df = spark.range(100).withColumnRenamed("id", "k")
    assert t.versions() == []
    v0 = t.write(df.where("k < 40"), mode="overwrite", n_files=2)
    v1 = t.write(df.where("k >= 40"), n_files=2)
    assert (v0, v1) == (0, 1)
    assert t.read(spark, 0).count() == 40
    assert t.read(spark, 1).count() == 100
    assert t.read(spark).count() == 100  # latest by default
    # overwrite drops history from the NEW snapshot but not from old ones
    t.write(df.where("k < 10"), mode="overwrite", n_files=1)
    assert t.read(spark, 2).count() == 10
    assert t.read(spark, 1).count() == 100


def test_compaction_preserves_content_and_history(spark):
    t = _table()
    df = spark.range(1000).withColumnRenamed("id", "k")
    t.write(df.where("k % 2 = 0"), mode="overwrite", n_files=4)
    t.write(df.where("k % 2 = 1"), n_files=4)
    assert t.file_count(1) == 8
    t.compact(spark, n_files=2)
    assert t.file_count(2) == 2
    # content invariant across the rewrite
    assert t.read(spark, 2).count() == 1000
    assert sorted(r.k for r in t.read(spark, 2).collect()) == list(range(1000))
    # pre-compaction snapshot still plans its original files
    assert t.file_count(1) == 8
    assert t.read(spark, 1).count() == 1000


def test_manifest_is_plan_source_not_directory_listing(spark):
    t = _table()
    df = spark.range(50).withColumnRenamed("id", "k")
    t.write(df, mode="overwrite", n_files=1)
    # drop a stray parquet file into data/ — a manifest-driven reader
    # must NOT pick it up (directory listing would)
    stray_dir = t.data_dir / "stray"
    df.limit(7).write.mode("overwrite").parquet(str(stray_dir))
    assert t.read(spark, 0).count() == 50
    m = json.loads((t.manifest_dir / "v0.json").read_text())
    assert m["operation"] == "overwrite"
    assert all("stray" not in f for f in m["files"])


def test_merge_is_file_level_copy_on_write(spark):
    """MERGE must rewrite ONLY files containing matched keys; untouched
    files ride into the new manifest verbatim, and both snapshots read
    correct content."""
    t = _table()
    df = spark.range(1000).withColumnRenamed("id", "k").withColumn("v", F.col("k") * 10)
    t.write(df.repartitionByRange(8, "k"), mode="overwrite")
    v0_files = set(t.snapshot_files(0))
    assert len(v0_files) == 8
    # updates hit only the lowest range stripe; inserts get fresh keys
    upd = spark.range(50).select(F.col("id").alias("k"), F.lit(-1).alias("v"))
    ins = spark.range(5).select((F.col("id") + 10_000).alias("k"), F.lit(7).alias("v"))
    t.merge(spark, upd.unionByName(ins), key="k")
    v1_files = set(t.snapshot_files(1))
    kept = v0_files & v1_files
    rewritten = v0_files - v1_files
    assert len(rewritten) <= 2, f"merge rewrote {len(rewritten)} of 8 files"
    assert len(kept) >= 6, "untouched files must carry into the new manifest"
    # content: updated rows replaced, inserts present, rest untouched
    v1 = {r.k: r.v for r in t.read(spark, 1).collect()}
    assert len(v1) == 1005
    assert all(v1[k] == -1 for k in range(50))
    assert all(v1[k] == k * 10 for k in range(50, 1000))
    assert all(v1[k + 10_000] == 7 for k in range(5))
    # old snapshot unharmed
    assert t.read(spark, 0).count() == 1000


def test_merge_nan_double_key_is_not_skipped(spark):
    """r13 (r12 ADVICE item 1): a double merge key containing NaN must not
    defeat the footer-stats file skip.  F.max over a NaN-bearing key
    returns NaN (Spark sorts NaN greatest) and every `st <= NaN`
    comparison is False — the pre-fix skip produced candidates=[] and
    silently never rewrote matched rows, leaving DUPLICATE keys after the
    merge.  Spark join equality treats NaN = NaN as equal, so a NaN
    update key genuinely matches a NaN snapshot key and must replace it."""
    t = _table()
    base = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0), (float("nan"), 30.0), (4.0, 40.0)],
        "k double, v double",
    )
    t.write(base.coalesce(1), mode="overwrite")
    upd = spark.createDataFrame([(float("nan"), -1.0)], "k double, v double")
    t.merge(spark, upd, key="k")
    rows = t.read(spark).collect()
    assert len(rows) == 4, f"duplicate keys after NaN merge: {len(rows)} rows"
    nan_vals = [r.v for r in rows if r.k != r.k]  # NaN != NaN in Python
    assert nan_vals == [-1.0], f"NaN row not rewritten: {nan_vals}"
    # normal-key updates still skip cleanly alongside NaN snapshot rows
    upd2 = spark.createDataFrame([(2.0, -2.0)], "k double, v double")
    t.merge(spark, upd2, key="k")
    vals = {(r.k if r.k == r.k else "nan"): r.v for r in t.read(spark).collect()}
    assert vals == {1.0: 10.0, 2.0: -2.0, "nan": -1.0, 4.0: 40.0}


def test_file_stats_require_every_row_group():
    """r13 (r12 ADVICE item 1): _file_stats_for must drop a column whose
    min/max came from only SOME row groups (an all-NULL or stats-omitted
    chunk can still hold matchable values after schema evolution) — a
    partial range understates the file and would let pruning skip real
    matches.  Columns with usable stats in every row group keep theirs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = _table()
    (t.path / "data").mkdir(parents=True, exist_ok=True)
    tbl = pa.table(
        {
            "k": pa.array([None, None, 5.0, 9.0], type=pa.float64()),
            "full": pa.array([1.0, 2.0, 3.0, 4.0], type=pa.float64()),
        }
    )
    pq.write_table(tbl, str(t.path / "data" / "part.parquet"), row_group_size=2)
    st = t._file_stats_for("data/part.parquet", ["k", "full"])
    assert "k" not in st, f"partial-row-group stats must not survive: {st}"
    assert st.get("full") == [1.0, 4.0]


def test_change_feed_reads_only_manifest_diff(spark):
    """CDC must be bounded by the rewritten volume: the feed plans ONLY
    files removed/added between the manifests (untouched files never enter
    it), carried-over rows cancel, and the classified changes are exact."""
    t = _table()
    df = spark.range(1000).withColumnRenamed("id", "k").withColumn("v", F.col("k") * 10)
    t.write(df.repartitionByRange(8, "k"), mode="overwrite")
    upd = spark.range(50).select(F.col("id").alias("k"), F.lit(-1).alias("v"))
    ins = spark.range(5).select((F.col("id") + 10_000).alias("k"), F.lit(7).alias("v"))
    t.merge(spark, upd.unionByName(ins), key="k")

    feed = t.change_feed(spark, 0, 1, key="k", value_col="v")
    # bounded read: every file in the feed's two scans is a manifest-diff
    # file, strictly fewer than the union of both snapshots
    base = lambda p: p.rsplit("/", 1)[-1]
    planned = {base(f) for f in feed.inputFiles()}
    v0 = {base(f) for f in t.snapshot_files(0)}
    v1 = {base(f) for f in t.snapshot_files(1)}
    assert planned == ((v0 - v1) | (v1 - v0))
    assert len(planned) < len(v0 | v1)

    rows = {(r.k, r.change_type): (r.v_before, r.v_after) for r in feed.collect()}
    assert len(rows) == 55
    assert all(rows[(k, "update")] == (k * 10, -1) for k in range(50))
    assert all(rows[(k + 10_000, "insert")] == (None, 7) for k in range(5))


def test_manifest_stats_prune_files(spark):
    """read_where must plan only stat-overlapping files — and still return
    exactly the filtered rows."""
    t = VersionedTable(str(_table().path), stat_cols=["k"])
    df = spark.range(8000).withColumnRenamed("id", "k")
    t.write(df.repartitionByRange(8, "k"), mode="overwrite")
    assert t.file_count(0) == 8
    planned = t.plan_files({"k": (2000, 2999)})
    assert 1 <= len(planned) <= 3, f"planned {len(planned)} of 8 files"
    got = sorted(r.k for r in t.read_where(spark, {"k": (2000, 2999)}).collect())
    assert got == list(range(2000, 3000))


def test_zorder_clusters_both_dimensions(spark):
    """A 2-D box over a Z-ordered layout must plan well under half the
    files; the same box over a 1-D range layout on x prunes nothing when
    the predicate is on y."""
    from odc_product_docker_images_spark.sources.versioned import zorder_key

    df = (
        spark.range(64 * 64)
        .select((F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y"))
    )
    tz = VersionedTable(str(_table().path), stat_cols=["x", "y"])
    clustered = (
        df.withColumn("_z", zorder_key(F.col("x"), F.col("y"), bits=6))
        .repartitionByRange(16, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    tz.write(clustered, mode="overwrite")
    box = {"x": (0, 15), "y": (0, 15)}
    planned = tz.plan_files(box)
    assert len(planned) <= 4, f"z-order planned {len(planned)} of 16"
    assert tz.read_where(spark, box).count() == 256

    tx = VersionedTable(str(_table().path), stat_cols=["x", "y"])
    tx.write(df.repartitionByRange(16, "x"), mode="overwrite")
    y_only = {"y": (0, 3)}
    assert len(tx.plan_files(y_only)) == 16  # x-clustering can't help a y predicate
    assert len(tz.plan_files(y_only)) <= 8   # z-clustering can


def test_change_feed_key_uniqueness_precondition(spark):
    """change_feed's docstring requires per-side key uniqueness — the
    full-outer join would cross-product duplicates.  Pin that the sides
    built from the manifest diff actually satisfy it in the merge flow
    (merge maintains uniqueness when writers respect it)."""
    t = _table()
    df = spark.range(200).withColumnRenamed("id", "k").withColumn("v", F.col("k") * 10)
    t.write(df.repartitionByRange(4, "k"), mode="overwrite")
    upd = spark.range(20).select(F.col("id").alias("k"), F.lit(-1).alias("v"))
    t.merge(spark, upd, key="k")
    mf = set(t._manifest(0)["files"])
    mt = set(t._manifest(1)["files"])
    for files in (sorted(mf - mt), sorted(mt - mf)):
        side = spark.read.parquet(*[str(t.path / f) for f in files])
        n, nd = side.count(), side.select("k").distinct().count()
        assert n == nd, f"duplicate keys within a change-feed side: {n} != {nd}"


def test_vacuum_bounds_history_and_preserves_latest(spark):
    from odc_product_docker_images_spark.io import load
    from odc_product_docker_images_spark.sources.versioned import _fresh_table

    ev = load(spark, SF_DIR, "events").select("event_id", "value").limit(200)
    t = _fresh_table("vac_test")
    t.write(ev, mode="overwrite", n_files=4)
    t.write(ev.select((F.col("event_id") + 10_000).alias("event_id"), "value"),
            mode="append", n_files=4)
    t.compact(spark, n_files=1)
    before = sorted(r["event_id"] for r in t.read(spark).collect())
    assert t.vacuum(retain_last=5) == (0, 0)  # nothing beyond the horizon
    n_deleted, n_dropped = t.vacuum(retain_last=1)
    assert (n_deleted, n_dropped) == (8, 2)
    # the retained snapshot reads identically...
    assert sorted(r["event_id"] for r in t.read(spark).collect()) == before
    assert t.versions() == [2]
    # ...and time travel past the horizon is gone: v0's manifest was
    # dropped, so planning it fails at the manifest read (the specific
    # type matters — a bare Exception match would pin nothing)
    with pytest.raises(FileNotFoundError):
        t.read(spark, 0)
    with pytest.raises(ValueError):
        t.vacuum(retain_last=0)


def test_restore_relists_files_without_copying(spark, sf_dir):
    """RESTORE must re-commit the old snapshot's file list verbatim (no
    data rewrite) and preserve the full history."""
    import pyspark.sql.functions as F

    from odc_product_docker_images_spark.io import load
    from odc_product_docker_images_spark.sources.versioned import _fresh_table

    ev = load(spark, sf_dir, "events").select("event_id", "value").limit(100)
    t = _fresh_table("rsttest")
    t.write(ev.where(F.col("event_id") % 2 == 0), mode="overwrite", n_files=2)
    t.write(ev.where(F.col("event_id") % 2 == 1), mode="append", n_files=2)
    v = t.restore(0)
    assert v == 2
    assert t.versions() == [0, 1, 2]
    assert t.snapshot_files(2) == t.snapshot_files(0)  # same files, no copy
    assert t._manifest(2)["operation"] == "restore"
    # the "bad" commit stays readable for forensics
    assert t.read(spark, 1).count() > t.read(spark, 2).count()
    import pytest as _pt

    with _pt.raises(ValueError, match="does not exist"):
        t.restore(99)


def test_shallow_clone_shares_files_and_diverges(spark):
    """Clone v0 must copy ZERO data files (all traversal refs into the
    source); a merge into the clone rewrites only its own data dir while
    untouched refs stay shared; the source keeps reading its original
    bytes; clone vacuum never deletes borrowed source files."""
    src = _table()
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    src.write(df.repartitionByRange(4, "k"), mode="overwrite")
    before_rows = src.read(spark).count()

    dest = src.clone_shallow(str(fresh("vtest_c")))
    refs = dest._manifest(0)["files"]
    assert refs and all(".." in Path(f).parts for f in refs)  # zero copy
    assert not dest.data_dir.exists() or not list(dest.data_dir.rglob("*.parquet"))
    assert dest.read(spark).count() == before_rows

    upd = df.where("k < 100").select("k", (F.col("v") + 1.0).alias("v"))
    dest.merge(spark, upd, key="k")
    m1 = dest._manifest(dest.latest_version())["files"]
    external = [f for f in m1 if ".." in Path(f).parts]
    local = [f for f in m1 if ".." not in Path(f).parts]
    assert external and local  # partial rewrite: shared + own files
    assert len(external) < len(refs)  # the touched ref was dropped

    # divergence isolation: the source still reads its original content
    assert src.read(spark).count() == before_rows
    assert src.read(spark).where("k < 100").agg(F.sum("v")).collect()[0][0] == sum(
        2.0 * k for k in range(100)
    )
    assert dest.read(spark).where("k < 100").agg(F.sum("v")).collect()[0][0] == sum(
        2.0 * k + 1.0 for k in range(100)
    )

    # vacuum on the clone drops its history but never borrowed files
    src_files = set(src.snapshot_files())
    deleted, dropped = dest.vacuum(retain_last=1)
    assert dropped == 1
    assert all(Path(f).exists() for f in src_files)
    assert src.read(spark).count() == before_rows


def test_concurrent_appends_lose_no_commit(spark, monkeypatch):
    """Eight writers append one file each to a new table and commit at
    once (a barrier holds each until all eight files are written): every
    commit gets its own version and the head lists all eight files."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    t = _table()
    written = threading.Barrier(8)
    write_data = VersionedTable._write_data

    def write_then_wait(self, df, n_files):
        files = write_data(self, df, n_files)
        written.wait(timeout=300)
        return files

    monkeypatch.setattr(VersionedTable, "_write_data", write_then_wait)

    def append(i: int) -> int:
        table = VersionedTable(str(t.path), stat_cols=["k"])
        return table.write(spark.range(i, i + 1).toDF("k"), n_files=1)

    with ThreadPoolExecutor(8) as pool:
        versions = list(pool.map(append, range(8)))
    assert sorted(versions) == list(range(8))
    assert t.versions() == list(range(8))
    assert t.file_count() == 8
    assert sorted(r.k for r in t.read(spark).collect()) == list(range(8))
    assert not list(t.manifest_dir.glob(".v*"))  # no temp manifest left


@pytest.mark.parametrize("op", ["compact", "merge", "restore", "overwrite"])
def test_commit_on_a_stale_snapshot_raises(spark, monkeypatch, op):
    """Another writer commits just after ``op`` reads the head: ``op``
    raises a conflict naming the table and the version, the other commit
    stays the head, and no temp manifest is left."""
    t = _table()
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    t.write(df, mode="overwrite", n_files=2)
    latest_version = t.latest_version

    def racing():
        read = latest_version()
        monkeypatch.undo()
        VersionedTable(str(t.path)).write(df.limit(1), n_files=1)
        return read

    monkeypatch.setattr(t, "latest_version", racing)
    with pytest.raises(CommitConflict, match=f"{t.path}: version 1 ") as err:
        if op == "compact":
            t.compact(spark)
        elif op == "merge":
            t.merge(spark, df.where("k < 5").select("k", F.lit(-1.0).alias("v")), key="k")
        elif op == "restore":
            t.restore(0)
        else:
            t.write(df, mode="overwrite")
    assert (err.value.path, err.value.version) == (t.path, 1)
    assert t.versions() == [0, 1]
    assert t._manifest(1)["operation"] == "append"
    assert not list(t.manifest_dir.glob(".v*"))


def test_every_commit_records_its_schema(spark):
    """Overwrite, append, merge, compact, restore and clone each record the
    schema of their files, so no read of these snapshots infers one; the
    recorded schema is the one a read of the files infers."""
    t = _table()
    df = spark.range(400).select(F.col("id").alias("k"), (F.col("id") * 1.5).alias("v"))
    t.write(df.where("k < 200"), mode="overwrite", n_files=2)
    t.write(df.where("k >= 200"), n_files=2)
    t.merge(spark, df.where("k < 20").select("k", F.lit(-1.0).alias("v")), key="k")
    t.compact(spark, n_files=2)
    t.restore(1)
    clone = t.clone_shallow(str(fresh("vtest_c")))
    tables = [(t, v) for v in t.versions()] + [(clone, 0)]
    for table, v in tables:
        m = table._manifest(v)
        assert "schema" in m, f"{m['operation']} recorded no schema"
        inferred = spark.read.parquet(*table.snapshot_files(v)).schema
        assert T.StructType.fromJson(json.loads(m["schema"])) == inferred, m["operation"]


def test_reads_use_the_recorded_schema(spark):
    """read and read_where of a snapshot return exactly the schema Spark
    infers from its files, nullability included."""
    t = VersionedTable(str(_table().path), stat_cols=["k"])
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.array(F.col("id")).alias("a"),
        F.create_map(F.lit("x"), F.col("id")).alias("m"),
    )
    t.write(df.repartitionByRange(4, "k"), mode="overwrite")
    inferred = spark.read.parquet(*t.snapshot_files()).schema
    assert t.read(spark).schema == inferred
    assert t.read_where(spark, {"k": (100, 199)}).schema == inferred
    assert t.read_where(spark, {"k": (100, 199)}).count() == 100


def test_schema_changing_append_records_none(spark):
    """An append that adds a column leaves a snapshot of two physical
    schemas: it records none, a plain read infers as before, and
    ``merge_schema=True`` still unions the footers."""
    t = _table()
    base = spark.range(100).withColumnRenamed("id", "k")
    t.write(base, mode="overwrite", n_files=1)
    t.write(base.select((F.col("k") + 100).alias("k"), F.lit(7).alias("q")), n_files=1)
    assert "schema" in t._manifest(0)
    assert "schema" not in t._manifest(1)
    merged = t.read(spark, merge_schema=True)
    assert merged.columns == ["k", "q"]
    assert merged.where("q = 7").count() == 100
    assert merged.count() == 200
    assert t.read(spark).count() == 200


def test_versioned_keys_match_oracles(spark, sf_dir):
    """The registered storage-layer keys, which read their snapshots with
    the recorded schemas, still hash-match their DuckDB oracles."""
    from tools.check_parity import compare, duck_con

    from odc_product_docker_images_spark import registry

    keys = {
        k: q for k, q in registry.all_queries().items()
        if q.fn.__module__.endswith("sources.versioned")
    }
    assert len(keys) == 12
    con = duck_con(sf_dir)
    try:
        for k, q in sorted(keys.items()):
            assert q.oracle, k
            problems = compare(k, q.fn(spark, sf_dir).toPandas(), con.execute(q.oracle).df())
            assert not problems, f"{k}: {problems}"
    finally:
        con.close()
