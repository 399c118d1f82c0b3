"""Versioned-manifest table format (SURVEY.md §1 "Delta-style partitioned
Parquet as the canonical storage").

A minimal transaction-log table layout demonstrating the three properties
the reference's plain file trees lack and a 100 TB lakehouse needs:

- **Snapshot isolation / time travel**: every commit writes an immutable
  manifest ``_manifest/v{N}.json`` listing the EXACT data files of that
  snapshot; readers plan from a manifest, never from directory listing, so
  a concurrent writer can't tear a read and old versions stay readable.
- **Atomic commit, safe under concurrent writers**: the manifest is
  written to a temp name and published as ``v{read+1}.json`` with a
  put-if-absent hard link, where ``read`` is the version the operation
  read (Delta's optimistic concurrency; object stores offer the same
  put-if-absent).  Readers see v(N) or v(N+1), nothing in between, and of
  two writers that read v(N) exactly one publishes v(N+1): the other gets
  :class:`CommitConflict` instead of silently replacing it.  A blind
  append retries on the new head; merge, compaction, restore and
  overwrite raise.
- **Compaction without breaking history**: small files are rewritten into
  few large ones as a NEW snapshot whose manifest drops the old files;
  previous manifests still reference them, so time travel survives until
  an explicit vacuum.

This is deliberately the mechanics of Delta/Iceberg in ~100 lines — at
production scale you'd adopt one of those formats wholesale; the engine
keeps the same read/write API either way.  O(1) planning: a scan reads one
JSON manifest instead of listing O(files) directories, and a manifest
whose files share one schema records it, so the scan infers nothing.
"""

from __future__ import annotations

import json
import os
import uuid
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.det import dsum, sql_dsum
from ..io import load
from ..registry import register
from ..scratch import fresh


class CommitConflict(RuntimeError):
    """Another writer published the version this commit was to publish."""

    def __init__(self, path: Path, version: int) -> None:
        super().__init__(f"{path}: version {version} was committed concurrently")
        self.path, self.version = path, version


class VersionedTable:
    """A directory with ``data/`` parquet files + ``_manifest/v{N}.json``.

    ``stat_cols`` (numeric columns) opt into per-file min/max statistics in
    the manifest — the Delta/Iceberg data-skipping mechanic: stats come for
    free from the parquet footers at write time, and :meth:`read_where`
    plans only files whose range overlaps the predicate, so a selective
    scan on a well-clustered table touches O(matching files), not O(table).
    """

    def __init__(self, path: str, stat_cols: list[str] | None = None) -> None:
        self.path = Path(path)
        self.manifest_dir = self.path / "_manifest"
        self.data_dir = self.path / "data"
        self.stat_cols = list(stat_cols or [])

    def _uri_to_relname(self, uri: str) -> str:
        """Map an ``input_file_name()`` URI onto its manifest-relative name
        (manifest entries are ``<subdir>/<part>.parquet`` under the table
        root — or ``../<other_table>/...`` traversal refs for files a
        SHALLOW CLONE borrows from its source table; os.path.relpath
        yields both forms with one normalization)."""
        import os.path
        from urllib.parse import unquote, urlparse

        p = Path(unquote(urlparse(uri).path))
        return os.path.relpath(p.resolve(), self.path.resolve())

    # -- log ---------------------------------------------------------------

    def versions(self) -> list[int]:
        if not self.manifest_dir.is_dir():
            return []
        return sorted(
            int(p.stem[1:]) for p in self.manifest_dir.glob("v*.json")
        )

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _manifest(self, version: int) -> dict:
        return json.loads((self.manifest_dir / f"v{version}.json").read_text())

    def _snapshot(self, version: int | None = None) -> dict | None:
        """The manifest of ``version`` (default latest), None if no table."""
        if version is None:
            version = self.latest_version()
        return None if version is None else self._manifest(version)

    def snapshot_files(self, version: int | None = None) -> list[str]:
        m = self._snapshot(version)
        return [str(self.path / f) for f in m["files"]] if m else []

    def _file_stats(self, relname: str) -> dict[str, list[float]]:
        """Per-file min/max for ``stat_cols`` from the parquet FOOTER —
        no data read, no Spark job; the same stats Delta harvests."""
        return self._file_stats_for(relname, self.stat_cols)

    def _file_stats_for(
        self, relname: str, cols: list[str]
    ) -> dict[str, list[float]]:
        """Footer min/max for an explicit column list — lets merge() skip
        files on the merge key even when the table was created without
        ``stat_cols`` (the footer carries the stats either way)."""
        import math

        import pyarrow.parquet as pq

        md = pq.ParquetFile(str(self.path / relname)).metadata
        out: dict[str, list[float]] = {}
        statted: dict[str, int] = {}  # row groups with usable min/max per col
        for rg_i in range(md.num_row_groups):
            rg = md.row_group(rg_i)
            for c_i in range(rg.num_columns):
                col = rg.column(c_i)
                name = col.path_in_schema
                if name not in cols or col.statistics is None:
                    continue
                # A row group can carry a statistics object WITHOUT min/max
                # (an all-NULL chunk, or a float chunk whose writer omitted
                # stats because it saw NaN).  Such a chunk can still hold
                # matchable values, so a partial range would UNDERSTATE the
                # file and let pruning skip real matches — a file is only
                # statted when EVERY row group contributed (checked below).
                if not col.statistics.has_min_max:
                    continue
                lo, hi = col.statistics.min, col.statistics.max
                if lo is None or hi is None:
                    continue
                # NaN bounds poison every <=/>= comparison downstream
                # (always False → file wrongly skipped); treat as unstatted.
                if any(isinstance(x, float) and math.isnan(x) for x in (lo, hi)):
                    continue
                statted[name] = statted.get(name, 0) + 1
                if name in out:
                    out[name] = [min(out[name][0], lo), max(out[name][1], hi)]
                else:
                    out[name] = [lo, hi]
        # Drop columns any of whose row groups lacked usable stats: the
        # merged range covers only part of the file, and both plan_files
        # and merge() would prune on it as if it covered all rows.
        return {
            name: rng
            for name, rng in out.items()
            if statted.get(name, 0) == md.num_row_groups
        }

    def _commit(
        self, files: list[str], operation: str, schema: str | None, read: int | None
    ) -> int:
        """Atomically publish the snapshot after version ``read`` (the one
        the operation read; None for a new table) listing ``files``
        (relative); ``schema`` is the StructType JSON string every one of
        them was written with (Delta's ``schemaString``), or None when
        they differ or it is unknown.  Raises :class:`CommitConflict`
        when another writer published that version first."""
        self.manifest_dir.mkdir(parents=True, exist_ok=True)
        new_v = 0 if read is None else read + 1
        manifest = {"version": new_v, "operation": operation, "files": sorted(files)}
        if schema is not None:
            manifest["schema"] = schema
        if self.stat_cols:
            prev_stats = {} if read is None else self._manifest(read).get("stats", {})
            manifest["stats"] = {
                f: prev_stats.get(f) or self._file_stats(f) for f in files
            }
        tmp = self.manifest_dir / f".v{new_v}.json.{uuid.uuid4().hex[:8]}"
        tmp.write_text(json.dumps(manifest, indent=1))
        try:
            # the commit point: a link, unlike a rename, never replaces
            os.link(tmp, self.manifest_dir / f"v{new_v}.json")
        except FileExistsError:
            raise CommitConflict(self.path, new_v) from None
        finally:
            tmp.unlink()
        return new_v

    # -- write paths -------------------------------------------------------

    def _write_data(self, df: DataFrame, n_files: int | None) -> list[str]:
        """Write df's rows as fresh parquet files; return repo-relative names."""
        out = self.data_dir / uuid.uuid4().hex[:12]
        if n_files:
            # repartition, not coalesce: the contract is n_files WHEN the
            # data fills them (coalesce can only merge, so a single-split
            # source would yield one file regardless).  Range-partition on
            # a synthetic distinct id rather than round-robin: round-robin
            # seeds each input split's start offset independently, so a
            # k-row input spread over several splits can collide k <= n
            # rows into fewer than k output partitions (the degen-fixture
            # failure r9c documented).  Range boundaries over distinct ids
            # give exactly min(k, n) non-empty partitions, balanced for
            # large k; the sampling pass evaluates only the synthetic id,
            # reading no real columns.  Production compaction of huge
            # tables would prefer coalesce to skip the shuffle entirely
            # when only merging.
            df = df.repartitionByRange(n_files, F.monotonically_increasing_id())
        df.write.mode("overwrite").parquet(str(out))
        names = [
            str(p.relative_to(self.path))
            for p in out.glob("*.parquet")
            if p.is_file()
        ]
        # Zero-row data files never enter a manifest (Delta's behavior):
        # Spark emits a file for partition 0 even when that partition is
        # empty, so a k-row write into n > k round-robin partitions lands
        # min(k, n) data files PLUS one stray empty — committing it would
        # make file counts depend on which partition went empty instead of
        # on the data.  With empties dropped, every write's file count is
        # GREATEST(1, LEAST(n_files, rows)) — derivable by an oracle from
        # row counts alone: repartitionByRange on the synthetic id gives
        # RangePartitioner semantics — k distinct sampled ids become k
        # distinct range bounds, so k <= n ids land in exactly k
        # partitions and k > n ids fill all n.  An entirely-empty write
        # keeps ONE empty file as the schema carrier so read() of that
        # snapshot still has a schema source.  Footer row counts are
        # metadata-only reads (same pyarrow pass _file_stats already does).
        import pyarrow.parquet as pq

        nonempty = [
            f for f in names
            if pq.ParquetFile(str(self.path / f)).metadata.num_rows > 0
        ]
        keep = nonempty or names[:1]
        for f in names:
            if f not in keep:
                (self.path / f).unlink()
        return keep

    def write(self, df: DataFrame, mode: str = "append", n_files: int | None = None) -> int:
        """Commit ``df``'s rows as new files.  An append that loses a
        commit race re-reads the new head and commits again (its files
        depend on no snapshot); an overwrite raises :class:`CommitConflict`."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        read = self.latest_version()
        new_files = self._write_data(df, n_files)
        schema = _file_schema(df)
        if mode == "overwrite":
            return self._commit(new_files, mode, schema, read)
        while True:
            files, head_schema = new_files, schema
            if read is not None:
                prev = self._manifest(read)
                files = list(prev["files"]) + new_files
                head_schema = _same_schema(prev, schema)
            try:
                return self._commit(files, mode, head_schema, read)
            except CommitConflict:
                read = self.latest_version()

    def clone_shallow(self, dest_path: str) -> "VersionedTable":
        """SHALLOW CLONE (Delta ``CREATE TABLE ... SHALLOW CLONE`` analog):
        a new table whose v0 manifest REFERENCES this table's current data
        files (as ``..``-style traversal refs) without copying a byte.
        Writes/merges on the clone copy-on-write into the clone's own
        data/ directory, so the two tables diverge independently while
        untouched files stay shared; the clone's vacuum never deletes
        borrowed files (guarded above).  At 100 TB a clone is a manifest
        write — O(|files|) metadata, zero data movement — which is what
        makes dev/test forks of production tables free."""
        import os.path

        dest = VersionedTable(dest_path, stat_cols=self.stat_cols)
        dest.path.mkdir(parents=True, exist_ok=True)
        src = self._snapshot() or {"files": []}
        refs = [
            os.path.relpath(os.path.realpath(self.path / f), dest.path.resolve())
            for f in src["files"]
        ]
        dest._commit(refs, "clone", src.get("schema"), dest.latest_version())
        return dest

    def compact(self, spark: SparkSession, n_files: int = 1) -> int:
        """Rewrite the LATEST snapshot into ``n_files`` files as a new
        version.  Old files stay on disk — older snapshots still plan them."""
        read = self.latest_version()
        df = self.read(spark, read)
        new_files = self._write_data(df, n_files)
        return self._commit(new_files, "compact", _file_schema(df), read)

    def merge(self, spark: SparkSession, updates: DataFrame, key: str) -> int:
        """MERGE (upsert) by ``key`` with file-level copy-on-write — the
        Delta ``MERGE INTO`` analog, and the reference's "reprocessed scene
        replaces the indexed dataset" semantics.

        Only data files that CONTAIN a matched key are rewritten; untouched
        files are carried into the new manifest verbatim (at 100 TB a merge
        touching 0.1% of keys rewrites ~0.1% of well-clustered files, not
        the table).  Matched rows are replaced by their update row, new
        keys are appended.  Assumes ``key`` is unique in the snapshot, and
        CHECKS it is unique in ``updates`` — a duplicate update key would
        survive the left_anti/union and silently break the snapshot's
        key-uniqueness invariant that read_where/merge callers rely on.
        """
        # r13 (guide §5.4): ``updates`` has THREE sequential consumers —
        # the uniqueness/range aggregate, the discovery semi-join, and the
        # rewrite union — and Spark lineage re-executes the caller's
        # update-derivation subtree per consumer (table_incremental_join's
        # updates embed a max()-offset cross join: three full re-derivations
        # per merge).  Pin it for the duration of the merge; unpersisted in
        # the finally below.
        updates = updates.persist()
        try:
            return self._merge_pinned(spark, updates, key)
        finally:
            updates.unpersist()

    def _merge_pinned(self, spark: SparkSession, updates: DataFrame, key: str) -> int:
        # ONE pass over updates for the uniqueness check AND the key range
        # (r12: was two separate count jobs; the range feeds file skipping
        # below).  count_distinct here is exact — no approx form.
        chk = updates.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col(key)).alias("nd"),
            F.min(key).alias("lo"),
            F.max(key).alias("hi"),
        ).collect()[0]  # 1-row planning metadata, same class as `touched`
        if chk["n"] != chk["nd"]:
            raise ValueError(
                f"merge updates must be unique on {key!r}: "
                f"{chk['n']} rows but {chk['nd']} distinct keys"
            )
        read = self.latest_version()
        prev_m = self._manifest(read)
        prev = prev_m["files"]
        # File skipping on the merge key (r12, guide §6.2 / the Delta MERGE
        # mechanic): a file whose footer [min,max] on ``key`` misses the
        # updates' [lo,hi] range cannot contain a matched key, so it is
        # untouched by construction and never enters the discovery scan.
        # Footer stats are exact for numeric/integer columns; non-numeric
        # keys (or files without stats) stay candidates — conservative, so
        # the touched set is IDENTICAL to the full-scan form.
        # NaN guard (r13): F.max over a double key containing NaN returns
        # NaN (Spark sorts NaN greatest), and every `st <= NaN` comparison
        # is False — the skip would drop files holding REAL matches (Spark
        # joins treat NaN = NaN as equal, so NaN update keys do match NaN
        # snapshot keys).  A NaN bound disables skipping entirely; the
        # file side is covered by _file_stats_for's all-row-groups rule.
        import math

        def _numeric(x) -> bool:
            return (
                isinstance(x, (int, float))
                and not isinstance(x, bool)
                and not (isinstance(x, float) and math.isnan(x))
            )

        candidates = prev
        if chk["n"] > 0 and _numeric(chk["lo"]) and _numeric(chk["hi"]):
            candidates = []
            for f in prev:
                st = self._file_stats_for(f, [key]).get(key)
                if st is None or not (_numeric(st[0]) and _numeric(st[1])):
                    candidates.append(f)  # unstatted: stays a candidate
                elif st[0] <= chk["hi"] and st[1] >= chk["lo"]:
                    candidates.append(f)
        elif chk["n"] == 0:
            candidates = []
        # Which candidate files hold a matched key?  File names are snapshot
        # METADATA (bounded by file count, never row count) — collecting
        # them is the same driver-side planning every table format's MERGE
        # does.
        if candidates:
            cand_df = _reader(spark, prev_m).parquet(
                *[str(self.path / f) for f in candidates]
            )
            touched_rows = (
                cand_df.withColumn("_f", F.input_file_name())
                .join(updates.select(key).hint("broadcast"), key, "left_semi")
            )
            touched = {
                r["_f"] for r in touched_rows.select("_f").distinct().collect()  # metadata-only
            }
        else:
            touched = set()
        # Normalize each touched URI to its manifest-relative name ONCE so
        # the manifest diff is O(|manifest|) set membership, not the
        # O(|manifest|·|touched|) endswith scan the r4 verdict flagged
        # (same hoist as the change-feed diff fix).
        touched_rel = {self._uri_to_relname(t) for t in touched}
        untouched = [f for f in prev if f not in touched_rel]
        rewrite = [f for f in prev if f in touched_rel]
        if rewrite:
            # same broadcast pin as the discovery semi-join: the cached
            # updates' InMemoryRelation hides size stats from the planner
            # (r12 bipartite lesson: silent broadcast→SMJ demotion), and
            # the update KEY set is the side both joins already commit to
            # broadcasting at any supported merge size
            keep = (
                _reader(spark, prev_m)
                .parquet(*[str(self.path / f) for f in rewrite])
                .join(updates.select(key).hint("broadcast"), key, "left_anti")
            )
            rewritten = keep.unionByName(updates)
        else:
            rewritten = updates
        new_files = self._write_data(rewritten, n_files=None)
        schema = _file_schema(rewritten)
        if untouched:
            schema = _same_schema(prev_m, schema)
        return self._commit(untouched + new_files, "merge", schema, read)

    def change_feed(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int,
        key: str,
        value_col: str = "value",
    ) -> DataFrame:
        """Change feed between two versions (Delta CDF analog) WITHOUT
        stored change files: diff the manifests, read ONLY files removed or
        added between the versions, and full-outer join those rows on the
        key.  Untouched files appear in both manifests and are excluded by
        construction, so CDC cost is bounded by the REWRITTEN volume — at
        100 TB a merge touching 0.1% of files yields a change feed that
        reads 0.2% of the table, never two full snapshots.  Rows carried
        through a copy-on-write rewrite unchanged cancel in the join
        (identical key + value on both sides).

        PRECONDITION: ``key`` is unique within the removed-file rows and
        within the added-file rows (merge() maintains this when writers
        respect key uniqueness).  Duplicate keys would make the full-outer
        join a per-key cross product and mis-classify changes instead of
        erroring — guarded in tests/test_versioned.py."""
        m_from, m_to = self._manifest(v_from), self._manifest(v_to)
        mf, mt = m_from["files"], m_to["files"]
        mf_set, mt_set = set(mf), set(mt)
        removed = [f for f in mf if f not in mt_set]
        added = [f for f in mt if f not in mf_set]

        def _rows(m: dict, files: list[str], side: str) -> DataFrame:
            if files:
                df = _reader(spark, m).parquet(*[str(self.path / f) for f in files])
            else:  # empty side (pure append / pure delete): same schema, 0 rows
                df = self.read(spark, v_to).where(F.lit(False))
            return df.select(F.col(key), F.col(value_col).alias(f"{value_col}_{side}"))

        before, after = _rows(m_from, removed, "before"), _rows(m_to, added, "after")
        b, a = F.col(f"{value_col}_before"), F.col(f"{value_col}_after")
        return (
            before.join(after, key, "full")
            .where(~b.eqNullSafe(a))  # unchanged rewrite carry-overs cancel
            .select(
                key,
                F.when(b.isNull(), "insert")
                .when(a.isNull(), "delete")
                .otherwise("update")
                .alias("change_type"),
                b,
                a,
            )
        )

    def vacuum(self, retain_last: int = 1) -> tuple[int, int]:
        """Physically delete data files referenced ONLY by snapshots older
        than the last ``retain_last`` versions, and drop those manifests —
        the Delta ``VACUUM`` analog that bounds storage after compaction/
        merge churn.  Time travel past the retention horizon is gone BY
        DESIGN (that is the trade being made); retained snapshots are
        untouched and keep reading byte-identical results.  Returns
        (files_deleted, versions_dropped).  At 100 TB this is a manifest
        set-difference plus parallel deletes — never a directory listing
        diff, which would scan O(objects) on an object store."""
        vs = self.versions()
        if retain_last < 1:
            raise ValueError("retain_last must be >= 1")
        if len(vs) <= retain_last:
            return (0, 0)
        keep_vs, drop_vs = vs[-retain_last:], vs[:-retain_last]
        keep_files = {f for v in keep_vs for f in self._manifest(v)["files"]}
        drop_files = {
            f
            for v in drop_vs
            for f in self._manifest(v)["files"]
            # never follow a shallow-clone traversal ref outside the table
            # root: those files belong to the SOURCE table (Delta vacuum's
            # own rule — only files under the table directory are eligible)
            if f not in keep_files and ".." not in Path(f).parts
        }
        for f in sorted(drop_files):
            p = self.path / f
            if p.exists():
                p.unlink()
        for v in drop_vs:
            (self.manifest_dir / f"v{v}.json").unlink()
        return (len(drop_files), len(drop_vs))

    def restore(self, version: int) -> int:
        """RESTORE (Delta ``RESTORE TABLE ... TO VERSION``): make an old
        snapshot the new head by COMMITTING ITS FILE LIST AGAIN as a fresh
        version.  History is preserved — the bad commits stay readable for
        forensics until VACUUM retires them — and no data is copied: the
        restore manifest points at the original files, so the operation is
        O(manifest) regardless of table size."""
        read = self.latest_version()
        if version not in self.versions():
            raise ValueError(f"version {version} does not exist")
        m = self._manifest(version)
        return self._commit(m["files"], "restore", m.get("schema"), read)

    # -- read path ---------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        m = self._snapshot(version)
        if not m or not m["files"]:
            raise ValueError(f"no snapshot at version={version!r} in {self.path}")
        files = [str(self.path / f) for f in m["files"]]
        if merge_schema:
            # Schema evolution: snapshots may span files written before and
            # after a column was added; mergeSchema unions the footers and
            # fills missing columns with NULL (Delta's additive evolution).
            return spark.read.option("mergeSchema", "true").parquet(*files)
        return _reader(spark, m).parquet(*files)

    def file_count(self, version: int | None = None) -> int:
        return len(self.snapshot_files(version))

    def plan_files(
        self, preds: dict[str, tuple[float, float]], version: int | None = None
    ) -> list[str]:
        """Manifest-stats file pruning: keep files whose [min,max] overlaps
        EVERY predicate interval (files without stats are always kept —
        stats are an optimization, never a correctness dependency)."""
        return self._plan(self._snapshot(version), preds)

    def _plan(self, m: dict, preds: dict[str, tuple[float, float]]) -> list[str]:
        stats = m.get("stats", {})
        kept = []
        for f in m["files"]:
            st = stats.get(f) or {}
            ok = True
            for col, (lo, hi) in preds.items():
                if col in st and (st[col][1] < lo or st[col][0] > hi):
                    ok = False
                    break
            if ok:
                kept.append(str(self.path / f))
        return kept

    def read_where(
        self,
        spark: SparkSession,
        preds: dict[str, tuple[float, float]],
        version: int | None = None,
    ) -> DataFrame:
        """Selective read: plan only stat-overlapping files, then apply the
        exact predicate (file pruning admits a superset).  At 100 TB this
        is the difference between scanning the table and scanning the few
        files a well-clustered (range- or Z-ordered) layout maps the
        predicate to."""
        m = self._snapshot(version)
        files = self._plan(m, preds)
        if not files:
            return self.read(spark, version).where(F.lit(False))
        df = _reader(spark, m).parquet(*files)
        for col, (lo, hi) in preds.items():
            df = df.where(F.col(col).between(lo, hi))
        return df


def _reader(spark: SparkSession, manifest: dict):
    """A parquet reader for files of ``manifest``: with the recorded schema
    when there is one, so Spark starts no footer-inference job, else
    inferring as before."""
    schema = manifest.get("schema")
    return spark.read.schema(StructType.fromJson(json.loads(schema))) if schema else spark.read


def _file_schema(df: DataFrame) -> str:
    """Compact StructType JSON of the files ``df`` writes, as Spark reads
    them back: every field, array element and map value nullable."""

    def nullable(j):
        if isinstance(j, dict):
            return {
                k: True if k in ("nullable", "containsNull", "valueContainsNull") else nullable(v)
                for k, v in j.items()
            }
        return [nullable(v) for v in j] if isinstance(j, list) else j

    return json.dumps(nullable(df.schema.jsonValue()), separators=(",", ":"))


def _same_schema(prev: dict, schema: str) -> str | None:
    """``schema`` if the snapshot ``prev`` recorded the same one (so the
    files carried over and the new ones share it), else None."""
    return schema if prev.get("schema") == schema else None


def _fresh_table(prefix: str) -> VersionedTable:
    return VersionedTable(str(fresh(prefix)))


@register(
    "table_time_travel",
    oracle=f"""
        SELECT CAST(0 AS INTEGER) AS version, COUNT(*) AS n_rows,
               {sql_dsum("l_quantity", "sum_qty")}
        FROM lineitem WHERE YEAR(l_shipdate) < 1995
        UNION ALL
        SELECT CAST(1 AS INTEGER), COUNT(*), {sql_dsum("l_quantity", "sum_qty")}
        FROM lineitem WHERE YEAR(l_shipdate) < 1996
        UNION ALL
        SELECT CAST(2 AS INTEGER), COUNT(*), {sql_dsum("l_quantity", "sum_qty")}
        FROM lineitem
    """,
)
def table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage layer: three commits (overwrite, two appends) then a read of
    EVERY snapshot — v0/v1/v2 counts+sums must equal the cumulative-filter
    oracles, proving old manifests stay readable after later commits (the
    ``output_crs`` re-load analog is a reprocessing job reading the epoch
    it was launched against, not whatever landed since)."""
    lf = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity", "l_shipdate")
    y = F.year("l_shipdate")
    t = _fresh_table("tt")
    t.write(lf.where(y < 1995), mode="overwrite", n_files=4)
    t.write(lf.where(y == 1995), n_files=4)
    t.write(lf.where(y >= 1996), n_files=4)
    snaps = [
        t.read(spark, v)
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("l_quantity", "sum_qty"))
        .select(F.lit(v).cast("int").alias("version"), "n_rows", "sum_qty")
        for v in t.versions()
    ]
    return reduce(lambda a, b: a.unionByName(b), snaps)


@register(
    "table_compaction",
    oracle=f"""
        WITH fc AS (
            SELECT GREATEST(1, LEAST(8, COUNT(*) FILTER (WHERE event_id % 2 = 0))) AS f_even,
                   GREATEST(1, LEAST(8, COUNT(*) FILTER (WHERE event_id % 2 = 1))) AS f_odd,
                   GREATEST(1, LEAST(2, COUNT(*))) AS f_compact
            FROM events
        )
        SELECT CAST(0 AS INTEGER) AS version,
               CAST((SELECT f_even FROM fc) AS INTEGER) AS n_files,
               COUNT(*) AS n_rows, {sql_dsum("value", "sum_value")}
        FROM events WHERE event_id % 2 = 0
        UNION ALL
        SELECT CAST(1 AS INTEGER),
               CAST((SELECT f_even + f_odd FROM fc) AS INTEGER),
               COUNT(*), {sql_dsum("value", "sum_value")}
        FROM events
        UNION ALL
        SELECT CAST(2 AS INTEGER),
               CAST((SELECT f_compact FROM fc) AS INTEGER),
               COUNT(*), {sql_dsum("value", "sum_value")}
        FROM events
    """,
)
def table_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage layer: two 8-file appends then ``compact(2)`` — content
    (counts+sums) is invariant across the rewrite while the file count
    drops 16 → 2 at standard grain.  File counts are storage facts, but
    the writer commits only non-empty files, so the oracle DERIVES each
    pin from the data — GREATEST(1, LEAST(n_files, rows)) per write — and
    stays green on degenerate 1-row fixtures where most of the 8
    round-robin partitions are empty (r10 fix; the old literal 8/16/2 pins
    were the last two documented degen-sweep exceptions)."""
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    t = _fresh_table("cmp")
    t.write(ev.where(F.col("event_id") % 2 == 0), mode="overwrite", n_files=8)
    t.write(ev.where(F.col("event_id") % 2 == 1), n_files=8)
    t.compact(spark, n_files=2)
    snaps = [
        t.read(spark, v)
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("value", "sum_value"))
        .select(
            F.lit(v).cast("int").alias("version"),
            F.lit(t.file_count(v)).cast("int").alias("n_files"),
            "n_rows",
            "sum_value",
        )
        for v in t.versions()
    ]
    return reduce(lambda a, b: a.unionByName(b), snaps)


@register(
    "table_merge_upsert",
    oracle=f"""
        SELECT CAST(0 AS INTEGER) AS version, COUNT(*) AS n_rows,
               {sql_dsum("value", "sum_value")}
        FROM events
        UNION ALL
        SELECT CAST(1 AS INTEGER), COUNT(*), {sql_dsum("value", "sum_value")}
        FROM (
            SELECT CASE WHEN event_id < 1000 AND event_id % 2 = 0
                        THEN value + 1000 ELSE value END AS value
            FROM events
            UNION ALL
            SELECT value * 2 AS value FROM events WHERE event_id < 100
        )
    """,
)
def table_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage layer: MERGE (upsert) with file-level copy-on-write — the
    Delta ``MERGE INTO`` / "reprocessed scene replaces indexed dataset"
    analog.  v0 is the full events table range-clustered on the merge key
    across 8 files; the merge updates the low-key stripe (+1000) and
    inserts fresh high keys — so only the file(s) covering the low range
    are rewritten and every untouched file rides into v1 verbatim
    (partial-rewrite invariant pinned in tests/test_versioned.py).  Both
    snapshots stay readable; content equals the CASE-expression oracle."""
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    t = _fresh_table("mrg")
    t.write(ev.repartitionByRange(8, "event_id"), mode="overwrite")
    upd = ev.where((F.col("event_id") < 1000) & (F.col("event_id") % 2 == 0)).select(
        "event_id", (F.col("value") + 1000).alias("value")
    )
    ins = ev.where(F.col("event_id") < 100).select(
        (F.col("event_id") + 1_000_000).alias("event_id"),
        (F.col("value") * 2).alias("value"),
    )
    t.merge(spark, upd.unionByName(ins), key="event_id")
    snaps = [
        t.read(spark, v)
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("value", "sum_value"))
        .select(F.lit(v).cast("int").alias("version"), "n_rows", "sum_value")
        for v in t.versions()
    ]
    return reduce(lambda a, b: a.unionByName(b), snaps)


@register(
    "table_change_feed",
    oracle="""
        SELECT CAST(event_id AS BIGINT) AS event_id,
               'update' AS change_type,
               value AS value_before,
               value + 1000 AS value_after
        FROM events WHERE event_id < 1000 AND event_id % 2 = 0
        UNION ALL
        SELECT CAST(event_id + 1000000 AS BIGINT), 'insert',
               NULL, value * 2
        FROM events WHERE event_id < 100
    """,
)
def table_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage layer: CHANGE FEED across a MERGE (Delta CDF analog).  Same
    recipe as ``table_merge_upsert`` (range-clustered v0, update the low
    stripe, insert fresh keys), then ask the table what changed between
    v0 and v1: the manifest diff reads only removed+added files (pinned in
    tests/test_versioned.py — untouched files never enter the feed), rows
    carried unchanged through the copy-on-write rewrite cancel in the
    full-outer join, and the surviving rows classify as insert/update/
    delete.  The oracle derives the expected feed straight from the
    fixture; updated values are one IEEE add on both engines — no
    rounding anywhere."""
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    t = _fresh_table("cdc")
    t.write(ev.repartitionByRange(8, "event_id"), mode="overwrite")
    upd = ev.where((F.col("event_id") < 1000) & (F.col("event_id") % 2 == 0)).select(
        "event_id", (F.col("value") + 1000).alias("value")
    )
    ins = ev.where(F.col("event_id") < 100).select(
        (F.col("event_id") + 1_000_000).alias("event_id"),
        (F.col("value") * 2).alias("value"),
    )
    t.merge(spark, upd.unionByName(ins), key="event_id")
    return t.change_feed(spark, 0, t.latest_version(), key="event_id")


def zorder_key(x: F.Column, y: F.Column, bits: int = 10) -> F.Column:
    """Morton/Z-order interleave of two non-negative ints (< 2^bits) as a
    pure bitwise expression — disjoint target bits, so ``+`` assembles the
    key inside codegen.  Clustering a 2-D key space by its Z-value makes a
    box predicate map to O(few) file ranges on BOTH dimensions at once —
    the Delta ``OPTIMIZE ZORDER BY`` mechanic."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(x.cast("long").bitwiseAND(F.lit(1 << i)), i)
        z = z + F.shiftleft(y.cast("long").bitwiseAND(F.lit(1 << i)), i + 1)
    return z


@register(
    "table_data_skipping",
    oracle=f"""
        SELECT COUNT(*) AS n_rows, {sql_dsum("value", "sum_value")},
               MIN(event_id) AS min_id, MAX(event_id) AS max_id
        FROM events WHERE event_id BETWEEN 2000 AND 3999
    """,
)
def table_data_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage layer: manifest min/max statistics + file skipping.  The
    table is range-clustered on the key across 8 files with per-file
    footer stats in the manifest; a selective read plans ONLY the files
    overlapping [2000, 3999] (~3 of 8 — pinned in tests/test_versioned.py)
    and the content matches the plain filter oracle.  This is the Parquet
    row-group-pruning story lifted to the FILE level, where it saves the
    open/footer-read round-trips that dominate selective scans on object
    stores."""
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    t = _fresh_table("skip")
    t.stat_cols = ["event_id"]
    t.write(ev.repartitionByRange(8, "event_id"), mode="overwrite")
    return t.read_where(spark, {"event_id": (2000, 3999)}).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("value", "sum_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@register(
    "table_zorder_skipping",
    oracle=f"""
        SELECT COUNT(*) AS n_rows, {sql_dsum("l_quantity", "sum_qty")},
               COUNT(DISTINCT l_partkey) AS n_parts
        FROM lineitem
        WHERE l_partkey BETWEEN 1 AND 500 AND l_suppkey BETWEEN 1 AND 25
    """,
)
def table_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage layer: Z-ORDER clustering — cluster lineitem by the Morton
    interleave of (l_partkey, l_suppkey), record per-file min/max of BOTH
    raw columns, and serve a 2-D box predicate from the overlapping files
    only.  Range-clustering one column leaves the other unclustered;
    Z-order gives both dimensions locality, so the 1/16-of-keyspace box
    plans a fraction of the 16 files (pinned in tests)."""
    lf = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    t = _fresh_table("zord")
    t.stat_cols = ["l_partkey", "l_suppkey"]
    z = zorder_key(F.col("l_partkey"), F.col("l_suppkey"), bits=11)
    clustered = (
        lf.withColumn("_z", z)
        .repartitionByRange(16, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    t.write(clustered, mode="overwrite")
    return t.read_where(
        spark, {"l_partkey": (1, 500), "l_suppkey": (1, 25)}
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity", "sum_qty"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


@register(
    "table_schema_evolution",
    oracle=f"""
        WITH merged AS (
            SELECT event_id, value, CAST(NULL AS INTEGER) AS quality
            FROM events WHERE event_id < 5000
            UNION ALL
            SELECT event_id + 1000000, value, CAST(event_id % 3 AS INTEGER)
            FROM events WHERE event_id < 3000
        )
        SELECT COALESCE(quality, -1) AS quality_band,
               COUNT(*) AS n_rows,
               {sql_dsum("value", "sum_value")}
        FROM merged GROUP BY 1
    """,
)
def table_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage layer: ADDITIVE SCHEMA EVOLUTION (Delta ``mergeSchema``
    analog).  v0 writes (event_id, value); a later append commits files
    carrying a NEW ``quality`` column the original files never heard of.
    Readers of the latest snapshot union the parquet footers
    (``mergeSchema``) and surface pre-evolution rows with ``quality``
    NULL — no rewrite of the old files, no migration job; old-version
    time-travel reads still see the original schema untouched.  The
    aggregate groups by the evolved column with NULL→-1 banding, so the
    oracle checks both populations (legacy rows land in band -1).  Scale:
    evolution costs one manifest commit; the read-side footer union is
    O(files in snapshot), and at 100 TB you pin the merged schema in the
    manifest instead of re-deriving it per read (the stats machinery here
    already stores per-file metadata the same way)."""
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    t = _fresh_table("schevo")
    t.write(ev.where(F.col("event_id") < 5000), mode="overwrite")
    evolved = ev.where(F.col("event_id") < 3000).select(
        (F.col("event_id") + 1_000_000).alias("event_id"),
        "value",
        (F.col("event_id") % 3).cast("int").alias("quality"),
    )
    t.write(evolved, mode="append")
    merged = t.read(spark, merge_schema=True)
    return merged.groupBy(
        F.coalesce(F.col("quality"), F.lit(-1)).alias("quality_band")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("value", "sum_value"),
    )


@register(
    "table_vacuum",
    oracle=f"""
        SELECT COUNT(*) AS n_rows,
               {sql_dsum("value", "sum_value")},
               CAST(GREATEST(1, LEAST(8, COUNT(*) FILTER (WHERE event_id % 2 = 0)))
                    + GREATEST(1, LEAST(8, COUNT(*) FILTER (WHERE event_id % 2 = 1)))
                    AS BIGINT) AS n_files_deleted,
               CAST(2 AS BIGINT) AS n_versions_dropped,
               CAST(GREATEST(1, LEAST(2, COUNT(*))) AS BIGINT) AS n_files_left
        FROM events
    """,
)
def table_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage layer: VACUUM — the retention step that completes the table
    lifecycle (write → append → compact → vacuum).  Recipe: an 8-file
    overwrite, an 8-file append (16 live files), then ``compact(2)``;
    vacuum with retain_last=1 must delete exactly the 16 pre-compaction
    files (referenced only by v0/v1), drop those two manifests, and leave
    the 2-file compacted snapshot reading byte-identical data — the oracle
    pins the surviving data AND the deletion arithmetic (16 deleted, 2
    versions dropped, 2 files left at standard grain; all three derived
    from row counts via GREATEST(1, LEAST(n, cnt)) since the r10
    non-empty-files-only writer change, so degenerate fixtures stay
    green).  Time travel past the horizon is gone
    by design; within it, untouched (tests pin the raise on v0 and the
    on-disk file count).  Scale: pure manifest set-difference + deletes,
    no directory listing."""
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    t = _fresh_table("vac")
    t.write(ev.where(F.col("event_id") % 2 == 0), mode="overwrite", n_files=8)
    t.write(ev.where(F.col("event_id") % 2 == 1), mode="append", n_files=8)
    t.compact(spark, n_files=2)
    n_deleted, n_dropped = t.vacuum(retain_last=1)
    return t.read(spark).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("value", "sum_value"),
        F.lit(n_deleted).cast("bigint").alias("n_files_deleted"),
        F.lit(n_dropped).cast("bigint").alias("n_versions_dropped"),
        F.lit(t.file_count()).cast("bigint").alias("n_files_left"),
    )


@register(
    "table_restore",
    oracle=f"""
        SELECT CAST(0 AS INTEGER) AS version, COUNT(*) AS n_rows,
               {sql_dsum("value", "sum_value")}
        FROM events WHERE event_id % 2 = 0
        UNION ALL
        SELECT CAST(1 AS INTEGER), COUNT(*), {sql_dsum("value", "sum_value")}
        FROM events
        UNION ALL
        SELECT CAST(2 AS INTEGER), COUNT(*), {sql_dsum("value", "sum_value")}
        FROM events WHERE event_id % 2 = 0
    """,
)
def table_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage layer: RESTORE — roll the table head back to a prior
    snapshot as a NEW commit (the "undo the bad load" day-one operation).
    Recipe: v0 = even events, v1 appends the odd ones (the "bad load"),
    ``restore(0)`` → v2.  The oracle pins all three snapshots: v2 must
    read byte-identical to v0 (the restore re-lists v0's files — no data
    copied, O(manifest) cost), while v1 stays readable for forensics.
    With stats enabled the restore commit re-harvests nothing: file
    stats carry over by name from the previous manifest."""
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    t = _fresh_table("rst")
    t.write(ev.where(F.col("event_id") % 2 == 0), mode="overwrite", n_files=4)
    t.write(ev.where(F.col("event_id") % 2 == 1), mode="append", n_files=4)
    t.restore(0)
    snaps = [
        t.read(spark, v)
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("value", "sum_value"))
        .select(F.lit(v).cast("int").alias("version"), "n_rows", "sum_value")
        for v in t.versions()
    ]
    return reduce(lambda a, b: a.unionByName(b), snaps)


@register(
    "table_clone_shallow",
    oracle=f"""
        SELECT 'clone' AS side, COUNT(*) AS n_rows,
               {sql_dsum("value", "sum_value")}
        FROM (
            SELECT CASE WHEN event_id < 1000 AND event_id % 2 = 0
                        THEN value + 1000 ELSE value END AS value
            FROM events
            UNION ALL
            SELECT value * 2 AS value FROM events WHERE event_id < 100
        )
        UNION ALL
        SELECT 'source', COUNT(*), {sql_dsum("value", "sum_value")}
        FROM events
    """,
)
def table_clone_shallow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage layer: SHALLOW CLONE + divergence isolation.  v0 of the
    clone is a manifest of traversal refs into the source's files (zero
    data copied — pinned in tests/test_versioned.py); a MERGE into the
    CLONE copy-on-writes only its own data directory.  The output proves
    isolation both ways: the clone reads the merged state while the
    source still reads its original bytes, even though the two tables
    share every untouched file."""
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    src = _fresh_table("clsrc")
    src.write(ev.repartitionByRange(8, "event_id"), mode="overwrite")
    dest = src.clone_shallow(str(fresh("clclone")))
    upd = ev.where((F.col("event_id") < 1000) & (F.col("event_id") % 2 == 0)).select(
        "event_id", (F.col("value") + 1000).alias("value")
    )
    ins = ev.where(F.col("event_id") < 100).select(
        (F.col("event_id") + 1_000_000).alias("event_id"),
        (F.col("value") * 2).alias("value"),
    )
    dest.merge(spark, upd.unionByName(ins), key="event_id")
    sides = [
        t.read(spark)
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("value", "sum_value"))
        .select(F.lit(name).alias("side"), "n_rows", "sum_value")
        for name, t in (("clone", dest), ("source", src))
    ]
    return reduce(lambda a, b: a.unionByName(b), sides)


@register(
    "table_delete_vectors",
    oracle=f"""
        SELECT o_orderpriority,
               COUNT(*) AS n_rows,
               {sql_dsum("o_totalprice", "sum_price")}
        FROM orders
        WHERE NOT (o_orderkey % 13 = 0)
        GROUP BY o_orderpriority
    """,
)
def table_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage layer: merge-on-read DELETE via deletion vectors — the
    Delta/Iceberg-v2 alternative to ``table_merge_upsert``'s
    copy-on-write.  The delete writes NO data files: it materializes a
    sidecar of (file, row-position) tombstones — positions from the
    parquet reader's ``_metadata.file_path`` / ``_metadata.row_index``
    columns (the engine-stable row identity DVs are defined over) — and
    the read path subtracts them with a position ANTI-JOIN.  The final
    aggregate must equal recomputation over the logically-surviving rows,
    which proves the position plumbing end to end: the DV is BUILT once
    from the predicate and the read side never sees the predicate, only
    positions.

    At scale: a delete touching 0.1% of a 100 TB table writes O(matched
    positions) instead of rewriting every hit file; reads pay a
    broadcast anti-join of the (compact) DV until compaction folds it
    in.  Cost moves from write amplification to a bounded read-side
    join — exactly the DV trade."""
    od = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    t = _fresh_table("dvx")
    t.write(od.repartitionByRange(8, "o_orderkey"), mode="overwrite")

    data = t.read(spark).select(
        F.col("_metadata.file_path").alias("__file"),
        F.col("_metadata.row_index").alias("__pos"),
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
    )
    dv_path = str(Path(t.path) / "deletes" / "dv0.parquet")
    # the DELETE: predicate evaluated ONCE, persisted as positions only
    data.where(F.col("o_orderkey") % 13 == 0).select(
        "__file", "__pos"
    ).write.mode("overwrite").parquet(dv_path)

    dv = spark.read.parquet(dv_path)
    live = data.join(
        F.broadcast(dv), ["__file", "__pos"], "left_anti"
    )
    return live.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice", "sum_price"),
    )


@register(
    "table_wap_publish",
    oracle=f"""
        WITH audited AS (
            SELECT o_orderkey, o_totalprice
            FROM orders
            UNION ALL
            SELECT o_orderkey + 1000000000, o_totalprice * 0.5
            FROM orders WHERE o_orderkey % 11 = 0
        )
        SELECT 'published' AS stage,
               COUNT(*) AS n_rows,
               {sql_dsum("o_totalprice", "sum_price")}
        FROM audited
        UNION ALL
        SELECT 'rolled_back',
               COUNT(*),
               {sql_dsum("o_totalprice", "sum_price")}
        FROM orders
        ORDER BY stage
    """,
)
def table_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage layer: Write-Audit-Publish — the Iceberg/Netflix WAP
    pattern: every load lands as a STAGED snapshot, a constraint audit
    runs against it, and the table head either publishes (audit clean)
    or RESTOREs to the pre-load version (audit failed) — readers never
    see unaudited data because the staged version is simply not the head
    they read until the publish step.

    Exercised both ways on the versioned table: a clean batch (halved
    prices, valid) stages → audit passes (0 violations) → stays
    published; then a poison batch (negative prices) stages → audit
    counts violations → ``restore()`` rolls the head back — and the
    emitted (stage, rows, sum) pairs prove the reader-visible state
    after each outcome.  Audit cost is one aggregate pass over the
    STAGED snapshot only; publish/rollback are manifest pointer moves,
    O(1) in data volume."""
    od = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    t = _fresh_table("wap")
    t.write(od.repartition(4), mode="overwrite")
    v_base = t.latest_version()

    # -- load 1: clean batch → stage, audit, publish (keep) ---------------
    good = od.where(F.col("o_orderkey") % 11 == 0).select(
        (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
        (F.col("o_totalprice") * 0.5).alias("o_totalprice"),
    )
    t.write(good, mode="append")  # staged snapshot (not yet "the" head for readers)
    staged = t.read(spark)
    audit1 = staged.agg(
        F.sum((F.col("o_totalprice") <= 0).cast("int")).alias("neg"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("dup"),
    )
    # the audit outcome gates the pointer move: first() of a ONE-ROW
    # aggregate — a control-flow decision (what any WAP orchestrator
    # reads), never row data
    gate = audit1.first()
    assert gate["neg"] == 0 and gate["dup"] == 0
    v_published = t.latest_version()

    # -- load 2: poison batch → stage, audit, ROLLBACK --------------------
    bad = od.limit(50).select(
        (F.col("o_orderkey") + 2_000_000_000).alias("o_orderkey"),
        (-F.col("o_totalprice")).alias("o_totalprice"),
    )
    t.write(bad, mode="append")
    audit2 = t.read(spark).agg(
        F.sum((F.col("o_totalprice") <= 0).cast("int")).alias("neg")
    )
    n_bad = audit2.first()["neg"]
    assert n_bad > 0
    t.restore(v_published)  # pointer move — the poison files never publish

    pub = t.read(spark).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice", "sum_price"),
    ).select(F.lit("published").alias("stage"), "n_rows", "sum_price")
    base = t.read(spark, v_base).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice", "sum_price"),
    ).select(F.lit("rolled_back").alias("stage"), "n_rows", "sum_price")
    return pub.unionByName(base).orderBy("stage")
