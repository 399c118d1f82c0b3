"""The workloads, their output checks and their per-layer probes.

Each workload's job mix is a closed loop driven by one client thread: the
next job (or merge round) starts when the previous one finishes.  The
first pass runs in the fresh session and is timed as ``cold_pass_s``; warm
passes then repeat within ``--seconds`` (at least one), and their median
is ``pass_s``.  ``eo_products`` then runs the open-loop stream phase
(``stream_ingest``).

Outputs are checked outside the timed regions.  A job that raises, or whose
output is wrong, counts as failed on every execution in the run, because
every execution sees the same code and input.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import shutil
import statistics
import sys
import time
import traceback
from datetime import datetime, timezone
from pathlib import Path

import numpy as np

from spans import Tracer

EO_MIX = [
    "scan_pushdown", "product_ndvi_anomaly", "product_water_permanency",
    "udf_wofs_summary", "agg_median", "agg_percentile_composite",
    "agg_geomedian", "window_rolling", "join_asof", "source_tile_scan_tiff",
    "sink_geotiff_tiled",
]
CUR_MIX = [
    "text_quality", "text_repetition", "explode_tokens", "dedup_exact_hash",
    "dedup_minhash", "sim_topk_cosine", "sim_ann_lsh", "shard_pack",
]

# Approximate keys are held to a recall floor instead of an oracle.
DEDUP_RECALL_FLOOR = 0.9  # planted pairs (Jaccard >= 0.7) found by dedup_minhash
ANN_RECALL_FLOOR = 0.7  # exact top-5 pairs with cos >= 0.4 found by sim_ann_lsh
ANN_COS = 0.4

ROUNDS_PER_PASS = 3  # upsert rounds per pass; the pass then compacts
BASE_FILES = 8


def layer_of(module: str) -> str:
    """Engine layer of a query callable, from its module path."""
    parts = module.split(".")[1:]
    if parts[:2] == ["sources", "versioned"]:
        return "sources.versioned"
    if parts and parts[0] == "functions":
        return "functions.det"
    return parts[0] if parts else "bench"


class Run:
    """One benchmark run: the session, its inputs and what it measured."""

    def __init__(self, spark, queries, data: Path, truth: dict, tracer: Tracer,
                 seconds: float, work: Path) -> None:
        self.spark = spark
        self.queries = queries
        self.data = data
        self.truth = truth
        self.tracer = tracer
        self.seconds = seconds
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, tuple[float, str, int]] = {}  # name -> (value, unit, n)
        self.layer: dict[str, float] = {}
        self.warm_passes: set[int] = set()
        self.gc_s = 0.0
        self.ops: list[tuple[str, int | None, float]] = []  # (name, warm pass, seconds)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.problems.append(what)
        print(f"FAILED {what}", file=sys.stderr)

    def op(self, name: str, layer: str, fn):
        """Run one operation inside a span; count it; return (seconds, result).
        An exception counts as a failure and yields result None."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, layer):
                out = fn()
        except Exception:  # noqa: BLE001 - the run must go on and report it
            traceback.print_exc()
            self.fail(f"{name}: raised")
            out = None
        dt = time.perf_counter() - t0
        self.ops.append((name, self.tracer.pass_no, dt))
        return dt, out

    def gc_seconds(self) -> float:
        beans = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def warm_loop(self, one_pass, max_passes: int) -> list[float]:
        """Closed loop of warm passes within ``self.seconds``: at least one,
        and another only if it should end inside the window (judged by the
        last pass), so the number of passes does not flip with small changes
        in pass time; never more than ``max_passes``."""
        times: list[float] = []
        gc0 = self.gc_seconds()
        t0 = time.perf_counter()
        while not times or (len(times) < max_passes
                            and time.perf_counter() - t0 + times[-1] <= self.seconds):
            self.tracer.pass_no = len(times)
            self.warm_passes.add(len(times))
            with self.tracer.span("pass", "bench"):
                times.append(one_pass())
        self.tracer.pass_no = None
        self.gc_s = (self.gc_seconds() - gc0) / len(times)
        return times


# -- batch job mixes -----------------------------------------------------------


def _oracles(run: Run, keys: list[str]) -> dict:
    """DuckDB oracle results for the oracled keys, computed once per seed and
    oracle text and cached beside the inputs (outside every timed region).
    The cache file name carries a hash of the SQL, so an edited oracle is
    computed again instead of read back stale."""
    from tools.check_parity import duck_con

    cache = run.data / "oracle"
    cache.mkdir(exist_ok=True)
    out, con = {}, None
    for k in keys:
        sql = run.queries[k].oracle
        if sql is None:
            continue
        f = cache / f"{k}-{hashlib.sha1(sql.encode()).hexdigest()[:12]}.pkl"
        if not f.is_file():
            con = con or duck_con(str(run.data))
            tmp = f.with_suffix(".tmp")
            tmp.write_bytes(pickle.dumps(con.execute(sql).df()))
            tmp.rename(f)
        out[k] = pickle.loads(f.read_bytes())  # written by this benchmark
    return out


def _job(run: Run, key: str, collect: bool):
    q = run.queries[key]
    layer = layer_of(q.fn.__module__)

    def go():
        with run.tracer.span("plan", layer):
            df = q.fn(run.spark, str(run.data))
        with run.tracer.span("exec", layer):
            if collect:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
            return True

    return run.op(key, layer, go)


def _check_batch(run: Run, outs: dict, oracles: dict) -> set[str]:
    """Check the cold pass's collected outputs; return the keys found wrong."""
    from tools.check_parity import compare

    wrong = set()
    for key, out in outs.items():
        if out is None:
            continue  # already counted as raised
        if key in oracles:
            problems = compare(key, out, oracles[key])
            if problems:
                wrong.add(key)
                run.problems.append(f"{key}: " + " | ".join(problems)[:300])
        elif len(out) == 0:
            wrong.add(key)
            run.problems.append(f"{key}: no rows")
    if "dedup_minhash" in outs and outs["dedup_minhash"] is not None:
        got = {tuple(sorted(p)) for p in outs["dedup_minhash"][["doc_a", "doc_b"]].itertuples(index=False)}
        planted = {tuple(p) for p in run.truth["planted_pairs"]}
        recall = len(got & planted) / len(planted)
        run.metrics["dedup_recall"] = (recall, "ratio", len(planted))
        run.layer["dedup.pairs_out"] = len(got)
        run.layer["dedup.precision"] = len(got & planted) / len(got) if got else 0.0
        if recall < DEDUP_RECALL_FLOOR:
            wrong.add("dedup_minhash")
            run.problems.append(f"dedup_minhash: recall {recall:.3f} < {DEDUP_RECALL_FLOOR}")
    ann, exact = outs.get("sim_ann_lsh"), outs.get("sim_topk_cosine")
    if ann is not None and exact is not None:
        got = {tuple(sorted(p)) for p in ann[["vec_a", "vec_b"]].itertuples(index=False)}
        want = {
            tuple(sorted((a, b)))
            for a, b, c in exact[["vec_id", "nbr_id", "cosine"]].itertuples(index=False)
            if c >= ANN_COS
        }
        recall = len(got & want) / len(want) if want else 1.0
        run.layer["sim.ann_recall_at_k"] = recall
        if recall < ANN_RECALL_FLOOR:
            wrong.add("sim_ann_lsh")
            run.problems.append(f"sim_ann_lsh: recall@5 {recall:.3f} < {ANN_RECALL_FLOOR}")
    return wrong


def batch_workload(run: Run, mix: list[str], store: Upserts | None = None) -> None:
    """Closed loop over ``mix``; with ``store``, every pass ends with
    ``ROUNDS_PER_PASS`` upsert rounds and a compaction of the versioned
    table, and the warm passes stop when its merge batches run out."""
    oracles = _oracles(run, mix)
    runs_of = {k: 0 for k in mix}

    def one_pass(collect: bool) -> tuple[float, dict]:
        total, outs = 0.0, {}
        for key in mix:
            dt, out = _job(run, key, collect)
            runs_of[key] += 1
            total += dt
            outs[key] = out
        if store is not None:
            if collect:
                total += store.start()
            total += store.rounds(warm=not collect)
        return total, outs

    cold, outs = one_pass(collect=True)
    run.metrics["cold_pass_s"] = (cold, "s", 1)
    wrong = _check_batch(run, outs, oracles)
    max_passes = store.warm_passes_left() if store is not None else sys.maxsize
    times = run.warm_loop(lambda: one_pass(collect=False)[0], max_passes)
    for key in sorted(wrong):
        run.fail(f"{key}: wrong output", runs_of[key])
    run.metrics["pass_s"] = (statistics.median(times), "s", len(times))
    n = len(times)
    for key in mix:
        name = {
            "source_tile_scan_tiff": "multimodal.tiff_source_s",
            "sink_geotiff_tiled": "multimodal.geotiff_sink_s",
        }.get(key, f"textvec.{key}_s" if key in CUR_MIX else None)
        if name:
            run.layer[name] = run.tracer.total(key, run.warm_passes) / n


def eo_products(run: Run) -> None:
    batch_workload(run, EO_MIX)
    stream_ingest(run)
    if run.tracer.enabled:
        _io_scan(run, ["lineitem", "orders", "events"])
        _det_probe(run)
        _weiszfeld_probe(run)


def llm_curation(run: Run) -> None:
    store = Upserts(run)
    batch_workload(run, CUR_MIX, store)
    store.finish()
    if run.tracer.enabled:
        _io_scan(run, ["documents", "embeddings"])


# -- standalone layer probes (traced runs only) ----------------------------------


def _io_scan(run: Run, tables: list[str]) -> None:
    from odc_product_docker_images_spark import io

    total = 0.0
    for t in tables:
        dt, _ = run.op(f"io.scan:{t}", "io", lambda t=t: io.load(
            run.spark, str(run.data), t).write.format("noop").mode("overwrite").save())
        total += dt
    run.layer["io.scan_s"] = total


def _det_probe(run: Run) -> None:
    """Same grouped sum over the pixel table, exact (dsum_fast) and plain."""
    from pyspark.sql import functions as F

    from odc_product_docker_images_spark import io
    from odc_product_docker_images_spark.functions.det import dsum_fast

    def agg(col):
        df = io.load(run.spark, str(run.data), "lineitem")
        return lambda: df.groupBy("l_returnflag", "l_linestatus").agg(col).write.format(
            "noop").mode("overwrite").save()

    for name, col in (
        ("det.dsum_fast_s", dsum_fast("l_extendedprice", "s")),
        ("det.plain_sum_s", F.sum("l_extendedprice").alias("s")),
    ):
        run.layer[name] = statistics.median(
            run.op(name, "functions.det", agg(col))[0] for _ in range(3))


def _weiszfeld_probe(run: Run) -> None:
    """weiszfeld_batched outside Spark: 200 groups x 24 rows x 6 bands."""
    from odc_product_docker_images_spark.kernels.geomedian import weiszfeld_batched

    rng = np.random.default_rng(run.truth["seed"])
    keys = np.repeat(np.arange(200), 24)
    X = rng.normal(0.3, 0.1, (len(keys), 6))
    run.layer["kernels.weiszfeld_s"] = statistics.median(
        run.op("kernels.weiszfeld", "kernels", lambda: weiszfeld_batched(keys, X))[0]
        for _ in range(3))


# -- versioned upserts -----------------------------------------------------------


def dir_bytes(path: Path) -> int:
    """Bytes of a file, or of every file under a directory."""
    if path.is_file():
        return path.stat().st_size
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class Upserts:
    """A versioned table in the events schema under merge rounds.

    ``start`` writes the base table; ``rounds`` runs ``ROUNDS_PER_PASS``
    rounds, each merging the next generated batch and then running that
    batch's ``read_where`` range read, and compacts the table after the
    last one; ``finish`` vacuums.
    Every snapshot is checked against the expected state that DuckDB
    computes from the same base and batches, and every read's row count
    against the same state (all outside the timed regions)."""

    LAYER = "sources.versioned"

    def __init__(self, run: Run) -> None:
        import duckdb

        from odc_product_docker_images_spark.sources.versioned import VersionedTable

        self.run = run
        self.up = run.data / "upsert"
        self.vt = VersionedTable(str(run.work / "table"), stat_cols=["event_id"])
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.execute("CREATE TABLE exp AS SELECT * FROM read_parquet("
                         f"'{self.up}/base/events.parquet/*.parquet')")
        self.merge_s: list[float] = []
        self.read_s: list[float] = []
        self.compact_s: list[float] = []
        self.rewritten: list[int] = []
        self.planned: list[int] = []
        self.share: list[float] = []
        self.written = 0
        self.batch_bytes = 0
        self.next_batch = 0

    _DIGEST = "count(*), sum(hash(event_id, epoch_us(ts), user_id, event_type, value, props))"

    def _check(self, what: str) -> None:
        files = self.vt.snapshot_files()
        got = self.con.execute(f"SELECT {self._DIGEST} FROM read_parquet({files!r})").fetchone()
        if got != self.con.execute(f"SELECT {self._DIGEST} FROM exp").fetchone():
            self.run.fail(f"{what}: snapshot differs from expected state")

    def _new_bytes(self, before: list[str]) -> int:
        return sum(Path(f).stat().st_size for f in set(self.vt.snapshot_files()) - set(before))

    def start(self) -> float:
        from odc_product_docker_images_spark import io

        t0 = time.perf_counter()
        base = self.run.op("io.load", "io", lambda: io.load(
            self.run.spark, str(self.up / "base"), "events"))[1]
        self.run.op("write", self.LAYER, lambda: self.vt.write(
            base, mode="overwrite", n_files=BASE_FILES))
        return time.perf_counter() - t0

    def warm_passes_left(self) -> int:
        return (len(self.run.truth["batches"]) - self.next_batch) // ROUNDS_PER_PASS

    def rounds(self, warm: bool) -> float:
        """One pass's upsert rounds and the compaction that ends them."""
        total = sum(self._round(warm) for _ in range(ROUNDS_PER_PASS))
        run, vt = self.run, self.vt
        before = vt.snapshot_files()
        dt, v = run.op("compact", self.LAYER, lambda: vt.compact(run.spark, n_files=BASE_FILES))
        if v is not None:
            self.written += self._new_bytes(before)
            self.compact_s.append(dt)
            self._check(f"compact after merge {self.next_batch - 1}")
        return total + dt

    def _round(self, warm: bool) -> float:
        from pyspark.sql import functions as F

        from odc_product_docker_images_spark import io

        run, vt = self.run, self.vt
        k = self.next_batch
        self.next_batch += 1
        bdir = self.up / f"b{k:03d}"
        bglob = f"{bdir}/events.parquet/*.parquet"
        total = 0.0
        before = vt.snapshot_files()
        dt, v = run.op("merge", self.LAYER, lambda: vt.merge(
            run.spark, io.load(run.spark, str(bdir), "events"), "event_id"))
        total += dt
        self.con.execute(f"DELETE FROM exp WHERE event_id IN (SELECT event_id FROM read_parquet('{bglob}'))")
        self.con.execute(f"INSERT INTO exp SELECT * FROM read_parquet('{bglob}')")
        self.batch_bytes += dir_bytes(bdir)
        if v is not None:
            self.written += self._new_bytes(before)
            self.rewritten.append(len(set(before) - set(vt.snapshot_files())))
            if warm:
                self.merge_s.append(dt)
            self._check(f"merge {k}")
        for sel, lo, hi in run.truth["reads"][k]:
            self.planned.append(len(vt.plan_files({"event_id": (lo, hi)})))
            self.share.append(self.planned[-1] / vt.file_count())

            def read(lo=lo, hi=hi):
                df = vt.read_where(run.spark, {"event_id": (lo, hi)})
                return df.agg(F.count(F.lit(1)).alias("n"),
                              F.bit_xor(F.xxhash64(*df.columns)).alias("h")).collect()[0]

            dt, row = run.op("read_where", self.LAYER, read)
            total += dt
            want = self.con.execute(
                f"SELECT count(*) FROM exp WHERE event_id BETWEEN {lo} AND {hi}").fetchone()[0]
            if row is not None and row["n"] != want:
                run.fail(f"read {k} sel={sel}: {row['n']} rows, expected {want}")
            if warm:
                self.read_s.append(dt)
        return total

    def finish(self) -> None:
        run, vt = self.run, self.vt
        run.metrics["merge_s_p50"] = (statistics.median(self.merge_s), "s", len(self.merge_s))
        run.metrics["read_s_p50"] = (statistics.median(self.read_s), "s", len(self.read_s))
        run.metrics["write_amp"] = (self.written / self.batch_bytes, "B/B", self.next_batch)
        run.layer["versioned.files_live"] = vt.file_count()
        run.layer["versioned.files_rewritten"] = statistics.mean(self.rewritten)
        run.layer["versioned.bytes_written"] = self.written / self.next_batch
        run.layer["versioned.files_planned_per_read"] = statistics.mean(self.planned)
        run.layer["versioned.planned_share"] = statistics.mean(self.share)
        run.layer["versioned.compact_s"] = statistics.mean(self.compact_s) if self.compact_s else 0.0
        run.op("vacuum", self.LAYER, lambda: vt.vacuum(retain_last=2))
        snap = sum(Path(f).stat().st_size for f in vt.snapshot_files())
        run.metrics["space_amp"] = (dir_bytes(vt.path) / snap, "B/B", 1)
        run.layer["versioned.manifest_bytes"] = dir_bytes(vt.manifest_dir)
        self.con.close()


# -- open-loop stream ingest ------------------------------------------------------

STREAM_STAGES = {  # StreamingQueryProgress durationMs key -> per-layer metric
    "triggerExecution": "stream.trigger_ms",
    "addBatch": "stream.add_batch_ms",
    "latestOffset": "stream.latest_offset_ms",
    "queryPlanning": "stream.planning_ms",
    "walCommit": "stream.wal_commit_ms",
    "commit": "stream.commit_ms",
}
LAG_TAIL_BEYOND = 10  # the tail is the highest percentile with this many samples above it


def _commit_times(progress: list[dict], rows_per_file: int, n_files: int) -> list[float]:
    """Commit time (epoch seconds) of the micro-batch holding each feed file.

    Files land in order and a file-source micro-batch takes every file
    listed so far, so each batch holds the next run of files; its input row
    count says how many."""
    out: list[float] = []
    for p in sorted(progress, key=lambda p: p["batchId"]):
        if not p["numInputRows"]:
            continue
        start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        done = start.replace(tzinfo=timezone.utc).timestamp() + p["durationMs"]["triggerExecution"] / 1e3
        out += [done] * (p["numInputRows"] // rows_per_file)
    if len(out) != n_files:
        raise RuntimeError(f"progress covers {len(out)} of {n_files} feed files")
    return out


def stream_ingest(run: Run) -> None:
    """Open-loop ingest: the seed's feed files land in an empty source
    directory on a fixed schedule, one every ``interval_s``, while two
    queries run on it through ``streaming.streams``: ``tumbling_counts``
    (complete mode) and ``stateful_running_totals`` (update mode).

    A file's lag is the time from its scheduled landing to the commit of the
    micro-batch that holds it, in each query.  Each feed file is one
    operation; a wrong final state counts every file as failed."""
    import duckdb

    from odc_product_docker_images_spark.streaming import streams as S

    feed = run.truth["feed"]
    files = sorted((run.data / "stream" / "events.parquet").glob("*.parquet"))
    src = run.work / "feed"
    src.mkdir()
    spark = run.spark
    run.attempted += len(files)
    queries = {}
    t_phase = time.perf_counter()
    try:
        with run.tracer.span("stream", "streaming"), S.small_state(spark):
            stream = S.events_stream(spark, str(src))
            for name, df, mode in (
                ("tumbling", S.tumbling_counts(stream), "complete"),
                ("totals", S.stateful_running_totals(stream), "update"),
            ):
                queries[name] = (
                    df.writeStream.format("memory").queryName(f"perfbench_{name}")
                    .outputMode(mode).option("checkpointLocation", str(run.work / f"ckpt_{name}"))
                    .start()
                )
            t0 = time.time() + 0.5
            due = [t0 + i * feed["interval_s"] for i in range(len(files))]
            late = []
            for f, at in zip(files, due):
                time.sleep(max(0.0, at - time.time()))
                late.append(time.time() - at)
                tmp = src / f".{f.name}.inprogress"  # hidden from the file source
                shutil.copyfile(f, tmp)
                os.rename(tmp, src / f.name)
            last_landed = time.time()
            for q in queries.values():
                q.processAllAvailable()
            progress = {k: q.recentProgress for k, q in queries.items()}
            got_t = spark.table("perfbench_tumbling").toPandas()
            got_r = spark.table("perfbench_totals").toPandas()
    except Exception:  # noqa: BLE001 - the run must go on and report it
        traceback.print_exc()
        run.fail("stream: raised", len(files))
        return
    finally:
        for q in queries.values():
            q.stop()
    run.layer["streaming.self_s"] = time.perf_counter() - t_phase

    # final state: tumbling counts against the batch twin on the same rows,
    # running totals against DuckDB over the feed
    wrong = []
    try:
        want_t = run.queries["stream_tumbling"].fn(spark, str(run.data / "stream")).toPandas()
        both = want_t.merge(got_t, on=["w_start", "event_type"], how="outer",
                            suffixes=("", "_s"), indicator=True)
        bad = (both["_merge"] != "both").sum() + (both["n"] != both["n_s"]).sum() + (
            ~np.isclose(both["sum_value"].astype(float), both["sum_value_s"], rtol=1e-9)).sum()
        if bad:
            wrong.append(f"tumbling_counts: {bad} values differ from stream_tumbling")
    except Exception:  # noqa: BLE001 - the run must go on and report it
        traceback.print_exc()
        wrong.append("batch twin stream_tumbling raised")
    want_r = duckdb.connect().execute(
        "SELECT user_id, count(*) AS n_events, sum(value) AS total_value "
        f"FROM read_parquet('{run.data}/stream/events.parquet/*.parquet') GROUP BY user_id"
    ).df()
    last_r = got_r.sort_values("n_events").groupby("user_id", as_index=False).last()
    both = want_r.merge(last_r, on="user_id", how="outer", suffixes=("", "_s"), indicator=True)
    bad = (both["_merge"] != "both").sum() + (both["n_events"] != both["n_events_s"]).sum() + (
        ~np.isclose(both["total_value"], both["total_value_s"], rtol=1e-9)).sum()
    if bad:
        wrong.append(f"stateful_running_totals: {bad} per-user values differ from the feed")
    if wrong:
        run.fail("stream " + "; ".join(wrong), len(files))

    # progress of both queries: medians over their micro-batches with data,
    # state and lag samples summed or pooled over the two
    lags, commits = [], []
    data = [p for prog in progress.values() for p in prog if p["numInputRows"]]
    for prog in progress.values():
        try:
            done = _commit_times(prog, feed["rows_per_file"], len(files))
        except RuntimeError as e:
            run.fail(f"stream: {e}", len(files))
            return
        lags += [c - d for c, d in zip(done, due)]
        commits += done
    for stage, name in STREAM_STAGES.items():
        run.layer[name] = statistics.median(p["durationMs"].get(stage, 0) for p in data)
    run.layer["stream.rows_per_batch"] = statistics.median(p["numInputRows"] for p in data)
    run.layer["stream.batches"] = len(data)
    ops = [o for prog in progress.values() for o in prog[-1]["stateOperators"]]
    run.layer["stream.state_rows"] = sum(o["numRowsTotal"] for o in ops)
    run.layer["stream.state_mem_bytes"] = sum(o["memoryUsedBytes"] for o in ops)
    run.layer["stream.backlog_end"] = sum(c > last_landed for c in commits)
    run.layer["bench.gen_late_s"] = max(late)
    lags.sort()
    run.metrics["lag_s_p50"] = (statistics.median(lags), "s", len(lags))
    run.metrics["lag_s_tail"] = (lags[-LAG_TAIL_BEYOND - 1], "s", len(lags))
    run.layer["stream.lag_tail_pct"] = 100 * (len(lags) - LAG_TAIL_BEYOND) / len(lags)


WORKLOADS = {
    "eo_products": eo_products,
    "llm_curation": llm_curation,
}
