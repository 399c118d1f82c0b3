"""Seeded input generator for the perfbench workloads.

Every input the engine sees is written here, from ``--seed`` alone: the
same seed gives byte-identical parquet files, another seed different ones.
Tables follow the column names and physical types of the fixture tables
(FIXTURES.md), so ``io.load`` and the DuckDB oracles read them unchanged.

Layout of one seed directory (``<out>/``):

- ``<table>.parquet/part-NNNNN.parquet`` for the ten fixture tables.  The
  observation tables (``lineitem``, ``events``, ``orders``) are sorted by
  date and split into several files of several row groups each, so scans
  run in parallel and min/max pushdown can skip row groups.
- ``upsert/base/events.parquet/``: the versioned table's base (events
  schema, clustered on ``event_id``) and ``upsert/bNNN/events.parquet/``:
  the update batches, each unique on ``event_id``.
- ``stream/events.parquet/part-NNNNN.parquet``: the stream feed, one file
  per scheduled landing, in the stream source's raw form (``ts`` as int64
  nanoseconds).  As a directory it is also an ``events`` table, so the
  batch twins read the same rows.
- ``truth.json``: planted near-duplicate pairs, hot keys, batch and read
  plans, the feed schedule, row and byte counts per table.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated bytes change, so cached seed directories are
# rebuilt instead of silently reused.
GEN_VERSION = 4

# Input sizes, well below sf0.1 so that a run stays near a minute.  NOTES.md
# gives the layer shares measured at these sizes and at sf0.1 row counts:
# the same layers lead, and size-dependent aggregates weigh about half.
N_ORDERS = 6_000
N_LINEITEM = 24_000
N_CUSTOMER = 600
N_SUPPLIER = 40
N_PART = 800
N_EVENTS = 6_000
N_USERS = 150
N_DOCS = 800
EMB_DIM = 64
N_BASE = 20_000  # versioned table base rows
N_BATCHES = 45  # merge rounds available to one run
BATCH_ROWS = 400
N_FEED = 16  # stream feed files
FEED_ROWS = 300  # rows per feed file
FEED_INTERVAL_S = 0.3  # landing schedule: one file every this many seconds
FEED_SPAN_MIN = 20  # event-time minutes covered by one feed file
LATE_SHARE = 0.1  # rows whose event time is moved back 1-8 minutes
N_FILES = 4  # files per observation table
RG_PER_FILE = 4  # row groups per file

VOCAB = (
    "the a data table row column key value join merge sort hash scan filter "
    "group agg window batch stream spark query line order part customer big "
    "small fast slow vector dup"
).split()
BOILERPLATE = "all rights reserved terms of use apply see the policy page".split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_US_PER_DAY = 86_400_000_000


def _us(d: str) -> int:
    return int((datetime.fromisoformat(d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _write(table: pa.Table, path: Path, n_files: int = 1, rg_per_file: int = 1) -> None:
    """Write ``table`` as ``n_files`` contiguous slices of ``rg_per_file``
    row groups each, into the directory ``path``."""
    path.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    per_file = -(-n // n_files)
    for i in range(n_files):
        part = table.slice(i * per_file, per_file)
        if part.num_rows == 0:
            continue
        pq.write_table(
            part,
            path / f"part-{i:05d}.parquet",
            row_group_size=max(1, -(-part.num_rows // rg_per_file)),
            compression="snappy",
        )


def _dims(rng: np.random.Generator) -> dict[str, pa.Table]:
    nation = np.arange(25, dtype=np.int32)
    cust = np.arange(N_CUSTOMER, dtype=np.int64)
    supp = np.arange(N_SUPPLIER, dtype=np.int64)
    part = np.arange(N_PART, dtype=np.int64)
    adj = np.array(["cold", "small", "large", "bright", "dark", "smooth"])
    noun = np.array(["widget", "gadget", "bolt", "panel", "sensor"])
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(nation),
            "n_name": [f"NATION_{i}" for i in nation],
            "n_regionkey": pa.array((nation % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(cust),
            "c_name": [f"Customer#{i:09d}" for i in cust],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2)),
            "c_mktsegment": list(rng.choice(SEGMENTS, N_CUSTOMER)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(supp),
            "s_name": [f"Supplier#{i:09d}" for i in supp],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(part),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, N_PART), rng.choice(noun, N_PART))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
            "p_type": list(rng.choice(PTYPES, N_PART)),
            "p_size": pa.array(rng.integers(1, 51, N_PART).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (part % 1000) / 10.0, 2)),
        }),
    }


def _orders_lineitem(rng: np.random.Generator) -> tuple[pa.Table, pa.Table]:
    lo, hi = _us("1995-01-01"), _us("2001-08-01")
    odate = np.sort(rng.integers(0, (hi - lo) // _US_PER_DAY + 1, N_ORDERS)) * _US_PER_DAY + lo
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64)),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], N_ORDERS)),
        "o_totalprice": pa.array(np.round(rng.uniform(1_000, 400_000, N_ORDERS), 2)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": list(rng.choice(PRIORITIES, N_ORDERS)),
    })
    okey = rng.integers(0, N_ORDERS, N_LINEITEM)
    # ship 1-120 days after the order: a pixel observed on its scene date
    ship = odate[okey] + rng.integers(1, 121, N_LINEITEM) * _US_PER_DAY
    order = np.argsort(ship, kind="stable")  # date-sorted, like a time-ordered feed
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2_100, N_LINEITEM), 2)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0),
        "l_returnflag": list(rng.choice(["A", "N", "R"], N_LINEITEM)),
        "l_linestatus": list(rng.choice(["F", "O"], N_LINEITEM)),
        "l_shipdate": _ts(ship),
    }).take(pa.array(order))
    return orders, lineitem


def _zipf_users(rng: np.random.Generator, n: int) -> np.ndarray:
    """User ids with a heavy head: user-key skew for the session keys."""
    w = 1.0 / np.arange(1, N_USERS + 1) ** 0.8
    return rng.permutation(N_USERS)[rng.choice(N_USERS, n, p=w / w.sum())].astype(np.int64)


def _events(rng: np.random.Generator, n: int, id0: int, t0_us: int) -> pa.Table:
    gaps = rng.integers(120, 361, n) * 1_000_000 + rng.integers(0, 1_000_000, n)
    return pa.table({
        "event_id": pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
        "ts": _ts(t0_us + np.cumsum(gaps)),
        "user_id": pa.array(_zipf_users(rng, n)),
        "event_type": list(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _shingles(words: list[str]) -> set[str]:
    return {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}


def _jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / max(1, len(sa | sb))


def _corpus(rng: np.random.Generator) -> tuple[pa.Table, pa.Table, dict]:
    """Documents + embeddings with planted duplicates.

    A seed-chosen fraction of documents are copies of distinct originals:
    a few exact, the rest with ~3% of tokens replaced.  Copies are kept only
    if their 3-shingle Jaccard to the original is >= 0.7, well above the
    0.5 cut of ``dedup_minhash``.  Their embeddings are the original's plus
    small noise.  A share of documents carry a common boilerplate sentence.
    """
    dup_frac = float(rng.uniform(0.08, 0.12))
    n_dup = int(N_DOCS * dup_frac)
    n_orig = N_DOCS - n_dup
    texts: list[list[str]] = []
    for _ in range(n_orig):
        words = list(rng.choice(VOCAB, int(rng.integers(20, 90))))
        if rng.random() < 0.2:
            words = BOILERPLATE + words
        texts.append(words)
    emb = rng.normal(0.0, 0.15, (N_DOCS, EMB_DIM)).astype(np.float32)
    srcs = rng.choice(n_orig, n_dup, replace=False)
    pairs: list[tuple[int, int]] = []  # (original row, copy row)
    for j, s in enumerate(srcs):
        words = list(texts[s])
        if j % 5 != 0:  # every fifth copy is exact
            while True:
                cand = [w if rng.random() >= 0.03 else str(rng.choice(VOCAB)) for w in words]
                if _jaccard(words, cand) >= 0.7:
                    words = cand
                    break
        texts.append(words)
        row = n_orig + j
        emb[row] = emb[s] + rng.normal(0.0, 0.01, EMB_DIM).astype(np.float32)
        pairs.append((int(s), row))
    # doc ids are a permutation of rows, so copies are spread over the table
    ids = rng.permutation(N_DOCS)
    order = np.argsort(ids)
    text = [" ".join(texts[r]) for r in order]
    documents = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": text,
        "lang": list(rng.choice(LANGS, N_DOCS, p=LANG_P)),
        "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCS)],
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "embedding": pa.array(list(emb[order]), type=pa.list_(pa.field("element", pa.float32()))),
        "label": pa.array(rng.integers(0, 10, N_DOCS).astype(np.int32)),
    })
    planted = sorted(tuple(sorted((int(ids[a]), int(ids[b])))) for a, b in pairs)
    return documents, embeddings, {"dup_frac": dup_frac, "planted_pairs": planted}


def _upsert(rng: np.random.Generator, out: Path) -> dict:
    """Base table + merge batches + read plan for the versioned workload.

    Updates are recency- and hot-key-skewed: most hit a Zipf-weighted hot
    set inside the newest quarter of the key range (late corrections to
    recent events), the rest any key; inserts append new keys.  Each batch
    has one read, an ``event_id`` range of 1% (even batches) or 10% (odd
    batches) of the key range."""
    t0 = _us("2024-01-01")
    _write(_events(rng, N_BASE, 0, t0), out / "base" / "events.parquet", 4, RG_PER_FILE)
    recent = np.arange(N_BASE * 3 // 4, N_BASE)
    hot = rng.choice(recent, 1_000, replace=False)
    hot_w = 1.0 / np.arange(1, len(hot) + 1) ** 0.6
    hot_w /= hot_w.sum()
    next_id = N_BASE
    batches, reads = [], []
    for b in range(N_BATCHES):
        n_ins = BATCH_ROWS // 8
        n_upd = BATCH_ROWS - n_ins
        # unique update keys: ~60% from the hot set, the rest recent or any
        keys = set(rng.choice(hot, n_upd * 3 // 4, p=hot_w).tolist())
        while len(keys) < n_upd:
            keys.add(int(rng.choice(recent) if rng.random() < 0.5 else rng.integers(0, next_id)))
        upd = np.array(sorted(keys), dtype=np.int64)
        ev = _events(rng, BATCH_ROWS, 0, t0)
        ids = np.concatenate([upd, np.arange(next_id, next_id + n_ins, dtype=np.int64)])
        next_id += n_ins
        ev = ev.set_column(0, "event_id", pa.array(ids))
        _write(ev, out / f"b{b:03d}" / "events.parquet")
        sel = (0.01, 0.10)[b % 2]
        width = max(1, int(next_id * sel))
        lo = int(rng.integers(0, next_id - width))
        batches.append({"updates": len(upd), "inserts": n_ins})
        reads.append([[sel, lo, lo + width - 1]])
    return {"hot_keys": sorted(int(k) for k in hot), "batches": batches, "reads": reads}


def _feed(rng: np.random.Generator, out: Path) -> dict:
    """The stream feed: ``N_FEED`` files of consecutive event-time slices.

    A ``LATE_SHARE`` of each file's rows carry an event time moved back by
    1-8 minutes, so rows arrive out of order, some behind rows of the
    previous file.  The shift stays under the 10-minute watermark of
    ``tumbling_counts``, so no row is dropped whatever the micro-batch
    boundaries are, and the final state is a pure function of the feed."""
    t0 = _us("2024-03-01") * 1_000
    span = FEED_SPAN_MIN * 60 * 1_000_000_000
    out.mkdir(parents=True)
    for i in range(N_FEED):
        ts = t0 + i * span + np.sort(rng.integers(0, span, FEED_ROWS))
        late = rng.random(FEED_ROWS) < LATE_SHARE
        ts[late] -= rng.integers(60, 481, int(late.sum())) * 1_000_000_000
        pq.write_table(pa.table({
            "event_id": pa.array(np.arange(i * FEED_ROWS, (i + 1) * FEED_ROWS, dtype=np.int64)),
            "ts": pa.array(ts.astype(np.int64)),
            "user_id": pa.array(_zipf_users(rng, FEED_ROWS)),
            "event_type": list(rng.choice(EVENT_TYPES, FEED_ROWS)),
            "value": pa.array(np.round(rng.uniform(0.01, 490.0, FEED_ROWS), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, FEED_ROWS)],
        }), out / f"part-{i:05d}.parquet", compression="snappy")
    return {"feed": {"files": N_FEED, "rows_per_file": FEED_ROWS,
                     "interval_s": FEED_INTERVAL_S, "late_share": LATE_SHARE}}


def _dir_stats(path: Path) -> tuple[int, int, int]:
    files = sorted(p for p in path.rglob("*.parquet") if p.is_file())
    rows = sum(pq.ParquetFile(p).metadata.num_rows for p in files)
    return rows, sum(p.stat().st_size for p in files), len(files)


def generate(out: Path, seed: int) -> dict:
    """Write every input for ``seed`` into ``out`` (replacing it) and return
    the truth record also saved as ``out/truth.json``."""
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    rng = np.random.default_rng([seed, GEN_VERSION])
    for name, t in _dims(rng).items():
        _write(t, out / f"{name}.parquet")
    orders, lineitem = _orders_lineitem(rng)
    _write(orders, out / "orders.parquet", N_FILES, RG_PER_FILE)
    _write(lineitem, out / "lineitem.parquet", N_FILES, RG_PER_FILE)
    _write(_events(rng, N_EVENTS, 0, _us("2024-01-01")), out / "events.parquet", N_FILES, RG_PER_FILE)
    documents, embeddings, corpus = _corpus(rng)
    _write(documents, out / "documents.parquet", 2)
    _write(embeddings, out / "embeddings.parquet", 2)
    upsert = _upsert(rng, out / "upsert")
    feed = _feed(rng, out / "stream" / "events.parquet")
    tables = {}
    for p in sorted(out.glob("*.parquet")) + [out / "upsert", out / "stream"]:
        rows, nbytes, nfiles = _dir_stats(p)
        tables[p.stem] = {"rows": rows, "bytes": nbytes, "files": nfiles}
    truth = {"seed": seed, "gen_version": GEN_VERSION, "tables": tables,
             **corpus, **upsert, **feed}
    (out / "truth.json").write_text(json.dumps(truth, indent=1))
    return truth


def ensure(root: Path, seed: int) -> tuple[Path, dict]:
    """Return the seed's input directory under ``root``, generating it on
    first use.  A ``truth.json`` from another generator version is rebuilt."""
    out = root / f"s{seed}"
    tf = out / "truth.json"
    if tf.is_file():
        truth = json.loads(tf.read_text())
        if truth.get("gen_version") == GEN_VERSION:
            return out, truth
    tmp = root / f".s{seed}.{os.getpid()}"
    truth = generate(tmp, seed)
    if out.exists():
        shutil.rmtree(out)
    os.rename(tmp, out)
    return out, truth
