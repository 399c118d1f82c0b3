"""The input generator is a pure function of the seed.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import gen  # noqa: E402


def _digest(root: Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*"))
        if p.is_file()
    }


def test_same_seed_same_bytes_other_seed_differs(tmp_path: Path) -> None:
    a = _digest(gen.ensure(tmp_path / "a", 3)[0])
    b = _digest(gen.ensure(tmp_path / "b", 3)[0])
    c = _digest(gen.ensure(tmp_path / "c", 4)[0])
    assert a == b
    tables = [k for k in a if k.endswith(".parquet") and k != "truth.json"]
    assert tables and set(a) == set(c)
    # every generated table depends on the seed, except the fixed dims
    fixed = {k for k in tables if k.split("/")[0] in ("region.parquet", "nation.parquet")}
    assert all(a[k] != c[k] for k in tables if k not in fixed)
    assert a["truth.json"] != c["truth.json"]


def test_planted_pairs_are_distinct_documents(tmp_path: Path) -> None:
    _, truth = gen.ensure(tmp_path, 5)
    pairs = truth["planted_pairs"]
    assert pairs and all(a < b for a, b in pairs)
    docs = [d for p in pairs for d in p]
    assert len(docs) == len(set(docs))  # no chains: each doc in one pair at most
    assert truth["tables"]["documents"]["rows"] == gen.N_DOCS
