"""The input generators are a pure function of the seed.

    python3 -m pytest perfbench/test_gen.py -q
"""

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _write_all(seed: int, root: str) -> dict[str, bytes]:
    gen.write_tables(seed, os.path.join(root, "tables"))
    gen.write_update_inputs(seed, os.path.join(root, "update"), n_cycles=3)
    files = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            path = os.path.join(dirpath, n)
            with open(path, "rb") as f:
                files[os.path.relpath(path, root)] = f.read()
    return files


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _write_all(7, str(tmp_path / "a"))
    b = _write_all(7, str(tmp_path / "b"))
    assert a.keys() == b.keys() and len(a) == 10 + 2 * 3
    assert all(a[k] == b[k] for k in a)


def test_other_seed_gives_other_inputs(tmp_path):
    a = _write_all(7, str(tmp_path / "a"))
    b = _write_all(8, str(tmp_path / "b"))
    fixed = {os.path.join("tables", "region.parquet"), os.path.join("tables", "nation.parquet")}
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a if k not in fixed)


def test_request_plan_is_seeded():
    vecs = np.eye(8, dtype=np.float32)
    assert gen.search_requests(3, vecs, 30) == gen.search_requests(3, vecs, 30)
    assert gen.search_requests(3, vecs, 30) != gen.search_requests(4, vecs, 30)
    assert gen.analytics_order(3, ["a", "b", "c"], 4) == gen.analytics_order(3, ["a", "b", "c"], 4)
    assert gen.analytics_order(3, ["a", "b", "c"], 4) != gen.analytics_order(4, ["a", "b", "c"], 4)


def test_update_batches_mix_new_and_updated_docs(tmp_path):
    meta = gen.write_update_inputs(5, str(tmp_path), n_cycles=4)
    seen: set[int] = set()
    for i, batch in enumerate(meta["batches"]):
        assert set(batch["updates"]) <= seen and set(batch["updates"]) <= set(batch["ids"])
        assert bool(batch["updates"]) == (i > 0)
        seen |= set(batch["ids"])
