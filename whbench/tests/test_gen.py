import hashlib
import os

import gen


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def _scenario(seed: int) -> gen.Scenario:
    return gen.churn_scenario(seed, 600, 3, 100, 4, 50)


def test_churn_same_seed_is_byte_identical(tmp_path):
    a, b = _scenario(7), _scenario(7)
    for batch_a, batch_b in ((a.day1, b.day1), (a.day2, b.day2), (a.fix, b.fix)):
        batch_a.write(str(tmp_path / "a"))
        batch_b.write(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert a.corrected == b.corrected


def test_churn_other_seed_differs():
    assert _scenario(7).day1.files != _scenario(8).day1.files


def test_churn_shape():
    sc = _scenario(7)
    header = gen.CSV_HEADER + "\n"
    assert all(t.startswith(header) for t in sc.day1.files.values())
    assert sc.day1.rows == 600 + 1  # the duplicate pair adds one row
    assert sc.day1.rejected == sc.day1.rows - len(sc.day1.clean)
    # half of the delta's clean rows re-deliver day-1 IDs
    old = [c for c in sc.day2.clean if c in sc.day1.clean]
    assert 0 < len(old) < len(sc.day2.clean)
    assert set(sc.corrected) <= set(sc.day1.clean)
    assert sc.fix.dirty_ids and not set(sc.fix.dirty_ids) & set(sc.fix.clean)


def test_tpch_same_seed_is_byte_identical(tmp_path):
    gen.write_tpch(str(tmp_path / "a"), 3, 600)
    gen.write_tpch(str(tmp_path / "b"), 3, 600)
    gen.write_tpch(str(tmp_path / "c"), 4, 600)
    a = _digest(str(tmp_path / "a"))
    assert a == _digest(str(tmp_path / "b"))
    assert a["lineitem.parquet"] != _digest(str(tmp_path / "c"))["lineitem.parquet"]
