"""Unit tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import run  # noqa: E402
from spans import Tracer, beyond, percentile  # noqa: E402
from workloads import Op, fingerprint  # noqa: E402


def test_percentile_interpolates_between_order_statistics():
    assert percentile(list(range(1, 11)), 0.9) == pytest.approx(9.1)
    assert percentile(list(range(100, 0, -1)), 0.9) == pytest.approx(90.1)
    assert percentile([3.0], 0.9) == 3.0
    assert percentile([1, 2], 0.5) == 1.5
    assert percentile([4, 1, 3, 2], 0.5) == statistics.median([4, 1, 3, 2])
    with pytest.raises(ValueError):
        percentile([], 0.9)


def test_samples_beyond_p90():
    assert beyond(list(range(100)), 0.9) == 10
    assert beyond(list(range(24)), 0.9) == 3
    assert beyond([], 0.9) == 0
    # ten samples beyond p90 takes about a hundred ops in a run
    assert min(n for n in range(1, 200) if beyond(list(range(n)), 0.9) >= 10) == 92


class _FakeWorkload:
    min_passes = 2
    pass_group = 1

    def __init__(self):
        self.calls = 0

    def make_pass(self, p):
        def ok():
            return lambda: True

        def wrong():
            return lambda: False

        def boom():
            raise RuntimeError("engine error")

        def bad_check():
            return lambda: 1 / 0

        return [Op("ok", "l", ok), Op("wrong", "l", wrong), Op("boom", "l", boom),
                Op("bad_check", "l", bad_check)]


def test_failures_are_counted_per_op():
    ops, phase_s, check_s, passes = run.closed_loop(_FakeWorkload(), 0.0, Tracer(None, False), False)
    assert passes == 2 and len(ops) == 8
    assert [o["ok"] for o in ops[:4]] == [True, False, False, False]
    assert phase_s >= check_s >= 0
    assert run.mark_failures(ops, {}) == 6
    # a shared check failing on a key fails every call of that key
    assert run.mark_failures(ops, {"ok": "oracle mismatch"}) == 8


def test_fingerprint_ignores_row_order_and_float_noise():
    cols = ["b", "a"]
    x = [(1, 0.1 + 0.2), (2, 3.0)]
    y = [(2, 3.0), (1, 0.3)]
    assert fingerprint(cols, x) == fingerprint(cols, y)
    assert fingerprint(cols, x) != fingerprint(cols, [(1, 0.31), (2, 3.0)])


def test_tables_are_byte_identical_per_seed(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.write_tables(str(tmp_path / name), seed, base_orders=300)
    ha, hb, hc = (gen.manifest_hash(str(tmp_path / n)) for n in "abc")
    assert ha == hb != hc
    assert sorted(os.listdir(tmp_path / "a")) == sorted(f"{t}.parquet" for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()))


def _library(root, seed):
    state = gen.write_library(str(root), seed, 60, 500, 1_000)
    rounds = [gen.mutate_library(str(root), state, seed, r, 1_000 + 10 * r, 500) for r in (1, 2)]
    return state, rounds


def test_library_rounds_are_deterministic(tmp_path):
    sa, ra = _library(tmp_path / "a", 3)
    sb, rb = _library(tmp_path / "b", 3)
    assert sa == sb and ra == rb
    assert gen.manifest_hash(str(tmp_path / "a")) == gen.manifest_hash(str(tmp_path / "b"))
    (mod1, add1), (mod2, add2) = ra
    assert len(mod1) == 1 and len(add1) == 1  # 2% modified, 1% added, at least one each
    assert max(sa.values()) == 1_020  # the latest round's mtime
    assert any("'" in name for _folder, name in sa)
    sizes = [os.path.getsize(tmp_path / "a" / f / n) for f, n in sa]
    assert 0 in sizes and max(sizes) <= 2 << 20


def test_cdc_batches_are_deterministic_and_year_stable():
    a = gen.cdc_batch(1, 4, 1_000, 20, 5_000)
    b = gen.cdc_batch(1, 4, 1_000, 20, 5_000)
    assert a.equals(b)
    upd = a[a.o_orderkey < 1_000]
    assert len(upd) == 10 and (upd.o_year == 1995 + upd.o_orderkey % 7).all()
    seed = gen.seed_orders(1, 1_000)
    assert (seed.o_year == 1995 + seed.o_orderkey % 7).all()
