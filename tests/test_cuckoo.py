"""Cuckoo filter behind the ``seen_route_cuckoo`` operator: sizing, load,
false-positive rate, saturation and deterministic inserts."""

import numpy as np

from fetcho_spark.operators.cuckoo import SLOTS, CuckooCore

SIZE = 1 << 20  # → 16384 entries / 65536 slots


def _keys(n, seed=7):
    rng = np.random.default_rng(seed)
    return np.unique(rng.integers(-(2**62), 2**62, size=n, dtype=np.int64))


def test_sizing_power_of_two():
    assert CuckooCore.n_entries(SIZE) == 16384
    assert CuckooCore.n_entries(16 * SLOTS * 16) == 16
    core = CuckooCore()
    buf = core.empty(SIZE)
    assert len(buf) == 1 + 16384 * SLOTS * 2


def test_no_false_negatives_at_high_load():
    core = CuckooCore()
    buf = core.empty(SIZE)
    keys = _keys(55_000)  # load ≈ 0.84 of 65536 slots
    core.insert(buf, SIZE, keys)
    assert not core.is_saturated(buf)
    assert core.contains(buf, SIZE, keys).all()


def test_false_positive_rate_bounded():
    core = CuckooCore()
    buf = core.empty(SIZE)
    keys = _keys(50_000, seed=1)
    core.insert(buf, SIZE, keys)
    probe = np.setdiff1d(_keys(50_000, seed=2), keys)
    fpp = core.contains(buf, SIZE, probe).mean()
    # 16-bit fp, 4-way buckets: expected ≈ 2*SLOTS*load/2^16 ≈ 1e-4
    assert fpp < 0.005


def test_saturation_degrades_to_maybe():
    core = CuckooCore()
    size = 64 * SLOTS * 16  # 64 entries / 256 slots
    buf = core.empty(size)
    keys = _keys(2_000, seed=5)
    core.insert(buf, size, keys)
    assert core.is_saturated(buf)
    # saturated filter answers "maybe" for everything — router stays safe
    assert core.contains(buf, size, _keys(100, seed=6)).all()


def test_insert_is_deterministic():
    core = CuckooCore()
    keys = _keys(30_000, seed=8)
    b1 = core.insert(core.empty(SIZE), SIZE, keys)
    b2 = core.insert(core.empty(SIZE), SIZE, keys)
    assert np.array_equal(b1, b2)
