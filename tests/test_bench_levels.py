"""Unit tests for the scaling-bench level helpers (no Spark).

spec_cores / _max_partition_bytes drive which parallelism each bench
level gets and how input splits are sized (the split-quantization fix —
see SCALE.md §Measured anchors); a silent mis-parse would invalidate the
recorded efficiency numbers, so pin them.
"""

import pytest

from scripts.webcorpus_scaling_bench import (
    _max_partition_bytes,
    scaling_levels,
    spec_cores,
)


def test_spec_cores_forms():
    assert spec_cores("2") == 2
    assert spec_cores("32") == 32
    assert spec_cores("local[8]") == 8
    assert spec_cores("local-cluster[4,2,4096]") == 8
    assert spec_cores("local-cluster[1,2,4096]") == 2
    with pytest.raises(ValueError):
        spec_cores("yarn")


def test_max_partition_bytes_targets_waves(tmp_path):
    d = tmp_path / "data"
    d.mkdir()
    for i in range(4):
        (d / f"part-{i}.snappy.parquet").write_bytes(b"x" * 3_000_000)
    (d / "_SUCCESS").write_bytes(b"")  # non-parquet files don't count
    total = 12_000_000
    got = _max_partition_bytes(str(d), cores=2, waves=12)
    # floored at 4 MiB when input/(cores*waves) is smaller
    assert got == 4 << 20
    got8 = _max_partition_bytes(str(d), cores=8)
    assert got8 == 4 << 20
    # large input: proportional sizing, tasks ~ cores*waves
    big = tmp_path / "big"
    big.mkdir()
    with open(big / "part-0.parquet", "wb") as f:
        f.truncate(2_000_000_000)  # sparse — no real 2 GB written
    assert _max_partition_bytes(str(big), cores=8, waves=12) == (
        2_000_000_000 // 96
    )
    assert total  # silence unused warning-style lint


def test_scaling_levels_headline_is_worst_top_core_level():
    levels = ("local-cluster[1,2,4096]", "8", "local-cluster[4,2,4096]")
    rate = {levels[0]: 100.0, "8": 300.0, levels[2]: 380.0}
    lo, hi, eff = scaling_levels(levels, rate)
    assert lo == levels[0]
    # both 8-core levels tie on cores: the headline is the WORSE one
    assert hi == "8"
    assert eff(hi) == pytest.approx(0.75)
    assert eff(levels[2]) == pytest.approx(0.95)
    assert eff(lo) == pytest.approx(1.0)
    # order of the level list does not matter
    assert scaling_levels(levels[::-1], rate)[:2] == (lo, hi)
    lo, hi, eff = scaling_levels(("2", "8"), {"2": 50.0, "8": 180.0})
    assert (lo, hi) == ("2", "8")
    assert eff(hi) == pytest.approx(0.9)
