"""Unit tests for the benchmark's percentile rule and name rules.

    python3 -m pytest perfbench/test_stats.py -q
"""

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from layers import LAYER_METRICS  # noqa: E402
from stats import spread, tail, valid_name, valid_unit  # noqa: E402


def test_tail_needs_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = tail(xs)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_smallest_sample_count_that_qualifies():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0]
    value, pct, n = tail(xs)
    assert value == 1.0 and n == 11
    assert pct == 100.0 / 11


def test_tail_falls_back_to_median_below_eleven_samples():
    assert tail([3.0, 1.0, 2.0]) == (2.0, 50.0, 3)
    assert tail([float(x) for x in range(10)]) == (4.5, 50.0, 10)


def test_tail_is_order_independent():
    xs = [float((7 * i) % 37) for i in range(37)]
    assert tail(xs) == tail(sorted(xs)) == tail(sorted(xs, reverse=True))


def test_spread_is_quartile_distance_over_median():
    assert spread([10.0] * 10) == 0.0
    assert abs(spread([1, 2, 3, 4, 5, 6, 7, 8, 9]) - 5.0 / 5.0) < 1e-12


def test_name_charset():
    assert valid_name("op_s_p50")
    assert valid_name("fuse.build-jobs")
    assert valid_name("9lives")
    assert not valid_name("_leading")
    assert not valid_name(".leading")
    assert not valid_name("has space")
    assert not valid_name("slash/no")
    assert not valid_name("x" * 65)
    assert valid_name("x" * 64)


def test_unit_charset():
    for unit in ("ms", "s", "1/s", "count", "%", "rows/s", "MB"):
        assert valid_unit(unit)
    assert not valid_unit("")
    assert not valid_unit("has space")
    assert not valid_unit("u" * 17)


def test_benchmark_json_names_and_units():
    cfg = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    names = [m["name"] for m in cfg["end_to_end"] + cfg["per_layer"]]
    names += [w["name"] for w in cfg["workloads"]]
    assert len(names) == len(set(names))
    assert all(valid_name(n) for n in names)
    assert all(valid_unit(m["unit"]) for m in cfg["end_to_end"] + cfg["per_layer"])
    assert {m["name"]: m["unit"] for m in cfg["per_layer"]} == LAYER_METRICS
    assert any(
        m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
        for m in cfg["end_to_end"]
    )
