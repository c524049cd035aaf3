"""tools/ab.py: seed parsing, the run length and the gain rule of its
summary."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from ab import ROOT, _seeds, benchmark, summarize  # noqa: E402


def _pair(base: float, change: float) -> dict:
    return {leg: {"correct": True, "failed": 0,
                  "metrics": {"cpu_ms_per_unit": {"value": v, "unit": "ms"}}}
            for leg, v in (("base", base), ("change", change))}


def _row(rows: list[str], side: str) -> list[str]:
    return next(r.split() for r in rows if r.split()[1] == side)


def test_seeds_accepts_ranges_and_lists():
    assert _seeds("11-13") == [11, 12, 13]
    assert _seeds("1,5-6,9") == [1, 5, 6, 9]


def test_run_length_and_directions_come_from_benchmark_json():
    with open(Path(ROOT) / "BENCHMARK.json") as f:
        bench = json.load(f)
    seconds, better = benchmark()
    assert seconds == bench["run_seconds"]
    assert better["cpu_ms_per_unit"] == "lower"
    assert better["throughput_per_s"] == "higher"


def test_gain_needs_nine_tenths_of_pairs_and_a_gap_over_base_iqr():
    better = {"cpu_ms_per_unit": "lower"}
    pairs = [_pair(460 + i, 350 + i) for i in range(10)]
    change = _row(summarize(pairs, better), "change")
    assert change[-2:] == ["10/10", "yes"]
    # a tie counts for neither side: 8 wins of 10 is below nine tenths
    pairs[0] = _pair(400, 400)
    pairs[1] = _pair(300, 400)
    assert _row(summarize(pairs, better), "change")[-2:] == ["8/10", "no"]


def test_gain_fails_when_medians_sit_inside_base_spread():
    pairs = [_pair(b, b - 1) for b in (100, 200, 300, 400, 500,
                                        600, 700, 800, 900, 1000)]
    change = _row(summarize(pairs, {"cpu_ms_per_unit": "lower"}), "change")
    assert change[-2:] == ["10/10", "no"]


def test_higher_is_better_metrics_win_upward():
    pairs = [_pair(1.0, 2.0) for _ in range(10)]
    rows = summarize(pairs, {"cpu_ms_per_unit": "higher"})
    assert _row(rows, "change")[-2:] == ["10/10", "yes"]
    assert _row(rows, "base")[2:5] == ["1", "1", "1"]
