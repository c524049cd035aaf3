"""tools/ab.py: seed parsing, the run length, the gain rule of its
summary, the catalog leg's record and pair verdict, and the working-tree
snapshot."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from ab import (  # noqa: E402
    ROOT,
    _seeds,
    benchmark,
    catalog_record,
    export_worktree,
    pair_correct,
    summarize,
)


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


def _payload(failed=(), dedup_rows=4992) -> dict:
    """The fields of a bench.py full payload that the catalog leg reads."""
    return {"queries": {"exact_dedup": 0.187,
                        "etl_enrichment_pipeline": None if failed else 2.3},
            "rows": {"exact_dedup": dedup_rows,
                     "etl_enrichment_pipeline": None if failed else 600000},
            "failed": list(failed)}


def test_catalog_payload_becomes_a_leg_record_of_query_seconds():
    rec = catalog_record(_payload())
    assert (rec["correct"], rec["failed"]) == (True, 0)
    assert rec["metrics"] == {
        "exact_dedup": {"value": 0.187, "unit": "s"},
        "etl_enrichment_pipeline": {"value": 2.3, "unit": "s"}}
    assert rec["rows"] == _payload()["rows"]
    rec = catalog_record(_payload(failed=["etl_enrichment_pipeline"]))
    assert (rec["correct"], rec["failed"]) == (False, 1)
    assert list(rec["metrics"]) == ["exact_dedup"]
    assert catalog_record(None)["correct"] is False


def test_pair_is_correct_only_with_equal_rows_and_no_failure():
    base = catalog_record(_payload())
    assert pair_correct({"base": base, "change": catalog_record(_payload())})
    drift = catalog_record(_payload(dedup_rows=4991))
    assert drift["correct"]
    assert not pair_correct({"base": base, "change": drift})
    failed = catalog_record(_payload(failed=["etl_enrichment_pipeline"]))
    assert not pair_correct({"base": failed, "change": base})
    # end-to-end records carry no rows: their own checks decide
    assert pair_correct(_pair(1.0, 1.0))
    e2e = _pair(1.0, 1.0)
    e2e["change"]["correct"] = False
    assert not pair_correct(e2e)


def test_worktree_snapshot_keeps_untracked_and_drops_ignored(tmp_path):
    repo, dest = tmp_path / "repo", tmp_path / "dest"
    (repo / "pkg").mkdir(parents=True)
    dest.mkdir()
    (repo / ".gitignore").write_text("*.log\n")
    (repo / "pkg" / "tracked.py").write_text("edited = True\n")
    (repo / "pkg" / "new.py").write_text("untracked = True\n")
    (repo / "run.log").write_text("ignored\n")
    (repo / "gone.py").write_text("deleted after add\n")
    subprocess.run(["git", "init", "-q", str(repo)], check=True)
    subprocess.run(["git", "-C", str(repo), "add", ".gitignore",
                    "pkg/tracked.py", "gone.py"], check=True)
    (repo / "gone.py").unlink()

    export_worktree(str(dest), repo=str(repo))

    got = sorted(str(p.relative_to(dest)) for p in dest.rglob("*")
                 if p.is_file())
    assert got == [".gitignore", "pkg/new.py", "pkg/tracked.py"]
    assert (dest / "pkg" / "tracked.py").read_text() == "edited = True\n"
