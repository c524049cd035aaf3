"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest e2ebench/tests -q

The last test runs the benchmark command end to end for every workload
in BENCHMARK.json; it needs Spark and takes minutes, so it runs only
with E2EBENCH_SLOW=1.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
from stats import METRIC_NAME, MIN_TAIL, median, tail_percentile  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _inputs(tmp: str, seed: int) -> dict[str, str]:
    """Every input kind the generator makes, as file digests."""
    os.makedirs(tmp)
    out = {}
    for rnd, live, truth in gen.harvest_rounds(seed, rounds=2):
        for rs in sorted(live if rnd == 0 else truth):
            p = os.path.join(tmp, f"r{rnd}_{rs}.zip")
            gen.write_archive(p, seed, rs, live[rs])
            out[p.rsplit("/", 1)[1]] = _digest(p)
        out[f"truth{rnd}"] = json.dumps(truth, sort_keys=True)
    p = os.path.join(tmp, "records.jsonl")
    out["live"] = gen.write_records_jsonl(p, seed, 500)
    out["records"] = _digest(p)
    out["requests"] = json.dumps(gen.request_sequence(seed, 500))
    return out


def test_generator_is_deterministic(tmp_path):
    a = _inputs(str(tmp_path / "a"), 7)
    b = _inputs(str(tmp_path / "b"), 7)
    assert a == b
    c = _inputs(str(tmp_path / "c"), 8)
    assert c["records"] != a["records"]


def test_harvest_truth_matches_round_contents():
    rounds = list(gen.harvest_rounds(3, rounds=3))
    for (_, before, _), (_, after, truth) in zip(rounds, rounds[1:]):
        assert len(truth) == gen.SIZES["harvest"]["changed_per_round"]
        for rs in set(before) - set(truth):
            assert before[rs] == after[rs]
        for rs, t in truth.items():
            every = gen.SIZES["harvest"]["media_every"]
            gone = set(before[rs]) - set(after[rs])
            new = set(after[rs]) - set(before[rs])
            assert t["delete"] == len(gone) + sum(i % every == 0 for i in gone)
            assert t["create"] == len(new) + sum(i % every == 0 for i in new)
            assert t["update"] == sum(
                after[rs][i] != before[rs][i] for i in set(before[rs]) & set(after[rs])
            )


def test_store_shape_follows_the_fixture_spec(tmp_path):
    """FIXTURES.md §3-4: 1-4 versions per uuid, ~2 % tombstoned, Zipf
    recordset sizes."""
    p = str(tmp_path / "records.jsonl")
    n = 3000
    live = gen.write_records_jsonl(p, 5, n)
    with open(p) as f:
        rows = [json.loads(line) for line in f]
    per_uuid, parents = {}, {}
    for r in rows:
        per_uuid.setdefault(r["uuid"], []).append(r)
        parents[r["uuid"]] = r["parent"]
    assert len(per_uuid) == n
    dead = [u for u, rs in per_uuid.items()
            if rs[-1]["etag"] == gen.TOMBSTONE_ETAG]
    assert live == n - len(dead)
    assert 0.005 < len(dead) / n < 0.04
    for rs in per_uuid.values():
        assert [r["version"] for r in rs] == list(range(len(rs)))
        assert 1 <= sum(r["data"] is not None for r in rs) <= 4
    sizes = sorted((list(parents.values()).count(p) for p in set(
        parents.values())), reverse=True)
    assert len(sizes) == gen.SIZES["store"]["recordsets"]
    assert sizes[0] > 5 * sizes[-1]


def test_request_sequence_repeats_and_mix():
    seq = gen.request_sequence(1, 1000)
    ops = {r["op"] for r in seq}
    assert ops == {"search", "lookup", "download"}
    assert 0.5 < gen.repeat_share(seq) < 1.0


def test_tail_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(90)]
    # p90 of 90 samples leaves 9 above it: not reported
    assert tail_percentile(xs, 0.9) is None
    xs += [90.0, 91.0]
    v = tail_percentile(xs, 0.9)
    assert v is not None and sum(x > v for x in xs) >= MIN_TAIL
    assert median([3.0, 1.0, 2.0]) == 2.0


def test_metric_names_are_well_formed():
    names = list(layers.END_TO_END) + list(layers.PER_LAYER)
    spec = _spec()
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    for n in names:
        assert METRIC_NAME.match(n), n


def test_benchmark_json_matches_the_printed_names():
    spec = _spec()
    assert [m["name"] for m in spec["end_to_end"]] == list(layers.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == dict(
        layers.PER_LAYER
    )
    assert {m["name"] for m in spec["end_to_end"]} >= {"setup_s"}
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.skipif(
    os.environ.get("E2EBENCH_SLOW") != "1", reason="needs Spark; minutes"
)
@pytest.mark.parametrize("trace", [0, 1])
def test_command_prints_every_metric(trace):
    spec = _spec()
    want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    for w in spec["workloads"]:
        p = subprocess.run(
            spec["command"] + ["--workload", w["name"], "--seed", "1",
                               "--seconds", str(spec["run_seconds"]),
                               "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        assert p.returncode == 0, p.stderr[-3000:]
        out = json.loads(p.stdout.strip().splitlines()[-1])
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert set(out["metrics"]) == want
        assert out["correct"] and out["attempted"] >= 1
