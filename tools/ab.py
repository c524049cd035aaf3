"""Sample-interleaved A/B of a git revision (the base) against the
working tree (the change) on the end-to-end or the catalog benchmark.

    python tools/ab.py --workload search --seeds 11-20 [--base HEAD]
        [--trace 0] [--json runs.json]
    python tools/ab.py --workload catalog --seeds 1-10 [--base HEAD]

Both legs run from snapshots under ``$TMPDIR`` (default /tmp), so
neither writes into the checkout: ``git archive`` of the base revision,
and a copy of the working tree's tracked and untracked, not ignored
files. Each seed is one pair: both legs run one after the other, and
the leg that runs first alternates from pair to pair so host drift
within a pair falls on both sides equally. A leg runs
``e2ebench/run.py`` with the pair's seed for BENCHMARK.json's
``run_seconds``; a ``catalog`` leg runs ``bench.py`` instead and reads
the per-query min-of-3 seconds from the snapshot's ``BENCH_LOCAL.json``
(``bench.py`` takes no seed, so the seeds only count the pairs, and
``--trace`` does not apply). A catalog pair is correct only when no
query failed and the per-query row counts agree.

Prints every run, then per metric and side the median and quartiles,
the pairs the change won (ties count for neither side) and whether the
gain rule holds: the change wins at least nine tenths of the pairs and
the medians differ by more than the base's interquartile range. Which
direction is better comes from BENCHMARK.json; any other metric (a
catalog query's seconds) counts lower as better. Exit status is non-zero
when any pair is not correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "e2ebench"))

from stats import median, quantile  # noqa: E402

LEGS = ("base", "change")


def _seeds(spec: str) -> list[int]:
    """``11-20`` or ``1,5,9`` (or a mix) to a list of seeds."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def export_revision(rev: str, dest: str) -> None:
    """Write the committed files of ``rev`` into the empty ``dest``."""
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", "--format=tar", rev],
        check=True, capture_output=True,
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def export_worktree(dest: str, repo: str = ROOT) -> None:
    """Copy the working tree of ``repo`` into the empty ``dest``: tracked
    files as they are on disk plus untracked ones that are not ignored."""
    names = subprocess.run(
        ["git", "-C", repo, "ls-files", "-co", "--exclude-standard", "-z"],
        check=True, capture_output=True, text=True,
    ).stdout.split("\0")
    for name in filter(None, names):
        src, out = os.path.join(repo, name), os.path.join(dest, name)
        if not os.path.lexists(src):  # tracked but deleted on disk
            continue
        os.makedirs(os.path.dirname(out), exist_ok=True)
        shutil.copy2(src, out, follow_symlinks=False)


def catalog_record(payload: dict | None) -> dict:
    """``bench.py``'s full payload as a leg record: each query's min-of-3
    seconds is a metric, and a failed query (or no payload) fails the
    leg."""
    if payload is None:
        return {"correct": False, "failed": -1, "metrics": {}, "rows": {}}
    failed = payload["failed"]
    return {
        "correct": not failed,
        "failed": len(failed),
        "metrics": {q: {"value": s, "unit": "s"}
                    for q, s in payload["queries"].items() if s is not None},
        "rows": payload["rows"],
    }


def pair_correct(pair: dict) -> bool:
    """Both legs passed their checks and, where the legs report result
    row counts (the catalog), the counts agree."""
    return (all(pair[leg]["correct"] and pair[leg]["failed"] == 0
                for leg in LEGS)
            and pair["base"].get("rows") == pair["change"].get("rows"))


def run_catalog_leg(tree: str) -> dict:
    """One ``bench.py`` run in ``tree``, read back from the payload it
    writes there."""
    detail = os.path.join(tree, "BENCH_LOCAL.json")
    if os.path.exists(detail):  # the snapshot's copy is a past run's
        os.remove(detail)
    proc = subprocess.run([sys.executable, "bench.py"], cwd=tree,
                          capture_output=True, text=True)
    try:
        with open(detail) as f:
            return catalog_record(json.load(f))
    except (OSError, json.JSONDecodeError):
        sys.stderr.write(proc.stderr[-2000:])
        return catalog_record(None)


def run_leg(tree: str, workload: str, seed: int, seconds: float,
            trace: int) -> dict:
    """One benchmark run in ``tree``; its final JSON line, or a failed
    record when the run printed none."""
    if workload == "catalog":
        return run_catalog_leg(tree)
    proc = subprocess.run(
        [sys.executable, "e2ebench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=tree, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(proc.stderr[-2000:])
        return {"correct": False, "failed": -1, "metrics": {}}


def benchmark() -> tuple[float, dict[str, str]]:
    """BENCHMARK.json's run length and, per metric, which direction is
    better."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"]
              for m in bench["end_to_end"] + bench["per_layer"]}
    return bench["run_seconds"], better


def summarize(pairs: list[dict], better: dict[str, str]) -> list[str]:
    """Per metric: each side's median and quartiles, the pairs the change
    won and whether the gain rule holds."""
    names = sorted(set().union(
        *(p[leg]["metrics"] for p in pairs for leg in LEGS)))
    rows = [f"{'metric':36s} {'side':6s} {'q1':>10s} {'median':>10s} "
            f"{'q3':>10s}  won  gain"]
    for name in names:
        vals = {leg: [p[leg]["metrics"][name]["value"] for p in pairs
                      if name in p[leg]["metrics"]] for leg in LEGS}
        if not all(vals.values()):
            continue
        sign = -1 if better.get(name, "lower") == "lower" else 1
        won = sum(
            sign * (p["change"]["metrics"][name]["value"]
                    - p["base"]["metrics"][name]["value"]) > 0
            for p in pairs
            if all(name in p[leg]["metrics"] for leg in LEGS)
        )
        base_iqr = quantile(vals["base"], 0.75) - quantile(vals["base"], 0.25)
        gain = (won >= 0.9 * len(pairs)
                and sign * (median(vals["change"]) - median(vals["base"]))
                > base_iqr)
        for leg in LEGS:
            v = vals[leg]
            tail = (f"  {won:2d}/{len(pairs)}  {'yes' if gain else 'no'}"
                    if leg == "change" else "")
            rows.append(f"{name:36s} {leg:6s} {quantile(v, 0.25):10.4g} "
                        f"{median(v):10.4g} {quantile(v, 0.75):10.4g}{tail}")
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True,
                    help="one pair per seed: '11-20' or '1,5,9'")
    ap.add_argument("--base", default="HEAD", help="git revision")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", help="write every run's record here")
    args = ap.parse_args(argv)
    seconds, better = benchmark()

    catalog = args.workload == "catalog"
    trees = {leg: tempfile.mkdtemp(prefix=f"ab_{leg}_") for leg in LEGS}
    pairs = []
    try:
        export_revision(args.base, trees["base"])
        export_worktree(trees["change"])
        for i, seed in enumerate(_seeds(args.seeds)):
            order = LEGS if i % 2 == 0 else LEGS[::-1]
            pair = {"seed": seed, "first": order[0]}
            for leg in order:
                pair[leg] = run_leg(trees[leg], args.workload, seed,
                                    seconds, args.trace)
            pair["correct"] = pair_correct(pair)
            pairs.append(pair)
            rows_equal = pair["base"].get("rows") == pair["change"].get("rows")
            print(f"# pair {i + 1} seed={seed} first={order[0]} "
                  + " ".join(
                      f"{leg}:correct={pair[leg]['correct']},"
                      f"failed={pair[leg]['failed']}" for leg in LEGS)
                  + (f" rows_equal={rows_equal}" if catalog else ""),
                  flush=True)
            for name in sorted(pair["base"]["metrics"]):
                b = pair["base"]["metrics"][name]["value"]
                c = pair["change"]["metrics"].get(name, {}).get("value")
                print(f"#   {name:36s} base={b:<12.6g} change="
                      + ("-" if c is None else f"{c:.6g}"))
    finally:
        for tree in trees.values():
            shutil.rmtree(tree, ignore_errors=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "base": args.base,
                       "seconds": seconds, "trace": args.trace,
                       "pairs": pairs}, f, indent=1)
    print("\n".join(summarize(pairs, better)))
    ok = all(p["correct"] for p in pairs)
    print("# every pair correct (both legs correct with 0 failed"
          + (", equal rows" if catalog else "") + f"): {ok}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
