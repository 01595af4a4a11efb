"""Interleaved A/B of the benchmark: a parent tree against the working
tree, in pairs that run both sides on one seed.

    python3 tools/ab_pairs.py --parent HEAD~1 --out AB_NAME.json \\
        [--workload fgac_consumer_ingest --workload analytics_suite] \\
        [--pairs 10] [--seed0 701] [--what "…"]

The parent commit is exported with ``git archive`` into a temporary
directory, and the change side, this checkout's tracked and untracked
(not ignored) files as they are at the start, is copied into another:
both sides run from the same kind of fresh tree, with no build or run
leftovers of the checkout. Each pair runs
``python3 perfbench/run.py --workload W --seed S --seconds N`` (N is
BENCHMARK.json's ``run_seconds``) once per side, alternating which side
goes first, one run at a time. The output holds, per workload, every
run (exit code, correctness, the end-to-end metrics, nproc, loadavg at
start, steal share, units run, per-operation CPU) and a summary per
BENCHMARK.json end-to-end metric: median and quartiles per side, the
change's wins over the pairs, the parent's IQR, the ratio of the
medians and whether it stays within the metric's ``bound``. The summary
flags pairs whose sides ran a different number of units, and pairs
whose ``setup_s`` moved by more than ``DRIFT``× from the first pair on
both sides (the box's throughput changed under the run).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402

DRIFT = 1.5


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def export_tree(rev: str, dest: str) -> str:
    """``rev``'s committed files under ``dest``; returns its commit id."""
    commit = subprocess.run(
        ["git", "rev-parse", "--short", rev], cwd=ROOT, check=True, capture_output=True, text=True
    ).stdout.strip()
    archive = subprocess.Popen(["git", "archive", commit], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {commit} failed")
    return commit


def export_worktree(dest: str) -> None:
    """This checkout's tracked and untracked, not ignored, files under
    ``dest``, as they are now."""
    listed = subprocess.run(
        ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.split("\0")
    for rel in filter(None, listed):
        src = os.path.join(ROOT, rel)
        if os.path.isfile(src):  # a deleted tracked file is still listed
            os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, rel))


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run in ``tree``: its result line and artifact."""
    results = os.path.join(tree, ".perfbench", "results")
    before = set(glob.glob(os.path.join(results, "*.json")))
    load = _loadavg()
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True,
    )
    run = {"workload": workload, "seed": seed, "exit": proc.returncode,
           "wall_s": round(time.perf_counter() - t0, 1), "loadavg_start": load}
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        run.update(correct=False, error=proc.stderr[-2000:])
        return run
    result = json.loads(lines[-1])
    run.update(
        correct=result["correct"],
        attempted=result["attempted"],
        failed=result["failed"],
        **{k: round(v["value"], 3) for k, v in result["metrics"].items()},
    )
    new = sorted(set(glob.glob(os.path.join(results, "*.json"))) - before, key=os.path.getmtime)
    if new:
        with open(new[-1]) as f:
            artifact = json.load(f)
        run.update(
            nproc=artifact["box"]["nproc"],
            steal_frac=artifact["box"]["steal_frac"],
            units_n=artifact["units"]["n"],
            work_cpu_ms={
                k.split(":", 1)[1]: round(v["p50"], 1)
                for k, v in artifact["ops_cpu"].items()
                if k.startswith("work:")
            },
        )
    return run


def pair_flags(pairs: list[dict]) -> list[dict]:
    """Pairs not comparable as they stand: the sides ran a different
    number of units, or the box drifted — ``setup_s`` moved by more than
    ``DRIFT``× from the first pair's on both sides."""
    flags = []
    first = pairs[0] if pairs else {}
    for p in pairs:
        seed = p["parent"]["seed"]
        units = {s: p[s].get("units_n") for s in ("parent", "change")}
        if units["parent"] != units["change"]:
            flags.append({"seed": seed, "flag": "units_differ", **units})
        moved = {s: p[s]["setup_s"] / first[s]["setup_s"] for s in ("parent", "change")}
        if all(m > DRIFT for m in moved.values()) or all(m < 1 / DRIFT for m in moved.values()):
            flags.append({"seed": seed, "flag": "box_drift",
                          **{f"setup_x_{s}": round(m, 2) for s, m in moved.items()}})
    return flags


def summarize(runs: list[dict], metrics: list[dict]) -> dict:
    """Per end-to-end metric: both sides' median and quartiles, wins of
    the change over the pairs, the parent's IQR, the ratio and delta of
    the medians, and whether the ratio stays within the bound; then the
    flagged pairs (pair_flags)."""
    by_seed: dict[int, dict] = {}
    for r in runs:
        by_seed.setdefault(r["seed"], {})[r["side"]] = r
    pairs = [p for p in by_seed.values() if all(p.get(s, {}).get("correct") for s in ("parent", "change"))]
    out: dict = {}
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        side = {s: [p[s][name] for p in pairs] for s in ("parent", "change")}
        q = {
            s: {"median": round(stats.median(xs), 3), "q1": round(stats.percentile(xs, 25), 3),
                "q3": round(stats.percentile(xs, 75), 3)}
            for s, xs in side.items()
        }
        par, chg = q["parent"]["median"], q["change"]["median"]
        ratio = chg / par if par else float("nan")
        wins = sum((c < p) if lower else (c > p) for p, c in zip(side["parent"], side["change"]))
        out[name] = {
            **q,
            "pairs": len(pairs),
            "wins_change": wins,
            "median_ratio": round(ratio, 3),
            "parent_iqr": round(q["parent"]["q3"] - q["parent"]["q1"], 3),
            "median_delta": round(chg - par, 3),
            "bound": m["bound"],
            "within_bound": ratio <= 1 + m["bound"] if lower else ratio >= 1 - m["bound"],
        }
    out["flags"] = pair_flags(pairs)
    out["all_correct"] = all(r.get("correct") for r in runs)
    for s in ("parent", "change"):
        mine = [r for r in runs if r["side"] == s]
        out[f"failed_share_{s}"] = round(
            sum(r.get("failed", 0) for r in mine) / max(1, sum(r.get("attempted", 0) for r in mine)), 4
        )
    kinds = sorted({k for r in runs for k in r.get("work_cpu_ms", {})})
    out["work_cpu_ms_median_of_runs"] = {
        k: {
            s: stats.median(r["work_cpu_ms"][k] for r in runs if r["side"] == s and k in r.get("work_cpu_ms", {}))
            for s in ("parent", "change")
        }
        for k in kinds
    }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git revision of the parent side")
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=701)
    ap.add_argument("--what", default="")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]

    trees = {s: tempfile.mkdtemp(prefix=f"ab-{s}-") for s in ("parent", "change")}
    try:
        commit = export_tree(args.parent, trees["parent"])
        export_worktree(trees["change"])
        doc = {
            "what": args.what,
            "command": f"python3 perfbench/run.py --workload W --seed S --seconds {bench['run_seconds']:g} --trace 0",
            "box": {"nproc": os.cpu_count()},
            "sides": {"parent": f"commit {commit}", "change": "working tree, copied"},
        }
        for w in workloads:
            runs = []
            for i in range(args.pairs):
                seed = args.seed0 + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    run = run_once(trees[side], w, seed, bench["run_seconds"])
                    run["side"] = side
                    runs.append(run)
                    print(json.dumps({k: run.get(k) for k in ("workload", "seed", "side", "exit", "correct", "setup_s", "op_cpu_ms", "peak_rss_mb")}), flush=True)
            doc[f"{w}_parent_vs_change"] = {
                "seeds": f"{args.seed0}-{args.seed0 + args.pairs - 1}",
                "summary": summarize(runs, bench["end_to_end"]),
                "runs": runs,
            }
            with open(args.out, "w") as f:
                json.dump(doc, f, indent=1)
    finally:
        for tree in trees.values():
            shutil.rmtree(tree, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
