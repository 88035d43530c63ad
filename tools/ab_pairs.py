#!/usr/bin/env python3
"""Alternating A/B pairs of the repository benchmark between two checkouts.

    python3 tools/ab_pairs.py <parent-checkout> <change-checkout> <workload> <seed>... \
        [--seconds 11] [--solo 3] [--out FILE]

For each seed it runs `perfbench/run.py --trace 0` once in each checkout,
one run at a time: the parent first on even-numbered pairs, the change
first on odd ones, so a drift in machine state does not favour one side.
With `--solo N` it then runs the first seed N times back to back in each
checkout and keeps every run and the minimum. perfbench gives every run a
fresh `java.io.tmpdir`, so durable artifacts are cold in every run.

The JSON artifact (stdout, or `--out`) holds every run's end-to-end
metrics and, per metric, each side's median and interquartile range, the
median of the per-pair change/parent ratios, and the pairs the change
won. Build both checkouts once beforehand (any perfbench run does), or
the first pair pays for the build.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

METRICS = ("setup_s", "total_s", "op_p50_s", "op_p95_s")


def run_once(checkout, workload, seed, seconds):
    """One perfbench run in `checkout`; its end-to-end metrics."""
    t0 = time.time()
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        return {"error": f"exit code {r.returncode}", "wall_s": round(time.time() - t0, 1)}
    d = json.loads(lines[-1])
    out = {"correct": d["correct"], "failed": d["failed"]}
    out.update({m: round(d["metrics"][m]["value"], 3) for m in METRICS if m in d["metrics"]})
    return out


def quartiles(xs):
    """(median, interquartile range) of `xs`."""
    if len(xs) < 2:
        return (xs[0] if xs else None), 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return statistics.median(xs), q[2] - q[0]


def summarize(pairs):
    ok = [p for p in pairs if "error" not in p["parent"] and "error" not in p["change"]]
    out = {}
    for m in METRICS:
        a = [p["parent"][m] for p in ok if m in p["parent"]]
        b = [p["change"][m] for p in ok if m in p["change"]]
        if not a or len(a) != len(b):
            continue
        (pm, piqr), (cm, ciqr) = quartiles(a), quartiles(b)
        out[m] = {"parent_median": round(pm, 3), "parent_iqr": round(piqr, 3),
                  "change_median": round(cm, 3), "change_iqr": round(ciqr, 3),
                  "median_pair_ratio": round(statistics.median(y / x for x, y in zip(a, b)), 3),
                  "change_wins": f"{sum(y < x for x, y in zip(a, b))}/{len(a)}"}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("workload")
    ap.add_argument("seeds", nargs="+", type=int)
    ap.add_argument("--seconds", type=float, default=11)
    ap.add_argument("--solo", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    sides = {"parent": str(Path(a.parent).resolve()), "change": str(Path(a.change).resolve())}

    pairs = []
    for i, seed in enumerate(a.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"workload": a.workload, "seed": seed, "order": f"{order[0]} first"}
        for side in order:
            pair[side] = run_once(sides[side], a.workload, seed, a.seconds)
            print(f"[ab] seed {seed} {side}: {pair[side]}", file=sys.stderr)
        pairs.append(pair)

    result = {
        "workload": a.workload,
        "settings": f"perfbench/run.py --seconds {a.seconds:g} --trace 0, one run at a time, "
                    f"each a fresh JVM",
        "durable_artifacts": "cold: perfbench gives every run a fresh java.io.tmpdir",
        "pairs": pairs,
        "summary": summarize(pairs),
    }
    if a.solo:
        solo = {}
        for side in ("parent", "change"):
            runs = [run_once(sides[side], a.workload, a.seeds[0], a.seconds)
                    for _ in range(a.solo)]
            totals = [r["total_s"] for r in runs if "total_s" in r]
            solo[side] = {"runs": runs, "min_total_s": min(totals) if totals else None}
            print(f"[ab] solo {side}: {solo[side]['min_total_s']}", file=sys.stderr)
        result[f"solo_min_of_{a.solo}_seed{a.seeds[0]}"] = solo

    text = json.dumps(result, indent=1)
    if a.out:
        Path(a.out).write_text(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
