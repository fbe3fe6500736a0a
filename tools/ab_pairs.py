#!/usr/bin/env python3
"""Alternating A/B pairs of the end-to-end benchmark over two checkouts.

    python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload W --pairs N --seed0 S

Pair i runs `perfbench/run.py --workload W --seed S+i --seconds 1
--trace 0` once in each checkout, the parent first on even pairs and
the change first on odd ones, so drift of the host over the whole run
falls on both sides alike. Each run's result is its last JSON line.

Prints, for every end-to-end metric of the change's BENCHMARK.json,
each side's median and quartiles (Q1/Q3, inclusive method) and how
many pairs the change won (ties count for neither side). Then one
verdict line per metric:

    <metric>: gain rule: PASS|FAIL (...); bound: ok|WORSE (...)

`gain rule` passes when the change won at least 9/10 of the pairs run
and the median gap (in the metric's better direction) exceeds the
parent's IQR; `bound` is WORSE when the change's median is worse than
the parent's by more than the metric's `bound` (a fraction of the
parent's median). Then, per pair, the job count of every timed rep
and whether the two output digests match. Exits non-zero if any run
failed or was not `correct`.

Nothing is written inside either checkout beyond what run.py itself
writes (`.bench_build/`, `.bench_out/`); this script only prints.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run(checkout: Path, workload: str, seed: int) -> dict:
    """One untraced benchmark run; not correct, with no metrics, when it did not finish."""
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = res.stdout.splitlines()
    jsons = [l for l in lines if l.startswith("{")]
    if res.returncode != 0 or not jsons:
        sys.stderr.write(f"{checkout} seed {seed}: exit {res.returncode}\n"
                         + res.stderr[-2000:])
        return {"correct": False, "metrics": {}, "jobs": [], "digest": None}
    out = json.loads(jsons[-1])
    reps = [json.loads(l.strip()[len("rep "):])
            for l in lines if l.strip().startswith("rep ")]
    digest = next((l.split(":", 1)[1].strip()
                   for l in lines if l.strip().startswith("output digest:")),
                  None)
    return {"correct": out["correct"],
            "metrics": {k: v["value"] for k, v in out["metrics"].items()},
            "jobs": [r.get("jobs") for r in reps], "digest": digest}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return statistics.quantiles(xs, n=4, method="inclusive")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    a = ap.parse_args()

    manifest = json.loads((a.change / "BENCHMARK.json").read_text())
    metrics = [(m["name"], m["unit"], m["better"], m["bound"])
               for m in manifest["end_to_end"]]
    sides = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    pairs = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {side: run(sides[side], a.workload, seed) for side in order}
        pair["seed"] = seed
        pairs.append(pair)
        print(f"pair {i + 1}/{a.pairs} seed {seed} ({order[0]} first): "
              + "  ".join(f"{s} wall_s={pair[s]['metrics'].get('wall_s')} "
                          f"jobs={pair[s]['jobs']} correct={pair[s]['correct']}"
                          for s in ("parent", "change")), flush=True)

    print(f"\nworkload {a.workload}, {a.pairs} pairs, seeds "
          f"{a.seed0}..{a.seed0 + a.pairs - 1}")
    print(f"{'metric':<14}{'parent Q1/med/Q3':>30}{'change Q1/med/Q3':>30}"
          f"{'change wins':>13}")
    verdicts = []
    for name, unit, better, bound in metrics:
        done = [p for p in pairs
                if name in p["parent"]["metrics"] and name in p["change"]["metrics"]]
        if not done:
            continue
        par = [p["parent"]["metrics"][name] for p in done]
        chg = [p["change"]["metrics"][name] for p in done]
        sign = 1 if better == "lower" else -1
        wins = sum(1 for x, y in zip(par, chg) if sign * (y - x) < 0)
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
        print(f"{name + ' (' + unit + ')':<14}{fmt(quartiles(par)):>30}"
              f"{fmt(quartiles(chg)):>30}{f'{wins}/{len(done)}':>13}")
        pq1, pmed, pq3 = quartiles(par)
        cmed = statistics.median(chg)
        gap = sign * (pmed - cmed)          # > 0: the change is better
        delta = (cmed - pmed) / pmed if pmed else 0.0
        gain = 10 * wins >= 9 * len(done) and gap > pq3 - pq1
        verdicts.append(
            f"{name}: gain rule: {'PASS' if gain else 'FAIL'} ({wins}/{len(done)} "
            f"wins, median gap {gap:.4g} vs parent IQR {pq3 - pq1:.4g}); "
            f"bound: {'WORSE' if sign * delta > bound else 'ok'} "
            f"(median {delta:+.1%} vs parent, worse past {sign * bound:+.0%})")
    print()
    for v in verdicts:
        print(v)
    print("\nper pair: seed, jobs per timed rep (parent | change), digests equal")
    for p in pairs:
        same = (p["parent"]["digest"] is not None
                and p["parent"]["digest"] == p["change"]["digest"])
        print(f"  seed {p['seed']}: {p['parent']['jobs']} | "
              f"{p['change']['jobs']}  digest {'same' if same else 'DIFFERENT'}")

    bad = [(p["seed"], s) for p in pairs for s in ("parent", "change")
           if not p[s]["correct"]]
    if bad:
        print(f"not correct: {bad}")
        sys.exit(1)


if __name__ == "__main__":
    main()
