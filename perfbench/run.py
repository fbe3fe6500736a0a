#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (perfbench/build.py),
runs one workload in a fresh JVM at local[nproc], and prints the
result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. Everything the
run writes lands under .bench_build/ and .bench_out/; the run fails
its own check if anything else in the tree changed. See
perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_out"
SKIP = {".bench_build", ".bench_out", ".git"}
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def tree_snapshot() -> dict:
    """(size, mtime) of every file outside the benchmark's own output."""
    snap = {}
    for dirpath, dirnames, filenames in os.walk(ROOT):
        rel = Path(dirpath).relative_to(ROOT)
        if rel == Path("."):
            dirnames[:] = [d for d in dirnames if d not in SKIP]
        for f in filenames:
            st = os.lstat(os.path.join(dirpath, f))
            snap[str(rel / f)] = (st.st_size, st.st_mtime_ns)
    return snap


def git_status():
    if not (ROOT / ".git").exists() or shutil.which("git") is None:
        return None
    res = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                         capture_output=True, text=True)
    return res.stdout if res.returncode == 0 else None


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    manifest = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in manifest["workloads"]}:
        fail(f"unknown workload {a.workload}")
    want = manifest["per_layer" if a.trace else "end_to_end"]

    before, git_before = tree_snapshot(), git_status()
    build = subprocess.run([sys.executable, "-B", str(ROOT / "perfbench" / "build.py")],
                           cwd=ROOT, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    if build.returncode != 0:
        fail("build failed\n" + build.stdout[-4000:] + build.stderr[-4000:])
    cp = build.stdout.strip().splitlines()[-1]

    work = OUT / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log = work / "jvm.log"
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work)]
    # flush earlier runs' dirty pages so their write-back does not
    # land inside this run's timed rep
    os.sync()
    with open(log, "w") as err:
        try:
            res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                 stderr=err, text=True, timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"workload timed out; log in {log}")
    lines = [l for l in res.stdout.splitlines() if l.startswith("{")]
    if res.returncode != 0 or not lines:
        fail(f"workload exited with {res.returncode}; log in {log}")
    out = json.loads(lines[-1])
    for d in ("in", "out", "local", "warehouse", "tmp"):
        shutil.rmtree(work / d, ignore_errors=True)

    unchanged = tree_snapshot() == before and git_status() == git_before
    metrics = out["metrics"]
    names = [m["name"] for m in want]
    if sorted(metrics) != sorted(names) or any(
            metrics[m["name"]]["unit"] != m["unit"] for m in want):
        fail("metric names or units differ from BENCHMARK.json", 3)

    attempted, failed = out["attempted"], out["failed"]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{len(out['reps'])} timed reps, inputs generated in {out['gen_s']:.2f} s")
    for r in out["reps"]:
        print("  rep " + json.dumps(r, sort_keys=True))
    for m in names:
        print(f"  {m} = {metrics[m]['value']:.6g} {metrics[m]['unit']}")
    print(f"  failed_frac = {failed / max(attempted, 1):.6g} "
          f"({failed} of {attempted} operations)")
    for f in out["failures"]:
        print(f"  FAILED {f}")
    print(f"  tree unchanged: {unchanged}")
    print(f"  output digest: {out['digest']}")
    print(json.dumps({
        "correct": failed == 0 and unchanged,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: metrics[m] for m in names},
    }))


if __name__ == "__main__":
    main()
