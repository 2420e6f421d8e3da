"""Self-test of the benchmark at a tiny input size (about ten minutes).

    python3 perfbench/selftest.py [workload ...]

For each workload: an untraced run must pass its checks and print every
end-to-end metric with its unit; a traced run must print every per-layer
metric with its unit; a run that corrupts one committed output after the
timed loop must fail its checks and report a failure. Last, the benchmark
must refuse to run, with a non-zero exit and no result, from a directory
that holds only BENCHMARK.json and the benchmark's own files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import END_TO_END, PER_LAYER_UNITS, WORKLOADS  # noqa: E402


def bench(*args: str, cwd: str = ROOT) -> tuple[int, dict | None, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stdout + p.stderr[-3000:]


def expect(cond: bool, what: str, log: str) -> None:
    if not cond:
        sys.exit(f"selftest FAILED: {what}\n{log}")
    print(f"ok   {what}", flush=True)


def check_metrics(result: dict, units: dict, what: str, log: str) -> None:
    got = result["metrics"]
    expect(set(got) == set(units), f"{what}: every metric is emitted", log)
    expect(all(got[k]["unit"] == u and isinstance(got[k]["value"], (int, float))
               for k, u in units.items()), f"{what}: every unit is right", log)


def main() -> None:
    names = sys.argv[1:] or sorted(WORKLOADS)
    for w in names:
        base = ("--workload", w, "--seed", "1", "--tiny")
        rc, r, log = bench(*base, "--trace", "0")
        expect(rc == 0 and r is not None, f"{w}: untraced run exits 0", log)
        expect(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
               f"{w}: untraced run passes its checks", log)
        check_metrics(r, dict(END_TO_END), f"{w} trace 0", log)

        rc, r, log = bench(*base, "--trace", "1")
        expect(rc == 0 and r is not None and r["correct"],
               f"{w}: traced run exits 0 and passes", log)
        check_metrics(r, PER_LAYER_UNITS, f"{w} trace 1", log)

        rc, r, log = bench(*base, "--trace", "0", "--corrupt")
        expect(rc == 0 and r is not None and not r["correct"]
               and r["failed"] > 0,
               f"{w}: a corrupted committed output fails a check "
               f"(fail_share {r and r['failed']}/{r and r['attempted']})", log)

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"),
                        os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, r, log = bench("--workload", names[0], "--seed", "1", cwd=bare)
        expect(rc != 0 and r is None,
               "without the program the benchmark exits non-zero", log)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
