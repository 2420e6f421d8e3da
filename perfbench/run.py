"""The repo benchmark: one workload per call, each in fresh-JVM children.

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones (and the tracing overhead). The last line
of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``;
the lines before it list every metric with its sample count.

Launch environment (pinned here, whatever the caller's shell holds):
``SPARK_GRAFT_CPUS`` = the CPUs this process may run on, so the session is
``local[N]``; ``SPARK_DRIVER_MEM`` below physical RAM; ``PYTHONPATH`` at the
repository, which the Python workers need to import the package; and
``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM temp dir inside a per-run
directory under ``.perfbench/run-<pid>`` that is removed on exit. Inputs
are generated from ``--seed`` and cached under ``.perfbench/cache``; their
generation counts in no metric.

Per call, one workload child: it starts a fresh JVM (its set-up is the
``setup_s`` sample), runs the timed loop, then the output checks. With
``--trace 0`` the parent also samples the child's process tree (driver,
JVM, Python workers) from /proc and prints its peak RSS, ungated. With
``--trace 1`` the loop runs under spans, the layer probes follow, the
per-layer metrics are printed and the spans are written to
``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = {"crawl_extract": "crawl", "crawl_curate": "crawl",
             "corpus_dedup": "dedup"}
DEADLINE_S = 170.0

END_TO_END = [  # (name, unit)
    ("setup_s", "s"), ("docs_per_s", "docs/s"), ("batch_s_p50", "s"),
    ("compact_s", "s"), ("read_s", "s"), ("bytes_per_input_byte", "B/B"),
]
PER_LAYER_UNITS = {
    "kernel.htmlx.ms_per_doc": "ms", "kernel.chunker.ms_per_doc": "ms",
    "operators.extract.stage_s": "s", "operators.extract.useful_share": "share",
    "plans.pipeline.resume_s": "s", "plans.pipeline.jobs": "count",
    "plans.pipeline.tasks": "count", "plans.pipeline.failed_tasks": "count",
    "plans.pipeline.files_written": "count",
    "plans.pipeline.bytes_written": "bytes",
    "plans.curate.flag_s": "s",
    "operators.dedup.exact_s": "s", "operators.dedup.lsh_s": "s",
    "operators.dedup.verify_s": "s", "operators.dedup.components_s": "s",
    "operators.dedup.canonical_s": "s", "operators.dedup.dedup_corpus_s": "s",
    "operators.dedup.candidates": "count", "operators.dedup.verified": "count",
    "operators.dedup.verify_yield": "share",
    "streaming.minhash.store_files": "count",
    "streaming.minhash.store_bytes": "bytes",
    "streaming.minhash.store_rows": "count",
    "streaming.minhash.admit_s": "s",
    "streaming.minhash.admit_jobs": "count",
    "streaming.minhash.admit_tasks": "count",
    "streaming.minhash.job_floor_share": "share",
    "plans.maintenance.files_before": "count",
    "plans.maintenance.files_after": "count",
    "plans.maintenance.bytes_rewritten": "bytes",
    "trace.overhead_s": "s",
}


def sizes(kind: str, seconds: int, tiny: bool):
    """Input size for a run of about `seconds` of measured work. The work
    is a pure function of `seconds`, never of how fast the program runs,
    so two commits always do the same work."""
    from perfbench.inputs import CrawlSize, DedupSize

    if kind == "crawl":
        if tiny:
            return CrawlSize(batches=2, pages_per_batch=60, sample=16)
        return CrawlSize(batches=max(2, round(seconds * 0.3)),
                         pages_per_batch=600)
    if tiny:
        return DedupSize(base_docs=200, increments=2, increment_docs=80)
    # why these sizes: perfbench/README.md, "Dedup traffic"
    return DedupSize(base_docs=1000, increments=max(2, round(seconds / 5)),
                     increment_docs=500)


def launcher_env(run_dir: str) -> dict:
    env = dict(os.environ)
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    old = env.get("PYTHONPATH")
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # the session factory defaults to 24g; the inputs are a few MB
        "SPARK_DRIVER_MEM": "1g",
        "PYTHONPATH": ROOT + (os.pathsep + old if old else ""),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no JVM perf files under /tmp, for the launcher JVM too
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    return env


# --- child processes -------------------------------------------------------------

def _group_pids(pgid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # fields 3 and 5 of stat: state and process group; a zombie
            # has ended and only waits to be reaped
            if int(fields[2]) == pgid and fields[0] != "Z":
                pids.append(int(d))
    return pids


def _group_rss_mb(pgid: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _group_pids(pgid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total / (1 << 20)


def _stop_group(pgid: int) -> None:
    """Stop every process the child started and wait until each has
    ended (the JVM and the Python workers share the child's group)."""
    for sig, wait in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        end = time.time() + wait
        while _group_pids(pgid) and time.time() < end:
            time.sleep(0.05)
        if not _group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
    end = time.time() + 10.0
    while _group_pids(pgid) and time.time() < end:
        time.sleep(0.05)


def run_child(env: dict, args: list[str], result: str, deadline: float,
              sample_rss: bool = False) -> tuple[dict | None, float]:
    """Run one child to completion; return its result and peak RSS (MB)."""
    t0 = time.time()
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.child", "--t0", repr(t0),
         "--result", result, *args],
        cwd=ROOT, env=env, start_new_session=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)
    peak = [0.0]
    done = threading.Event()

    def sampler():
        while not done.is_set():
            peak[0] = max(peak[0], _group_rss_mb(proc.pid))
            done.wait(0.1)

    th = threading.Thread(target=sampler, daemon=True)
    if sample_rss:
        th.start()
    err = b""
    try:
        _, err = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        err = b"child timed out"
    finally:
        done.set()
        if sample_rss:
            th.join()
        _stop_group(proc.pid)
    print(f"perfbench: child {args[:2]} took {time.time() - t0:.1f} s",
          file=sys.stderr)
    if proc.returncode != 0 or not os.path.exists(result):
        sys.stderr.write(err.decode(errors="replace")[-4000:])
        return None, peak[0]
    with open(result) as f:
        return json.load(f), peak[0]


# --- metrics -----------------------------------------------------------------------

def tail_percentile(n: int) -> str:
    """The highest percentile that has at least ten samples beyond it."""
    if n < 11:
        return "none (n<11)"
    p = math.floor(100 * (1 - 10 / n))
    return f"p{p}"


def _med(samples: list[float]) -> tuple[float, int, list[float]]:
    return (statistics.median(samples) if samples else 0.0, len(samples),
            samples)


def end_to_end(r: dict) -> dict:
    """(value, sample count, samples) per end-to-end metric."""
    ingest = r.get("dedup_s", 0.0) + sum(r["batch_s"])
    return {
        "setup_s": _med([r["setup_s"]]),
        "docs_per_s": _med([r["docs"] / ingest] if ingest else []),
        "batch_s_p50": _med(r["batch_s"]),
        "compact_s": _med(r["compact_s"]),
        "read_s": _med(r["read_s"]),
        "bytes_per_input_byte": _med([r["bytes_on_disk"] / r["input_bytes"]]),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test knobs
    ap.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds through the finally blocks that stop the children
    # and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "rag_pdf_parser_spark",
                                       "__init__.py")):
        print("perfbench: rag_pdf_parser_spark/ not found next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2

    from perfbench.inputs import build_crawl, build_dedup

    state = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        deadline = time.time() + DEADLINE_S
        kind = WORKLOADS[args.workload]
        size = sizes(kind, args.seconds, args.tiny)
        cache = os.path.join(state, "cache")
        meta = (build_crawl if kind == "crawl" else build_dedup)(
            cache, args.seed, size)
        meta_path = os.path.join(run_dir, "input.json")
        with open(meta_path, "w") as f:
            json.dump(meta, f)
        env = launcher_env(run_dir)

        def workload(trace: int, tag: str, rss: bool = False):
            wd = os.path.join(run_dir, tag)
            os.makedirs(wd)
            try:
                return run_child(env, [
                    "--workload", args.workload,
                    "--meta", meta_path, "--workdir", wd, "--seed",
                    str(args.seed), "--trace", str(trace),
                    *(["--corrupt"] if args.corrupt else [])],
                    os.path.join(run_dir, f"{tag}.json"), deadline, rss)
            finally:
                shutil.rmtree(wd, ignore_errors=True)

        if args.trace == 0:
            r, peak = workload(0, "workload", rss=True)
            if r is None:
                return 1
            vals = end_to_end(r)
            # printed, not a metric: over ten seeds it spread wider than
            # any bound it could have
            print(f"# peak_rss_mb {peak:.1f} MB (process group, not gated)")
            results = [r]
            units = dict(END_TO_END)
        else:
            traced, _ = workload(1, "traced")
            if traced is None:
                return 1
            layers = traced["layers"]
            missing = [k for k in PER_LAYER_UNITS if k not in layers]
            if missing:
                print(f"perfbench: no value for {missing}; "
                      f"{traced['errors']}", file=sys.stderr)
                return 1
            vals = {k: (layers[k], 1, []) for k in PER_LAYER_UNITS}
            print(f"# operators.dedup.span_sum_share "
                  f"{layers['operators.dedup.span_sum_share']:.4f} (the five "
                  "stage spans over one timed dedup_corpus call)")
            results = [traced]
            units = PER_LAYER_UNITS
            out_dir = os.path.join(state, "out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(
                    out_dir, f"trace-{args.workload}-s{args.seed}.json"),
                    "w") as f:
                json.dump({"layers": layers, "spans": traced["spans"]}, f,
                          indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    for r in results:
        for e in r["errors"]:
            print(f"FAILED {e}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} docs={results[0]['docs']} "
          f"fail_share={failed / attempted:.4f} ({failed}/{attempted})")
    for name, (v, n, raw) in vals.items():
        print(f"# {name:40s} {v:16.6f} {units[name]:7s} n={n} "
              f"tail={tail_percentile(n)}"
              + (f" samples={[round(x, 4) for x in raw]}" if n > 1 else ""))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, (v, _, _) in vals.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
