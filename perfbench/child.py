"""One fresh-JVM child of `perfbench/run.py`: runs one workload.

Set-up is timed from the parent's spawn instant (passed as ``--t0``, wall
clock) to the end of the warm-up job, which starts the JVM, the session
and one Python worker per core. The child writes its result as one JSON
file and exits without the orderly session shutdown; the parent waits for
the JVM and the Python workers to end.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def _identity(batches):
    yield from batches


def warm_up(spark, cores: int) -> None:
    from pyspark.sql import functions as F

    spark.range(0, 1 << 16, numPartitions=cores) \
        .mapInArrow(_identity, "id long").agg(F.sum("id")).collect()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--workload")
    ap.add_argument("--meta")
    ap.add_argument("--workdir")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    from rag_pdf_parser_spark.session import get_spark

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_spark()
    warm_up(spark, cores)
    out: dict = {"setup_s": time.time() - args.t0}
    out.update(_workload(spark, args, cores))
    with open(args.result, "w") as f:
        json.dump(out, f)
    # everything the parent needs is written: skip the orderly shutdown.
    # The JVM exits when this process does, and the parent waits for it
    # and for the Python workers.
    os._exit(0)


def _workload(spark, args, cores: int) -> dict:
    from perfbench.tracing import Tracer
    from perfbench.workloads import (
        Ops,
        check_span_sum,
        corpus_dedup,
        crawl,
        layer_probes,
    )

    with open(args.meta) as f:
        meta = json.load(f)
    tracer = Tracer(spark, bool(args.trace))
    ops = Ops()
    if args.workload == "corpus_dedup":
        kind = "dedup"
        r = corpus_dedup(spark, meta, tracer, ops, args.workdir, args.corrupt)
    else:
        kind = "crawl"
        r = crawl(spark, meta, tracer, ops, args.workdir,
                  args.workload == "crawl_curate", args.corrupt)
    if tracer.enabled:
        # the bookkeeping the traced loop paid, before the probes add spans
        r["layers"]["trace.overhead_s"] = tracer.overhead_s
        ok, probes = ops.run("layer probes", lambda: layer_probes(
            spark, kind, meta, tracer, ops, args.workdir, cores, args.seed))
        if ok:
            r["layers"].update(probes)
            ops.check("dedup stage spans", lambda: check_span_sum(probes))
        r["spans"] = tracer.spans
    r.update(attempted=ops.attempted, failed=ops.failed, errors=ops.errors)
    return r


if __name__ == "__main__":
    main()
