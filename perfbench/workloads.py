"""The benchmark workloads, run inside one fresh-JVM child process each.

Every workload is a closed loop: the next operation starts only when the
previous one has returned, as for a caller that waits on ``run()`` or on an
admit. Operations are timed by the benchmark's own clock; output checks run
after the timed loop. With tracing on, the same loop runs under
`tracing.Tracer` spans, and the layers the loop does not reach are driven
afterwards through their public functions on seeded side inputs (see
``layer_probes``), so every per-layer metric is measured on every
workload.
"""

from __future__ import annotations

import inspect
import json
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench.inputs import CHUNK_CHECK_FIELDS, load_crawl_expected, survivor_digest
from perfbench.tracing import Tracer, file_set

#: crawl batches between two compactions (one round)
BATCHES_PER_ROUND = 2
#: committed reads timed after each compaction; read_s is their median
READS = 6
#: pages of the side inputs the layer probes use
PROBE_PAGES = 500
#: (band, bucket, id) rows the batch LSH store gets per admitted doc
LSH_BANDS = 8
#: how far the five dedup stage spans may sum from the one-call time, as a
#: share of it (the largest bound BENCHMARK.json allows)
SPAN_SUM_BOUND = 0.25
#: trivial one-task jobs timed for the per-job floor of an admit
FLOOR_JOBS = 10
#: manifest codes of pages that are never written to the content sinks
DROP_CODES = {"DUPLICATE", "GOPHER_DROP", "REPETITION_DROP", "MODEL_DROP"}


class Ops:
    """Attempted and failed operations. An exception (LeaseHeldError
    included) or a failed output check counts as one failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, name: str, fn):
        self.attempted += 1
        try:
            return True, fn()
        except Exception as e:  # noqa: BLE001 — every failure is counted
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:800])
            return False, None

    def check(self, name: str, fn) -> None:
        """`fn` returns '' when the output is right, else what is wrong."""
        ok, problem = self.run(name, fn)
        if ok and problem:
            self.failed += 1
            self.errors.append(f"{name}: {problem}"[:800])


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _parquet_rows(path: str) -> int:
    n = 0
    for root, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                n += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return n


# --- crawl_extract / crawl_curate --------------------------------------------------

def crawl(spark, meta: dict, tracer: Tracer, ops: Ops, workdir: str,
          curated: bool, corrupt: bool) -> dict:
    from rag_pdf_parser_spark.plans.maintenance import (
        compact_output,
        compact_seen_hashes,
    )
    from rag_pdf_parser_spark.plans.pipeline import ExtractionPipeline

    out = os.path.join(workdir, "crawl")
    pipe = ExtractionPipeline(spark, out)
    parts = [os.path.join(meta["dir"], p) for p in meta["parts"]]
    batch_s, read_s, docs = [], [], 0
    per_batch = _new_per_batch()

    target = pipe.seen_path if curated else out
    maint_before, maint_after, compact_s = [], [], []
    for b in range(len(parts)):
        pages = spark.read.parquet(*parts[:b + 1])
        ok, r, dt = pipeline_batch(pipe, pages, b, curated, tracer, ops,
                                   per_batch)
        if ok:
            batch_s.append(dt)
            docs += r["docs_processed"]
        if (b + 1) % BATCHES_PER_ROUND and b + 1 < len(parts):
            continue
        # end of a round: maintenance, then the committed reads
        if tracer.enabled:
            maint_before.append(tracer.files(target))
        t0 = time.perf_counter()
        with tracer.span("plans.maintenance.compact"):
            ok, _ = ops.run("compact", (
                lambda: compact_seen_hashes(spark, target)) if curated
                else (lambda: compact_output(spark, out)))
        if ok:
            compact_s.append(time.perf_counter() - t0)
        if tracer.enabled:
            maint_after.append(tracer.files(target))
        for i in range(READS):
            t0 = time.perf_counter()
            with tracer.span("plans.pipeline.read"):
                ok, rows = ops.run(f"read {b}.{i}", lambda: pipe.read_chunks()
                                   .agg(F.count("*").alias("n"),
                                        F.sum("char_count").alias("chars"))
                                   .collect())
            if ok:
                read_s.append(time.perf_counter() - t0)
                last_read = rows[0]

    if corrupt:
        _corrupt_manifest(pipe.manifest_path)
    expected = load_crawl_expected(meta)
    gate_codes = _gate_codes(spark, expected) if curated else {}
    manifest = _read_manifest(pipe.manifest_path)
    ops.check("resume exactness", lambda: _check_resume(manifest, expected))
    ops.check("sample byte identity",
              lambda: _check_sample(pipe, manifest, expected, gate_codes))
    if read_s:
        ops.check("committed read", lambda: _check_read(
            last_read, manifest, expected))

    result = {
        "docs": docs, "batch_s": batch_s, "compact_s": compact_s,
        "read_s": read_s, "bytes_on_disk": sum(file_set(out).values()),
        "input_bytes": meta["input_bytes"],
    }
    if tracer.enabled:
        result["layers"] = {
            **pipeline_layers(tracer, per_batch),
            **_maintenance_layers(maint_before, maint_after),
        }
    return result


def _new_per_batch() -> dict[str, list]:
    return {k: [] for k in ("resume_s", "files_written", "bytes_written")}


def pipeline_batch(pipe, pages, b: int, curated: bool, tracer: Tracer,
                   ops: Ops, per_batch: dict):
    """One timed `run()` batch. With tracing on, the resume probe before
    it and the files it wrote are recorded in `per_batch`."""
    if tracer.enabled:
        with tracer.span("plans.pipeline.resume", batch=b) as sp:
            ops.run(f"resume probe {b}", lambda: pipe.pending(pages).count())
        per_batch["resume_s"].append(sp["s"])
        before = tracer.files(pipe.out_dir)
    t0 = time.perf_counter()
    with tracer.span("plans.pipeline.run", batch=b):
        ok, r = ops.run(f"batch {b}", lambda: pipe.run(
            pages, run_id=f"b{b}", curate=curated, dedupe=curated))
    dt = time.perf_counter() - t0
    if tracer.enabled:
        new = {p: s for p, s in tracer.files(pipe.out_dir).items()
               if p not in before}
        per_batch["files_written"].append(len(new))
        per_batch["bytes_written"].append(sum(new.values()))
    return ok, r, dt


def pipeline_layers(tracer: Tracer, per_batch: dict) -> dict:
    runs = tracer.named("plans.pipeline.run")
    return {
        "plans.pipeline.resume_s": _median(per_batch["resume_s"]),
        "plans.pipeline.jobs": _median([s["jobs"] for s in runs]),
        "plans.pipeline.tasks": _median([s["tasks"] for s in runs]),
        "plans.pipeline.failed_tasks": sum(s["failed_tasks"] for s in runs),
        "plans.pipeline.files_written": _median(per_batch["files_written"]),
        "plans.pipeline.bytes_written": _median(per_batch["bytes_written"]),
    }


def _corrupt_manifest(manifest_path: str) -> None:
    """Self-test hook: commit one manifest file twice, so its urls look
    extracted twice."""
    for root, _, names in os.walk(manifest_path):
        for n in sorted(names):
            if n.endswith(".parquet"):
                shutil.copy(os.path.join(root, n),
                            os.path.join(root, "dup-" + n))
                return


def _read_manifest(manifest_path: str) -> list[dict]:
    return pq.read_table(manifest_path, columns=["url", "failure_code"]) \
        .to_pylist()


def _check_resume(manifest: list[dict], expected: dict) -> str:
    """Every input url is in the manifest exactly once across batches."""
    from collections import Counter

    got = Counter(r["url"] for r in manifest)
    want = {p["url"] for p in expected["pages"]}
    twice = [u for u, c in got.items() if c > 1]
    missing = want - set(got)
    extra = set(got) - want
    if twice or missing or extra:
        return (f"{len(twice)} urls committed more than once, "
                f"{len(missing)} missing, {len(extra)} unknown")
    return ""


def _gate_codes(spark, expected: dict) -> dict[int, str | None]:
    """The first failing curation gate per source text, recomputed with
    each gate's standalone expression (each tokenizes for itself) rather
    than the pipeline's shared tokenize-once pass."""
    from rag_pdf_parser_spark.functions import (
        gopher_features_expr,
        with_quality_model,
        with_repetition_features,
    )

    rows = [(int(k), v) for k, v in expected["group_texts"].items()]
    df = spark.createDataFrame(rows, "src long, text string")
    df = df.withColumn("gopher_keep", gopher_features_expr(
        F.coalesce(F.col("text"), F.lit("")))["gopher_keep"])
    df = with_quality_model(with_repetition_features(df, "text"), "text")
    codes = {}
    for r in df.select("src", "gopher_keep", "repetition_keep",
                       "model_keep").collect():
        codes[r["src"]] = ("GOPHER_DROP" if not r["gopher_keep"] else
                           "REPETITION_DROP" if not r["repetition_keep"] else
                           "MODEL_DROP" if not r["model_keep"] else None)
    return codes


def _expected_codes(expected: dict, gate_codes: dict) -> dict[str, str | None]:
    """Manifest failure code per sampled url. Without curation it is the
    kernel's. With it: extraction failure > first failing gate >
    DUPLICATE, where a page is a duplicate when a gate-passing page with
    the same normalized-text hash came in an earlier batch, or in the same
    batch under a smaller url."""
    pages = {p["url"]: p for p in expected["pages"]}
    by_hash: dict[str, list] = {}
    for p in expected["pages"]:
        if p["norm_hash"] is not None:
            by_hash.setdefault(p["norm_hash"], []).append(p)
    out = {}
    for url, e in expected["sample"].items():
        code = e["failure_code"]
        if code is None and gate_codes:
            code = gate_codes[e["source"]]
            h = pages[url]["norm_hash"]
            me = (pages[url]["batch"], url)
            if code is None and h is not None and any(
                    (p["batch"], p["url"]) < me
                    and gate_codes[p["source"]] is None
                    for p in by_hash[h]):
                code = "DUPLICATE"
        out[url] = code
    return out


def _check_sample(pipe, manifest: list[dict], expected: dict,
                  gate_codes: dict) -> str:
    """For the seeded url sample: the manifest code is the expected one,
    and each committed doc's extracted_text and chunks are byte-identical
    to the kernel's (kernel.htmlx.extract_document, kernel.chunker)."""
    codes = _expected_codes(expected, gate_codes)
    got_codes = {r["url"]: r["failure_code"] for r in manifest}
    bad = [u for u, c in codes.items() if got_codes.get(u, "<absent>") != c]
    if bad:
        u = bad[0]
        return (f"{len(bad)} manifest codes differ, e.g. {u}: "
                f"{got_codes.get(u, '<absent>')!r} != {codes[u]!r}")
    sample = expected["sample"]
    committed = [u for u in sample if codes[u] not in DROP_CODES]
    docs = {r["url"]: r.asDict() for r in pipe.read_docs()
            .where(F.col("url").isin(list(sample)))
            .select("url", "doc_id", "failure_code", "extracted_text")
            .collect()}
    if set(docs) != set(committed):
        return (f"committed sampled docs {sorted(docs)[:3]}... differ from "
                f"the expected {sorted(committed)[:3]}...")
    for u in committed:
        e = sample[u]
        got = docs[u]
        if (got["doc_id"], got["failure_code"], got["extracted_text"]) != \
                (e["doc_id"], e["failure_code"], e["extracted_text"]):
            return f"extracted doc of {u} differs from the kernel's"
    ids = sorted({sample[u]["doc_id"] for u in committed})
    copies = {r["doc_id"]: r["count"] for r in pipe.read_docs()
              .where(F.col("doc_id").isin(ids)).groupBy("doc_id").count()
              .collect()}
    chunks: dict[str, list] = {i: [] for i in ids}
    for r in pipe.read_chunks().where(F.col("doc_id").isin(ids)) \
            .select("doc_id", *CHUNK_CHECK_FIELDS).collect():
        d = r.asDict(recursive=True)
        chunks[d.pop("doc_id")].append(json.dumps(d, sort_keys=True))
    by_id = {sample[u]["doc_id"]: sample[u] for u in committed}
    for i in ids:
        want = sorted(json.dumps(c, sort_keys=True)
                      for c in by_id[i]["chunks"]) * copies.get(i, 0)
        if sorted(chunks[i]) != sorted(want):
            return f"chunks of doc {i} differ from the kernel's"
    return ""


def _check_read(row, manifest: list[dict], expected: dict) -> str:
    """The committed chunk count equals the kernel's chunk count summed
    over every committed page."""
    n_chunks = {p["url"]: p["n_chunks"] for p in expected["pages"]}
    want = sum(n_chunks[r["url"]] for r in manifest
               if r["failure_code"] not in DROP_CODES)
    return "" if row["n"] == want else f"read {row['n']} chunks, want {want}"


def _maintenance_layers(before: list[dict], after: list[dict]) -> dict:
    """Medians over the compactions of a run of the data files listed
    before and after each, and of the bytes it newly wrote."""
    return {
        "plans.maintenance.files_before": _median([len(b) for b in before]),
        "plans.maintenance.files_after": _median([len(a) for a in after]),
        "plans.maintenance.bytes_rewritten": _median([
            sum(s for p, s in a.items() if p not in b)
            for b, a in zip(before, after)]),
    }


# --- corpus_dedup -----------------------------------------------------------------------

def _canon_ids(canon: str) -> list[int]:
    files = [os.path.join(canon, f) for f in sorted(os.listdir(canon))
             if f.endswith(".parquet")] if os.path.isdir(canon) else []
    return [i for f in files
            for i in pq.read_table(f, columns=["doc_id"]).column(0).to_pylist()]


def corpus_dedup(spark, meta: dict, tracer: Tracer, ops: Ops, workdir: str,
                 corrupt: bool) -> dict:
    from rag_pdf_parser_spark.operators.dedup import dedup_corpus_incremental
    from rag_pdf_parser_spark.plans.maintenance import compact_batch_lsh_store

    # store and canon share a parent, so the one writer lease covers both
    store = os.path.join(workdir, "lsh", "store")
    canon = os.path.join(workdir, "lsh", "canon")

    admit_s, docs, read_s = [], 0, []
    # the first admit into an empty store is the one-shot dedup_corpus
    # recipe over the base corpus, plus the index build
    base = spark.read.parquet(os.path.join(meta["dir"], meta["base"]))
    t0 = time.perf_counter()
    with tracer.span("operators.dedup.base"):
        ok, _ = ops.run("dedup base", lambda: dedup_corpus_incremental(
            base, store, canon))
    dedup_s = time.perf_counter() - t0
    if ok:
        docs += meta["base_docs"]
    if corrupt:
        _corrupt_canon(canon)
    ops.check("golden survivors", lambda: _check_digest(
        _canon_ids(canon), meta["golden_survivors"], meta["golden_digest"]))

    for k, name in enumerate(meta["increments"]):
        path = os.path.join(meta["dir"], name)
        before = _canon_ids(canon)
        rows_before = _parquet_rows(store)
        stats: dict = {}
        t0 = time.perf_counter()
        with tracer.span("streaming.minhash.admit", increment=k):
            ok, admitted = ops.run(f"admit {k}", lambda: dedup_corpus_incremental(
                spark.read.parquet(path), store, canon, stats=stats))
        if ok:
            admit_s.append(time.perf_counter() - t0)
            docs += meta["increment_docs"][k]
            inc_ids = pq.read_table(path, columns=["doc_id"]).column(0) \
                .to_pylist()
            ops.check(f"admit {k} funnel", lambda: _check_funnel(
                before, _canon_ids(canon), rows_before, _parquet_rows(store),
                inc_ids, stats, admitted.count(), meta["golden_admits"][k]))
    layers = store_layers(spark, tracer, store) if tracer.enabled else {}

    before = tracer.files(store) if tracer.enabled else {}
    t0 = time.perf_counter()
    with tracer.span("plans.maintenance.compact"):
        ok, _ = ops.run("compact", lambda: compact_batch_lsh_store(spark, store))
    compact_s = [time.perf_counter() - t0] if ok else []
    after = tracer.files(store) if tracer.enabled else {}

    for i in range(READS):
        t0 = time.perf_counter()
        with tracer.span("canon.read"):
            ok, rows = ops.run(f"read {i}", lambda: spark.read.parquet(canon)
                               .agg(F.count("*").alias("n"),
                                    F.sum(F.length("text")).alias("chars"))
                               .collect())
        if ok:
            read_s.append(time.perf_counter() - t0)
            last_read = rows[0]
    if read_s:
        ops.check("canon read", lambda: "" if last_read["n"] == len(
            _canon_ids(canon)) else f"read {last_read['n']} canon rows")

    result = {
        "docs": docs, "batch_s": admit_s, "dedup_s": dedup_s,
        "compact_s": compact_s, "read_s": read_s,
        "bytes_on_disk": sum(file_set(store).values())
        + sum(file_set(canon).values()),
        "input_bytes": meta["input_bytes"],
    }
    if tracer.enabled:
        result["layers"] = {**layers,
                            **_maintenance_layers([before], [after])}
    return result


def store_layers(spark, tracer: Tracer, store: str) -> dict:
    """The batch LSH store after the last admit, the median admit, and the
    share of that admit which its job count of trivial one-task jobs
    would take: the per-job floor, against which the rest is the dedup
    chain's and the store's own work."""
    admits = tracer.named("streaming.minhash.admit")
    listed = tracer.files(store)
    floor = []
    for _ in range(FLOOR_JOBS):
        with tracer.span("trivial.job") as sp:
            _noop(spark.range(0, 1, 1, 1))
        floor.append(sp["s"])
    admit_s = _median([s["s"] for s in admits])
    jobs = _median([s["jobs"] for s in admits])
    return {
        "streaming.minhash.store_files": len(listed),
        "streaming.minhash.store_bytes": sum(listed.values()),
        "streaming.minhash.store_rows": _parquet_rows(store),
        "streaming.minhash.admit_s": admit_s,
        "streaming.minhash.admit_jobs": jobs,
        "streaming.minhash.admit_tasks": _median([s["tasks"] for s in admits]),
        "streaming.minhash.job_floor_share": jobs * _median(floor) / admit_s,
    }


def _corrupt_canon(canon: str) -> None:
    """Self-test hook: lose one committed canon file."""
    files = sorted(f for f in os.listdir(canon) if f.endswith(".parquet"))
    os.remove(os.path.join(canon, files[0]))


def _check_digest(ids: list[int], n: int, digest: str) -> str:
    if len(ids) != n or survivor_digest(ids) != digest:
        return f"{len(ids)} ids do not match the golden {n}"
    return ""


def _check_funnel(before, after, rows_before, rows_after, inc_ids, stats,
                  n_returned, golden: dict) -> str:
    """The admit funnel adds up: the ids canon gained are the golden
    first-seen-greedy admits of the increment, counted three ways
    (returned frame, canon growth, store growth of one row per band), and
    the already-admitted count is the increment's ids found in canon."""
    if len(after) != len(set(after)):
        return "a canon id is present twice"
    admitted = set(after) - set(before)
    problem = _check_digest(admitted, golden["n"], golden["digest"])
    if problem:
        return "admitted " + problem
    already = len(set(inc_ids) & set(before))
    if stats.get("n_already_admitted") != already:
        return (f"n_already_admitted {stats.get('n_already_admitted')} "
                f"!= {already}")
    if n_returned != len(admitted):
        return f"returned {n_returned} admitted docs, canon grew {len(admitted)}"
    if rows_after - rows_before != LSH_BANDS * len(admitted):
        return (f"store grew {rows_after - rows_before} rows for "
                f"{len(admitted)} admitted docs")
    return ""


# --- layer probes (traced runs only) ---------------------------------------------

def _dedup_defaults() -> dict:
    from rag_pdf_parser_spark.operators.dedup import dedup_corpus

    return {k: p.default
            for k, p in inspect.signature(dedup_corpus).parameters.items()
            if p.default is not inspect.Parameter.empty}


def dedup_chain_layers(spark, docs, tracer: Tracer) -> dict:
    """Time the five stages of `dedup_corpus` by calling them in its order
    and at its materialization points, then the whole recipe in one call,
    over the same (doc_id, text) frame. `connected_components` is called
    by `dedup_keep_canonical`; its span is recorded by wrapping the
    module attribute for the duration of that call."""
    import rag_pdf_parser_spark.operators.dedup as dd

    cfg = _dedup_defaults()
    thr = cfg["jaccard_threshold"]
    docs = docs.localCheckpoint(eager=True)
    # one untimed pass first, so that neither side of the comparison below
    # pays the first-run compilation of these plans alone (without it the
    # stage spans summed to 1.55x the one-call time on corpus_dedup)
    _noop(dd.dedup_corpus(docs))
    n_spread = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with tracer.span("operators.dedup.exact") as s_exact:
        out = dd.exact_dedup(docs, "text", "doc_id").drop("content_sha") \
            .repartition(n_spread, "doc_id").localCheckpoint(eager=True)
    with tracer.span("operators.dedup.lsh") as s_lsh:
        cands = dd.lsh_candidate_pairs(
            out, id_col="doc_id", text_col="text", n=cfg["n"],
            num_perm=cfg["num_perm"], bands=cfg["bands"],
            shingle=cfg["shingle"], max_bucket=cfg["max_bucket"]) \
            .localCheckpoint(eager=True)
    with tracer.span("operators.dedup.verify") as s_verify:
        verified = dd.ngram_jaccard_pairs(
            out, cands, id_col="doc_id", text_col="text", n=cfg["n"],
            shingle=cfg["shingle"], min_jaccard=thr) \
            .where(F.col("jaccard") >= thr).select("id_a", "id_b") \
            .localCheckpoint(eager=True)
    orig = dd.connected_components
    comp_spans = []

    def traced_components(*a, **k):
        with tracer.span("operators.dedup.components") as sp:
            comp_spans.append(sp)
            return orig(*a, **k)

    dd.connected_components = traced_components
    try:
        with tracer.span("operators.dedup.canonical") as s_canon:
            _noop(dd.dedup_keep_canonical(out, verified, "doc_id"))
    finally:
        dd.connected_components = orig
    with tracer.span("operators.dedup.dedup_corpus") as s_total:
        _noop(dd.dedup_corpus(docs))
    n_cands, n_verified = cands.count(), verified.count()
    stages = {
        "operators.dedup.exact_s": s_exact["s"],
        "operators.dedup.lsh_s": s_lsh["s"],
        "operators.dedup.verify_s": s_verify["s"],
        "operators.dedup.components_s": sum(s["s"] for s in comp_spans),
        "operators.dedup.canonical_s": s_canon["self_s"],
    }
    return {
        **stages,
        "operators.dedup.dedup_corpus_s": s_total["s"],
        "operators.dedup.span_sum_share":
            sum(stages.values()) / s_total["s"],
        "operators.dedup.candidates": n_cands,
        "operators.dedup.verified": n_verified,
        "operators.dedup.verify_yield":
            n_verified / n_cands if n_cands else 0.0,
    }


def kernel_layers(pages: list[dict]) -> dict:
    """Single-threaded, in-process kernel cost per doc: the baseline the
    Spark stage is compared with."""
    from rag_pdf_parser_spark.kernel.chunker import chunk_blocks
    from rag_pdf_parser_spark.kernel.htmlx import extract_document

    t0 = time.perf_counter()
    docs = [extract_document(p["html"]) for p in pages]
    t1 = time.perf_counter()
    for d in docs:
        chunk_blocks(d["blocks"], d["doc_id"])
    t2 = time.perf_counter()
    return {"kernel.htmlx.ms_per_doc": (t1 - t0) * 1e3 / len(pages),
            "kernel.chunker.ms_per_doc": (t2 - t1) * 1e3 / len(pages)}


def extract_layers(spark, pages_path: str, n_pages: int, kernel: dict,
                   tracer: Tracer, cores: int) -> dict:
    from rag_pdf_parser_spark.operators.extract import extract_docs_full

    with tracer.span("operators.extract.stage") as sp:
        _noop(extract_docs_full(spark.read.parquet(pages_path)))
    kernel_s = n_pages * (kernel["kernel.htmlx.ms_per_doc"]
                          + kernel["kernel.chunker.ms_per_doc"]) / 1e3
    return {"operators.extract.stage_s": sp["s"],
            "operators.extract.useful_share": kernel_s / (sp["s"] * cores)}


def flag_layers(docs, tracer: Tracer) -> dict:
    """`flag_corpus` over one materialized (url?, text) frame."""
    from rag_pdf_parser_spark.plans.curate import flag_corpus

    docs = docs.localCheckpoint(eager=True)
    with tracer.span("plans.curate.flag") as sp:
        _noop(flag_corpus(docs, text_col="text", validate=False))
    return {"plans.curate.flag_s": sp["s"]}


def check_span_sum(layers: dict) -> str:
    """The five dedup stage spans add up to the one-call `dedup_corpus`."""
    share = layers["operators.dedup.span_sum_share"]
    if abs(share - 1) > SPAN_SUM_BOUND:
        return (f"the dedup stage spans sum to {share:.3f}x the timed "
                f"dedup_corpus, beyond 1 +- {SPAN_SUM_BOUND}")
    return ""


def layer_probes(spark, kind: str, meta: dict, tracer: Tracer, ops: Ops,
                 workdir: str, cores: int, seed: int) -> dict:
    """Per-layer numbers the workload loop does not produce itself, each
    from calls into the layer's public functions. Crawl workloads probe
    the kernel and the extraction stage on their first segment, and the
    gates, the near-dup chain and the batch LSH store on the docs they
    committed (segment 0 indexed, segment 1 admitted against it).
    corpus_dedup probes the gates and the near-dup chain on its base
    corpus, and the kernel, the extraction stage and one pipeline batch on
    a seeded side table of PROBE_PAGES `datagen` pages."""
    import pyarrow as pa

    from rag_pdf_parser_spark.operators.dedup import dedup_corpus_incremental
    from rag_pdf_parser_spark.plans.pipeline import ExtractionPipeline

    if kind == "crawl":
        parts = [os.path.join(meta["dir"], p) for p in meta["parts"][:2]]
        pages = pq.read_table(parts[0], columns=["url", "html"]) \
            .slice(0, PROBE_PAGES).to_pylist()
        committed = ExtractionPipeline(
            spark, os.path.join(workdir, "crawl")).read_docs().select(
            "url", F.col("url").alias("doc_id"),
            F.col("extracted_text").alias("text"))
        seg0, seg1 = (committed.join(spark.read.parquet(p).select("url"),
                                     "url", "left_semi").drop("url")
                      for p in parts)
        layers = kernel_layers(pages)
        layers.update(extract_layers(spark, parts[0], pq.ParquetFile(
            parts[0]).metadata.num_rows, layers, tracer, cores))
        layers.update(flag_layers(seg0, tracer))
        layers.update(dedup_chain_layers(spark, seg0, tracer))
        store = os.path.join(workdir, "probe-lsh", "store")
        canon = os.path.join(workdir, "probe-lsh", "canon")
        ops.run("probe index", lambda: dedup_corpus_incremental(
            seg0, store, canon))
        with tracer.span("streaming.minhash.admit"):
            ops.run("probe admit", lambda: dedup_corpus_incremental(
                seg1, store, canon))
        layers.update(store_layers(spark, tracer, store))
        return layers

    from rag_pdf_parser_spark.datagen import make_page

    pages = [make_page(i, seed) for i in range(PROBE_PAGES)]
    side = os.path.join(workdir, "probe-pages.parquet")
    pq.write_table(pa.Table.from_pylist(pages), side)
    base = spark.read.parquet(os.path.join(meta["dir"], meta["base"]))
    layers = kernel_layers(pages)
    layers.update(extract_layers(spark, side, len(pages), layers, tracer,
                                 cores))
    per_batch = _new_per_batch()
    pipe = ExtractionPipeline(spark, os.path.join(workdir, "probe-crawl"))
    pipeline_batch(pipe, spark.read.parquet(side), 0, False, tracer, ops,
                   per_batch)
    layers.update(pipeline_layers(tracer, per_batch))
    layers.update(flag_layers(base, tracer))
    layers.update(dedup_chain_layers(spark, base, tracer))
    return layers
