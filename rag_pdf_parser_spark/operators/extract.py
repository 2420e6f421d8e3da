"""Extraction stage: pages → documents(blocks nested) → blocks (exploded).

Spark-first layout of the reference's per-file loop (SURVEY §3.1):
the entire per-document pipeline (charset decode → DOM parse → boilerplate
strip → typed blocks → reading order → markdown → page-merge assembly) runs
inside ONE `mapInArrow` stage calling the pure-Python kernel
(`rag_pdf_parser_spark.kernel.htmlx.extract_document`, or the byte-sniffed
HTML/PDF kernel of `operators/registry.py`) per row of each Arrow batch,
optionally with the chunker fused in — per-document imperative work is the one thing Spark built-ins cannot
express (reference analog: ir_processor.py:96-264), and batching it through
Arrow amortizes all serde.

Scale design:
- **skew defusal**: upstream `repartition(n, xxhash64(url))` spreads hot
  hosts uniformly (north_rule; a host's pages share templates and can be
  enormous) — the extraction cost is per-row, so uniform row spread = uniform
  work;
- per-row size cap inside the kernel (MAX_HTML_BYTES, OVERSIZE_TRUNCATED
  failure code) bounds worst-case memory per task;
- everything downstream of this stage is native Spark (no Python).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from functools import partial

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

from ..kernel.chunker import chunk_blocks
from ..kernel.htmlx import extract_document
from ..schema import DOCS_FULL_SCHEMA, DOCS_SCHEMA

# Columns copied from the kernel's dict; `url` and `bytes_in` come from the
# input row and `chunks` from the fused chunker.
_KERNEL_COLS = [f.name for f in DOCS_SCHEMA.fields
                if f.name not in ("url", "bytes_in")]
_CHUNK_FIELDS = [f.name for f in DOCS_FULL_SCHEMA["chunks"].dataType.elementType.fields]

# Arrow twins of the output StructTypes, built once at import and keyed by
# `fused`: the stage yields RecordBatches directly (r7 — mapInPandas paid an
# extra pandas round-trip per batch on both sides of the boundary; building
# the pyarrow arrays ourselves measured 2.45 → 2.0 s on the 50k-page
# extraction headline with byte-identical output, guide §4.2).
_ARROW = {
    fused: pa.schema([pa.field(f.name, to_arrow_type(f.dataType))
                      for f in schema.fields])
    for fused, schema in ((False, DOCS_SCHEMA), (True, DOCS_FULL_SCHEMA))
}


def _extract_batches(it: Iterator[pa.RecordBatch],
                     kernel: Callable[[bytes], dict],
                     fused: bool) -> Iterator[pa.RecordBatch]:
    arrow = _ARROW[fused]
    for batch in it:
        urls = batch.column(batch.schema.get_field_index("url")).to_pylist()
        htmls = batch.column(batch.schema.get_field_index("html")).to_pylist()
        cols: dict[str, list] = {f.name: [] for f in arrow}
        for url, html in zip(urls, htmls):
            raw = bytes(html) if html is not None else b""
            d = kernel(raw)
            cols["url"].append(url)
            cols["bytes_in"].append(len(raw))
            for k in _KERNEL_COLS:
                cols[k].append(d[k])
            if fused:
                cols["chunks"].append([
                    {k: c[k] for k in _CHUNK_FIELDS}
                    for c in chunk_blocks(d["blocks"], d["doc_id"])
                ])
        yield pa.RecordBatch.from_arrays(
            [pa.array(cols[f.name], type=f.type) for f in arrow], schema=arrow)


def _extract_stage(pages: DataFrame, kernel: Callable[[bytes], dict],
                   fused: bool, partitions: int | None,
                   salt: bool) -> DataFrame:
    """The one extraction stage behind `extract_docs`, `extract_docs_full`
    and `registry.extract_dispatch`: an optional salted repartition, then
    ONE `mapInArrow` calling `kernel(html bytes)` per row (NULL html reads
    as b"") and, when `fused`, `chunk_blocks` on its blocks.

    The salt width defaults to 3× the session's shuffle partitions: UDF
    stages want finer tasks than pure-JVM stages, because stragglers from
    uneven per-document cost are the dominant tail at high parallelism —
    the fused stage more so, since chunking adds per-doc cost (measured at
    sf0.1 local[32], salted, min-of-2 warm: 1× = 5.96 s, 3× = 4.71 s).
    """
    src = pages.select("url", "html")
    if salt:
        n = partitions or 3 * int(
            pages.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        src = src.repartition(n, F.xxhash64("url"))
    return src.mapInArrow(partial(_extract_batches, kernel=kernel, fused=fused),
                          DOCS_FULL_SCHEMA if fused else DOCS_SCHEMA)


def extract_docs(pages: DataFrame, partitions: int | None = None,
                 salt: bool = True) -> DataFrame:
    """pages(url, html, ...) → docs per DOCS_SCHEMA (blocks nested).

    `partitions`: salted-repartition width before the UDF (default 3× the
    session's shuffle partitions, see `_extract_stage`).

    `salt=False` skips the defusal shuffle — correct when the input is
    already url-hash bucketed (an Iceberg table bucketed at ingest), which
    is the production layout at 10^12 rows.
    """
    return _extract_stage(pages, extract_document, False, partitions, salt)


def extract_docs_full(pages: DataFrame, partitions: int | None = None,
                      salt: bool = True) -> DataFrame:
    """Fused extraction + chunking in ONE Arrow stage (blocks and chunks both
    nested). Chunking is per-doc sequential (SURVEY §2.5 W6), so fusing it
    into the extraction pass costs nothing and removes the groupBy(doc_id)
    shuffle + per-group pandas overhead of the standalone grouped-map —
    the right plan shape at 10^12 docs. Use `chunk_documents` only when
    chunking pre-existing block tables.

    `partitions` and `salt=False` as in `extract_docs`: re-shuffling an
    already-bucketed 10^12-row corpus is pure waste.
    """
    return _extract_stage(pages, extract_document, True, partitions, salt)


def explode_chunks(docs_full: DataFrame) -> DataFrame:
    """docs_full → flat chunks table (CHUNKS_SCHEMA shape)."""
    return (
        docs_full.select("doc_id", F.explode("chunks").alias("c"))
        .select("c.chunk_id", "doc_id", "c.page_start", "c.page_end",
                "c.block_ids", "c.section", "c.text", "c.token_count",
                "c.char_count", "c.reading_order_start",
                "c.reading_order_end", "c.anchors", "c.embedding")
    )


def explode_blocks(docs: DataFrame) -> DataFrame:
    """docs → flat blocks table keyed (doc_id, page, block_id) — the
    reference's IRBlock list materialized relationally (SURVEY §2.1 S3)."""
    return (
        docs.select("url", "doc_id", F.explode("blocks").alias("b"))
        .select("url", "doc_id", "b.*")
    )
