"""Parser registry — the engine's analog of the reference's
BaseDocumentParser extension point (base_parser.py:17-88; SURVEY §2.9):
a mapping of content kinds to pure-Python kernels with a COMMON output
schema, dispatched per row inside the one `mapInArrow` extraction stage
(`operators/extract.py`).

Adding a source kind = registering one kernel function and its byte-sniff
rule; every downstream operator (explode, enrichments, chunking, dedup,
sinks) is unchanged.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from ..kernel.htmlx import extract_document
from ..kernel.pdfx import extract_pdf_document
from .extract import _extract_stage

KERNELS: dict[str, Callable[[bytes], dict]] = {
    "html": extract_document,
    "pdf": extract_pdf_document,
}


def _sniffed_kernel(raw: bytes) -> dict:
    return KERNELS["pdf" if raw[:4] == b"%PDF" else "html"](raw)


def extract_dispatch(pages: DataFrame, partitions: int | None = None) -> DataFrame:
    """pages(url, html) → docs, kernel chosen per row by byte-sniffing
    (`%PDF` → PDF, else HTML). Same salted-repartition scale shape as
    extract_docs."""
    return _extract_stage(pages, _sniffed_kernel, False, partitions, salt=True)
