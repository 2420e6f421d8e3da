"""PDF lane: pure-stdlib PDF text extraction + XY-cut reading order, plus
the content-type dispatch registry (SURVEY §2.9)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from rag_pdf_parser_spark.kernel.pdfx import extract_pdf_document, make_pdf
from rag_pdf_parser_spark.operators.registry import extract_dispatch
from rag_pdf_parser_spark.schema import DOCS_SCHEMA, PAGES_SCHEMA


class TestPdfKernel:
    def test_all_synthetic_pdfs_parse(self):
        for i in range(60):
            d = extract_pdf_document(make_pdf(i))
            assert d["failure_code"] is None, i
            assert d["title"] is not None
            assert any(b["type"] == "title" for b in d["blocks"])
            # NOTE: the title is not always block 0 — the reference's
            # XY-cut recursion halves the width on recursion
            # (extractor.py:349), which we reproduce verbatim; a nested
            # split can bucket a centered title into the right column.

    def test_failure_codes(self):
        assert extract_pdf_document(b"")["failure_code"] == "EMPTY_PDF"
        assert extract_pdf_document(b"nope")["failure_code"] == "NOT_PDF"
        assert extract_pdf_document(b"%PDF-1.4 garbage")["failure_code"] == "NO_CONTENT"

    def test_deterministic(self):
        assert extract_pdf_document(make_pdf(9)) == extract_pdf_document(make_pdf(9))

    def test_reading_order_top_down(self):
        d = extract_pdf_document(make_pdf(0))  # doc 0: single-column layout
        orders = [b["reading_order"] for b in d["blocks"]]
        assert orders == sorted(orders)
        # title (placed topmost, 20pt) leads a single-column page
        assert d["blocks"][0]["type"] == "title"

    def test_spans_valid(self):
        for i in range(25):
            d = extract_pdf_document(make_pdf(i))
            for b in d["blocks"]:
                assert d["extracted_text"][b["span_start"]:b["span_end"]] == b["text"]

    def test_flate_and_plain_streams_both_supported(self):
        # generator emits ~half FlateDecode; all must parse
        flate = plain = 0
        for i in range(40):
            raw = make_pdf(i)
            if b"FlateDecode" in raw:
                flate += 1
            else:
                plain += 1
            assert extract_pdf_document(raw)["failure_code"] is None
        assert flate > 5 and plain > 5


def test_dispatch_mixed_corpus(spark):
    """One table mixing HTML and PDF rows → one dispatch stage, per-row
    kernel selection (byte-sniffed): every DOCS_SCHEMA column of every row,
    nested blocks included, equals the chosen kernel's dict. NULL and empty
    html both read as b"" and take the HTML kernel."""
    from rag_pdf_parser_spark.datagen import make_pages
    from rag_pdf_parser_spark.kernel import extract_document

    html_pages = make_pages(30)
    raws = {p["url"]: p["html"] for p in html_pages}
    raws.update({f"pdf://doc/{i}": make_pdf(i) for i in range(30)})
    raws["null://html"] = None
    raws["empty://html"] = b""
    rows = [(url, None, raw, "", "en") for url, raw in raws.items()]
    pdf_df = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    pages = spark.createDataFrame(pdf_df, schema=PAGES_SCHEMA)

    got = extract_dispatch(pages).collect()
    out = {r["url"]: r.asDict(recursive=True) for r in got}
    assert len(got) == len(raws) == 62 and set(out) == set(raws)
    for url, raw in raws.items():
        raw = raw or b""
        kernel = extract_pdf_document if url.startswith("pdf://") else extract_document
        assert list(out[url]) == DOCS_SCHEMA.names, url
        assert out[url] == {**kernel(raw), "url": url, "bytes_in": len(raw)}, url
    assert out["pdf://doc/0"]["charset"] == "binary"
    assert out["null://html"]["failure_code"] == "EMPTY_HTML"
