"""PDF text-extraction operators, Spark-first.

Third member of the extraction-tier operator family (render_pages,
extract_pages): the same seam (operators/kernel.py) — pruned scan →
optional salted url-hash repartition → Arrow-batched mapInPandas — and
the same robustness contract (a hostile or truncated PDF becomes an error
row, never a task failure; a structurally unusable one reads
`PdfError:<msg>`, cut to 200 chars).  The kernel is
engine/pdftext.extract_pdf_ex (document structure + content-stream
interpretation + layout assembly); page count and PDF version ride along
as lineage.  These row functions are the only operator code that imports
the PDF engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from rust_html2text_spark.operators.kernel import map_kernel
from rust_html2text_spark.operators.render import _render_kernel

PDF_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("text", StringType()),
        StructField("error", StringType()),
        StructField("pdf_bytes", LongType()),
        StructField("text_bytes", LongType()),
        StructField("n_pages", LongType()),
        StructField("pdf_version", StringType()),
        StructField("title", StringType()),
        StructField("author", StringType()),
    ]
)


def _pdf_kernel(page_sep: str):
    def make_row():
        from rust_html2text_spark.engine.pdftext import PdfError, extract_pdf_ex

        def row(rec, pdf):
            try:
                r = extract_pdf_ex(pdf, page_sep)
            except PdfError as e:
                rec["error"] = f"PdfError:{e}"[:200]
                return
            rec["text"] = r["text"]
            rec["text_bytes"] = len(r["text"].encode("utf-8"))
            for k in ("n_pages", "pdf_version", "title", "author"):
                rec[k] = r[k]

        return row

    return make_row


def _pdf_links_kernel():
    def make_row():
        from rust_html2text_spark.engine.pdfparse import parse_pdf
        from rust_html2text_spark.engine.pdftext import pdf_links_from_doc

        def row(pdf):
            doc = parse_pdf(pdf)
            return pdf_links_from_doc(doc, doc.pages())

        return row

    return make_row


LINKS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("page", LongType()),
        StructField("ordinal", LongType()),
        StructField("uri", StringType()),
    ]
)


def extract_pdf_links(
    df: DataFrame,
    num_partitions: int | None = None,
    salt: int = 0,
    repartition: str = "none",
) -> DataFrame:
    """The PDF half of the crawl link graph: (url, page, ordinal, uri)
    from /Annots Link → /A /URI actions — PDFs carry their outbound
    edges as annotations, not text.  Pairs with
    operators/extract.extract_links for HTML pages.  Single-scan (no
    oversized-row lane); a NULL or unusable PDF contributes no edges."""
    return map_kernel(
        df,
        _pdf_links_kernel(),
        LINKS_SCHEMA,
        payload_col="pdf",
        edges=True,
        num_partitions=num_partitions,
        salt=salt,
        repartition=repartition,
    )


MIXED_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("error", StringType()),
        StructField("input_bytes", LongType()),
        StructField("text_bytes", LongType()),
    ]
)


def _mixed_kernel(
    width: int,
    config_kwargs: dict,
    page_sep: str,
    charset_sniff: bool,
    charset_fallback: str,
):
    """Per-row dispatch between the PDF row and the render row."""
    make_pdf_row = _pdf_kernel(page_sep)
    make_html_row = _render_kernel(width, config_kwargs)

    def make_row():
        from rust_html2text_spark.engine.charset import decode_html

        pdf_row, html_row = make_pdf_row(), make_html_row()

        def row(rec, payload):
            # the same 1 KiB magic window parse_pdf accepts; crawl
            # content-type headers lie, so they are never consulted
            if b"%PDF-" in payload[:1024]:
                rec["kind"] = "pdf"
                pdf_row(rec, payload)
                return
            # the sniff applies to the HTML lane only — PDF bytes are
            # binary and the magic check above already ran
            if charset_sniff:
                payload = decode_html(payload, charset_fallback)[0]
            html_row(rec, payload)

        return row

    return make_row


def extract_mixed_pages(
    df: DataFrame,
    width: int = 80,
    config_kwargs: dict | None = None,
    num_partitions: int | None = None,
    salt: int = 0,
    payload_col: str = "html",
    page_sep: str = "\f",
    repartition: str = "none",
    charset_sniff: bool = False,
    charset_fallback: str = "utf-8",
) -> DataFrame:
    """Mixed-payload extraction: a crawl's pages table carries ONE binary
    payload column, and real Common Crawl responses are ~98% HTML with a
    PDF tail.  Each row is routed by magic-byte sniff (%PDF- within the
    first 1 KiB — the window engine/pdfparse accepts; content-type
    headers lie in crawls and are never consulted): PDFs through the
    pdftext kernel, everything else through the full HTML render.
    Output: (url, kind, text, error, input_bytes, text_bytes).

    Single-scan by construction (no oversized-row lane; the reason is in
    operators/kernel.py): ONE pruned scan → (optional salted shuffle) →
    ONE mapInPandas whose row function dispatches per row.  A NULL payload
    reads kind 'html'."""
    return map_kernel(
        df,
        _mixed_kernel(
            width, config_kwargs or {}, page_sep, charset_sniff, charset_fallback
        ),
        MIXED_SCHEMA,
        payload_col=payload_col,
        size_col="input_bytes",
        defaults={"kind": "html"},
        num_partitions=num_partitions,
        salt=salt,
        repartition=repartition,
    )


def extract_pdf_pages(
    df: DataFrame,
    page_sep: str = "\f",
    num_partitions: int | None = None,
    salt: int = 0,
    outlier_bytes: int | None = 8 << 20,
    repartition: str = "none",
) -> DataFrame:
    """Extract text from a PDF pages DataFrame (url, pdf, ...) →
    (url, text, error, pdf_bytes, text_bytes, n_pages, pdf_version).
    Partitioning contract and oversized-row lane match render_pages
    (operators/kernel.py); the lane's default threshold is 8 MiB because
    PDFs run larger than HTML."""
    return map_kernel(
        df,
        _pdf_kernel(page_sep),
        PDF_SCHEMA,
        payload_col="pdf",
        size_col="pdf_bytes",
        num_partitions=num_partitions,
        salt=salt,
        repartition=repartition,
        outlier_bytes=outlier_bytes,
    )
