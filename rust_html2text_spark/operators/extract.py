"""The main-content extraction operators, Spark-first.

Same plan, partitioning, oversized-row lane and error-row contract as
render_pages — all of it the shared seam's (operators/kernel.py).  The
kernel is engine/extract.extract_main_ex (boilerplate strip +
DOM-heuristic candidate scoring) instead of the whole-document render; the
winner tag and score ride along as lineage for crawl-QA dashboards.  The
link-graph, head-metadata and fused one-parse variants reuse the same
seam with their own row functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from rust_html2text_spark.operators.kernel import map_kernel

EXTRACT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("text", StringType()),
        StructField("error", StringType()),
        StructField("html_bytes", LongType()),
        StructField("text_bytes", LongType()),
        StructField("winner_tag", StringType()),
        StructField("score", DoubleType()),
        StructField("n_candidates", LongType()),
    ]
)

# charset_sniff=True appends encoding lineage (the sniffed codec and how
# it was determined: bom / meta / default)
_ENCODING_FIELDS = [
    StructField("encoding", StringType()),
    StructField("encoding_source", StringType()),
]
EXTRACT_SNIFF_SCHEMA = StructType(EXTRACT_SCHEMA.fields + _ENCODING_FIELDS)


LINKS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("ordinal", LongType()),
        StructField("href", StringType()),
        StructField("anchor", StringType()),
        StructField("nofollow", LongType()),
        # RFC-3986 resolution of href against the page's effective base
        # (<base href> honoured); NULL when unresolvable — a frontier
        # consumer filters on this, never on the raw href
        StructField("target_abs", StringType()),
    ]
)

META_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("lang_attr", StringType()),
        StructField("canonical", StringType()),
        StructField("og_title", StringType()),
        StructField("robots", StringType()),
        StructField("error", StringType()),
    ]
)

_META_FIELDS = [f for f in META_SCHEMA.fields if f.name not in ("url", "error")]
_META_KEYS = tuple(f.name for f in _META_FIELDS)


def _extract_kernel(
    width: int,
    config_kwargs: dict,
    charset_sniff: bool = False,
    charset_fallback: str = "utf-8",
):
    """extract_main_ex row, fed the optional per-row transport label."""

    def make_row():
        from rust_html2text_spark.engine.api import Config, plain_config
        from rust_html2text_spark.engine.charset import decode_html
        from rust_html2text_spark.engine.extract import extract_main_ex

        config = Config(**config_kwargs) if config_kwargs else plain_config()

        def row(rec, html, label=None):
            if charset_sniff:
                # the engine parse path accepts the decoded str as-is
                html, rec["encoding"], rec["encoding_source"] = decode_html(
                    html, charset_fallback, transport_label=label
                )
            r = extract_main_ex(html, width, config)
            rec["text"] = r["text"]
            rec["text_bytes"] = len(r["text"].encode("utf-8"))
            rec["winner_tag"] = r["winner_tag"]
            rec["score"] = float(r["score"])
            rec["n_candidates"] = r["n_candidates"]

        return row

    return make_row


def _links_kernel(config_kwargs: dict, charset_sniff: bool, charset_fallback: str):
    """Edge row: the page's main-content links, resolved against its url."""

    def make_row():
        from rust_html2text_spark.engine.api import Config, plain_config
        from rust_html2text_spark.engine.charset import decode_html
        from rust_html2text_spark.engine.extract import extract_main_links

        config = Config(**config_kwargs) if config_kwargs else plain_config()

        def row(html, url):
            if charset_sniff:
                html = decode_html(html, charset_fallback)[0]
            return extract_main_links(html, config, base_url=url)

        return row

    return make_row


def _meta_kernel(xml_mode, charset_sniff: bool, charset_fallback: str):
    def make_row():
        from rust_html2text_spark.engine.charset import decode_html
        from rust_html2text_spark.engine.metadata import page_metadata

        def row(rec, html):
            if charset_sniff:
                html = decode_html(html, charset_fallback)[0]
            m = page_metadata(html, xml_mode=xml_mode)
            for k in _META_KEYS:
                rec[k] = m[k]

        return row

    return make_row


def _full_kernel(
    width: int, config_kwargs: dict, charset_sniff: bool, charset_fallback: str
):
    """extract_main_full row, fed the page url as the link base."""

    def make_row():
        import json

        from rust_html2text_spark.engine.api import Config, plain_config
        from rust_html2text_spark.engine.charset import decode_html
        from rust_html2text_spark.engine.errors import RenderError
        from rust_html2text_spark.engine.extract import (
            extract_main_full,
            extract_main_links,
        )
        from rust_html2text_spark.engine.metadata import page_metadata

        config = Config(**config_kwargs) if config_kwargs else plain_config()

        def put_links_meta(rec, links, meta):
            rec["links_json"] = json.dumps(links, separators=(",", ":"))
            for k in _META_KEYS:
                rec[k] = meta.get(k)

        def row(rec, html, url):
            if charset_sniff:
                html, rec["encoding"], rec["encoding_source"] = decode_html(
                    html, charset_fallback
                )
            try:
                r = extract_main_full(html, width, config, base_url=url)
            except RenderError as e:
                # links + metadata do not depend on rendering: recover
                # them so an unrenderable page still feeds the link
                # graph and metadata tables (matches the goldens,
                # which compute the three independently)
                rec["error"] = type(e).__name__
                try:
                    links = extract_main_links(html, config, base_url=url)
                    meta = page_metadata(html, xml_mode=config.xml)
                except Exception:
                    return
                put_links_meta(rec, links, meta)
                return
            rec["text"] = r["text"]
            rec["text_bytes"] = len(r["text"].encode("utf-8"))
            rec["winner_tag"] = r["winner_tag"]
            rec["score"] = float(r["score"])
            rec["n_candidates"] = r["n_candidates"]
            put_links_meta(rec, r["links"], r["meta"])

        return row

    return make_row


def extract_links(
    df: DataFrame,
    config_kwargs: dict | None = None,
    num_partitions: int | None = None,
    salt: int = 0,
    repartition: str = "none",
    charset_sniff: bool = False,
    charset_fallback: str = "utf-8",
    outlier_bytes: int | None = 1 << 20,
) -> DataFrame:
    """Crawl-graph edges of the MAIN content: (url, ordinal, href, anchor)
    — chrome/nav/footer links are dropped by the same strip+score pass as
    extract_pages, so the edge list is content-to-content (what a link-
    graph quality signal like a PageRank-ish prior wants; boilerplate
    edges are exactly the noise).  Variable rows per input page; a NULL or
    unparseable page contributes no edges.  Partitioning and the
    oversized-row lane are the seam's (operators/kernel.py)."""
    return map_kernel(
        df,
        _links_kernel(config_kwargs or {}, charset_sniff, charset_fallback),
        LINKS_SCHEMA,
        args=("url",),
        edges=True,
        num_partitions=num_partitions,
        salt=salt,
        repartition=repartition,
        outlier_bytes=outlier_bytes,
    )


def page_metadata_pages(
    df: DataFrame,
    xml_mode=None,
    num_partitions: int | None = None,
    salt: int = 0,
    repartition: str = "none",
    charset_sniff: bool = False,
    charset_fallback: str = "utf-8",
    outlier_bytes: int | None = 1 << 20,
) -> DataFrame:
    """Head-metadata extraction: (url, title, description, lang_attr,
    canonical, og_title, error).  The canonical url is the dedup key a
    crawl pipeline trusts over the fetched url; lang_attr is the page's
    language *claim* to audit lang_id's measurement against.  Plan and
    error rows: operators/kernel.py."""
    return map_kernel(
        df,
        _meta_kernel(xml_mode, charset_sniff, charset_fallback),
        META_SCHEMA,
        num_partitions=num_partitions,
        salt=salt,
        repartition=repartition,
        outlier_bytes=outlier_bytes,
    )


FULL_SCHEMA = StructType(
    EXTRACT_SCHEMA.fields + [StructField("links_json", StringType())] + _META_FIELDS
)
FULL_SNIFF_SCHEMA = StructType(FULL_SCHEMA.fields + _ENCODING_FIELDS)


def extract_pages_full(
    df: DataFrame,
    width: int = 80,
    config_kwargs: dict | None = None,
    num_partitions: int | None = None,
    salt: int = 0,
    repartition: str = "none",
    charset_sniff: bool = False,
    charset_fallback: str = "utf-8",
    outlier_bytes: int | None = 1 << 20,
) -> DataFrame:
    """One-parse fusion of extract_pages + extract_links + page_metadata:
    (url, text, error, sizes, scoring lineage, links_json, head
    metadata).  A curation pipeline that consumes all three must not
    parse every page three times — at crawl scale the parse is ~25% of
    the kernel, so the fusion saves ~½ of a full extra pass.  A page that
    fails to render (`TooNarrow`, ...) still carries its links and
    metadata.  charset_sniff=True adds the WHATWG sniff +
    (encoding, encoding_source) lineage, same contract as extract_pages.
    Plan and error rows: operators/kernel.py."""
    return map_kernel(
        df,
        _full_kernel(width, config_kwargs or {}, charset_sniff, charset_fallback),
        FULL_SNIFF_SCHEMA if charset_sniff else FULL_SCHEMA,
        args=("url",),
        size_col="html_bytes",
        num_partitions=num_partitions,
        salt=salt,
        repartition=repartition,
        outlier_bytes=outlier_bytes,
    )


def extract_pages(
    df: DataFrame,
    width: int = 80,
    config_kwargs: dict | None = None,
    num_partitions: int | None = None,
    salt: int = 0,
    outlier_bytes: int | None = 1 << 20,
    repartition: str = "none",
    charset_sniff: bool = False,
    charset_fallback: str = "utf-8",
    charset_col: str | None = None,
) -> DataFrame:
    """Extract main content from a pages DataFrame (url, html, ...) →
    (url, text, error, sizes, winner_tag, score, n_candidates).  Same
    partitioning contract and oversized-row lane as render_pages
    (operators/kernel.py).

    charset_sniff=True runs the WHATWG encoding sniff (BOM → transport
    label → meta prescan → charset_fallback) in front of the parse and
    appends (encoding, encoding_source) lineage — the extraction tier
    targets real crawls where non-UTF-8 pages are a double-digit
    percentage.  `charset_col` names a per-row transport-layer label
    column (read_warc_pages(include_charset_col=True) emits
    `http_charset` from the record's Content-Type header).  Off by
    default: the render path's utf-8/replace is byte-identical
    reference parity and stays that way."""
    if charset_col is not None and charset_col not in df.columns:
        raise ValueError(
            f"charset_col {charset_col!r} not in input columns {df.columns}"
        )
    return map_kernel(
        df,
        _extract_kernel(width, config_kwargs or {}, charset_sniff, charset_fallback),
        EXTRACT_SNIFF_SCHEMA if charset_sniff else EXTRACT_SCHEMA,
        args=(charset_col,) if charset_col is not None else (),
        size_col="html_bytes",
        num_partitions=num_partitions,
        salt=salt,
        repartition=repartition,
        outlier_bytes=outlier_bytes,
    )
