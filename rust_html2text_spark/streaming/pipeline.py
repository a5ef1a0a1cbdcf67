"""Structured Streaming variant of the extraction pipeline.

The reference is a pure batch scalar function (SURVEY.md §2.5 — no
streaming operators), but a crawl-ingest deployment renders pages as WARC
batches land.  `readStream` file source → the same Arrow-batched render
stage → parquet sink with checkpointing gives exactly-once output and
automatic resume; the render UDF is shared with the batch path so
semantics cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from rust_html2text_spark.operators.kernel import map_kernel
from rust_html2text_spark.operators.render import RENDER_SCHEMA, _render_kernel


def stream_pages(
    spark: SparkSession,
    input_path: str,
    schema=None,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """File-source stream of pages parquet dropped into `input_path`."""
    reader = (
        spark.readStream.format("parquet")
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        static = spark.read.parquet(input_path)
        reader = reader.schema(static.schema)
    return reader.load(input_path)


def render_stream(pages: DataFrame, width: int = 80, config_kwargs: dict | None = None) -> DataFrame:
    """Streaming render: same seam and render row as the batch operator."""
    return map_kernel(
        pages, _render_kernel(width, config_kwargs or {}), RENDER_SCHEMA,
        size_col="html_bytes",
    )


def crawl_rate_metrics(
    rendered_stream: DataFrame,
    ts_col: str = "warc_ts",
    window_minutes: int = 5,
    watermark_minutes: int = 10,
) -> DataFrame:
    """Event-time windowed ingest metrics with late-data handling: docs and
    bytes per `window_minutes` tumbling window, tolerating events up to
    `watermark_minutes` late (watermark bounds the state store)."""
    from pyspark.sql import functions as F

    return (
        rendered_stream.withWatermark(ts_col, f"{watermark_minutes} minutes")
        .groupBy(F.window(F.col(ts_col), f"{window_minutes} minutes"))
        .agg(
            F.count("*").alias("docs"),
            F.sum("text_bytes").alias("text_bytes"),
            F.sum(
                F.when(F.col("error").isNull(), 0).otherwise(1)
            ).alias("errors"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "docs",
            "text_bytes",
            "errors",
        )
    )


def render_stream_with_ts(pages: DataFrame, width: int = 80) -> DataFrame:
    """Streaming render that keeps the event timestamp for windowed metrics."""
    from pyspark.sql.types import StructField, StructType, TimestampType

    # NOT RENDER_SCHEMA.add(...): StructType.add mutates in place, which
    # would poison the shared batch schema for the rest of the session
    schema = StructType(
        list(RENDER_SCHEMA.fields) + [StructField("warc_ts", TimestampType())]
    )
    return map_kernel(
        pages, _render_kernel(width, {}), schema, size_col="html_bytes",
        passthrough=("warc_ts",),
    )


def start_render_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    width: int = 80,
    config_kwargs: dict | None = None,
):
    """Start the streaming query (exactly-once parquet sink + checkpoint)."""
    pages = stream_pages(spark, input_path)
    rendered = render_stream(pages, width=width, config_kwargs=config_kwargs)
    return (
        rendered.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .start()
    )


def extract_stream(
    pages: DataFrame,
    width: int = 80,
    config_kwargs: dict | None = None,
    charset_sniff: bool = False,
    charset_fallback: str = "utf-8",
) -> DataFrame:
    """Streaming main-content extraction: the batch extract_pages stage
    verbatim (semantics cannot drift), including the opt-in WHATWG charset
    sniff + encoding lineage; single-scan (no oversized-row lane)."""
    from rust_html2text_spark.operators.extract import extract_pages

    return extract_pages(
        pages,
        width=width,
        config_kwargs=config_kwargs,
        outlier_bytes=None,
        charset_sniff=charset_sniff,
        charset_fallback=charset_fallback,
    )


def pdf_extract_stream(pages: DataFrame, page_sep: str = "\f") -> DataFrame:
    """Streaming PDF extraction over a (url, pdf) stream."""
    from rust_html2text_spark.operators.pdf import extract_pdf_pages

    return extract_pdf_pages(pages, page_sep, outlier_bytes=None)


def start_extraction_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    mode: str = "render",
    width: int = 80,
    config_kwargs: dict | None = None,
    charset_sniff: bool = False,
):
    """start_render_stream generalized over the extraction tier:
    mode = render | extract | pdf | mixed (CLI --stream --mode ...)."""
    pages = stream_pages(spark, input_path)
    if mode == "extract":
        out = extract_stream(
            pages,
            width=width,
            config_kwargs=config_kwargs,
            charset_sniff=charset_sniff,
        )
    elif mode == "pdf":
        out = pdf_extract_stream(pages)
    elif mode == "mixed":
        from rust_html2text_spark.operators.pdf import extract_mixed_pages

        out = extract_mixed_pages(
            pages, width=width, config_kwargs=config_kwargs,
            charset_sniff=charset_sniff,
        )
    elif mode == "render":
        out = render_stream(pages, width=width, config_kwargs=config_kwargs)
    else:
        raise ValueError(f"unknown mode {mode!r}")
    return (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .start()
    )


def curate_stream(
    pages: DataFrame,
    width: int = 80,
    min_quality: float = 0.2,
    langs: tuple[str, ...] | None = ("en",),
) -> DataFrame:
    """Streaming counterpart of functions.pipeline.training_pipeline up to
    the dedup stage: render → quality score → language gate, all on the
    micro-batch stream (the scoring expressions are whole-stage codegen and
    stream-safe).  Chain `streaming.stateful.first_seen` on the emitted
    `fingerprint` for cross-batch dedup."""
    from pyspark.sql import functions as F

    from rust_html2text_spark.functions.textstats import (
        EN_STOPWORDS,
        _stopword_hits,
        pred_lang_col,
        tokens_col,
    )

    rendered = render_stream(pages, width).filter(F.col("error").isNull())
    toks = tokens_col("text")
    n_tokens = F.size(toks)
    quality = (
        F.length(F.regexp_replace("text", r"[^A-Za-z]", "")) / F.length("text")
    ) * 0.5 + (_stopword_hits(EN_STOPWORDS) / n_tokens) * 0.5
    scored = rendered.select(
        "url",
        "text",
        n_tokens.alias("n_tokens"),
        F.round(quality, 6).alias("quality"),
        pred_lang_col("text").alias("pred_lang"),
        F.md5(
            F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
        ).alias("fingerprint"),
    ).filter(F.col("quality") >= min_quality)
    if langs is not None:
        scored = scored.filter(F.col("pred_lang").isin(list(langs)))
    return scored.drop("pred_lang")


def stream_warc_pages(
    spark: SparkSession,
    input_path: str,
    glob: str = "*.warc.gz",
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Streaming WARC ingest: crawl archives dropped into `input_path`
    become pages rows as they land.  binaryFile file-source (whole-archive
    rows, so size maxFilesPerTrigger × archive size to executor memory) →
    the same stdlib record parser as the batch WARC source
    (sources/warc.iter_warc_bytes)."""
    raw = (
        spark.readStream.format("binaryFile")
        # binaryFile's schema is fixed; streaming sources require it stated
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(input_path)
    )

    def parse(batches):
        import os
        import sys

        _repo = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        if _repo not in sys.path:
            sys.path.insert(0, _repo)
        import pandas as pd

        from rust_html2text_spark.sources.warc import iter_warc_bytes

        for pdf in batches:
            for content in pdf["content"]:
                rows = [
                    (url, ts, html, None, None)
                    for url, ts, html in iter_warc_bytes(bytes(content))
                ]
                yield pd.DataFrame(
                    rows, columns=["url", "warc_ts", "html", "text", "lang"]
                )

    from rust_html2text_spark.sources.warc import PAGES_SCHEMA

    return raw.select("content").mapInPandas(parse, PAGES_SCHEMA)


def start_warc_render_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    width: int = 80,
    config_kwargs: dict | None = None,
):
    """WARC archives → rendered text, streaming end to end: exactly-once
    parquet output with checkpointed resume, same render stage as batch."""
    rendered = render_stream(
        stream_warc_pages(spark, input_path), width=width, config_kwargs=config_kwargs
    )
    return (
        rendered.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
