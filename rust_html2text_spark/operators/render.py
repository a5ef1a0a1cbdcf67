"""The HTML→text extraction operator, Spark-first.

The reference engine is a document-at-a-time scalar transform
(`text = render(html, width, options)`, the reference's src/lib.rs:3430),
so the Catalyst-visible plan is deliberately trivial — scan → (optional
salted repartition) → mapInPandas → write — and every reference semantic
lives inside the render row function.  The plan, the never-crash row loop
and the oversized-row lane are the shared seam's (operators/kernel.py);
this module adds the render kernel, the dedup-aware variant and the
per-partition metrics DataFrame for an append-only metrics table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from rust_html2text_spark.operators.kernel import map_kernel

RENDER_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("text", StringType()),
        StructField("error", StringType()),
        StructField("html_bytes", LongType()),
        StructField("text_bytes", LongType()),
    ]
)


def _render_kernel(
    width: int,
    config_kwargs: dict,
    coloured: bool = False,
    use_css_colours: bool = True,
    no_default_colours: bool = False,
    syntax_highlight: bool = False,
):
    """The render row function (operators/kernel.map_kernel protocol),
    fed the optional per-row `width` (NULL → the job width).

    `coloured` renders through the ANSI colour map (reference CLI
    `--colour`, main.rs:161-180); `syntax_highlight` registers the default
    rs/html highlighters (`--syntax`, main.rs:143-148).  Both are plain
    booleans rather than callables so the closure stays trivially
    picklable — the actual functions are imported executor-side."""

    def make_row():
        from rust_html2text_spark.engine.api import Config, html_to_text, plain_config

        config = Config(**config_kwargs) if config_kwargs else plain_config()
        if syntax_highlight:
            from rust_html2text_spark.engine.highlight import DEFAULT_HIGHLIGHTERS

            config.syntax_highlighters = dict(DEFAULT_HIGHLIGHTERS)
        if coloured:
            from functools import partial

            from rust_html2text_spark.engine.api import html_to_coloured
            from rust_html2text_spark.engine.colourmap import default_colour_map

            cmap = partial(
                default_colour_map,
                use_css_colours=use_css_colours,
                no_default_colours=no_default_colours,
            )

            def render(h, w):
                return html_to_coloured(h, w, cmap, config)

        else:

            def render(h, w):
                return html_to_text(h, w, config)

        def row(rec, html, row_width=None):
            text = render(html, width if row_width is None else int(row_width))
            rec["text"] = text
            rec["text_bytes"] = len(text.encode("utf-8"))

        return row

    return make_row


def render_pages(
    df: DataFrame,
    width: int = 80,
    config_kwargs: dict | None = None,
    num_partitions: int | None = None,
    salt: int = 0,
    outlier_bytes: int | None = 1 << 20,
    repartition: str = "none",
    render_kwargs: dict | None = None,
) -> DataFrame:
    """Render a pages DataFrame (url, html, ...) to (url, text, error, sizes).

    Only url+html (and an optional per-row `width` column, NULL → `width`)
    are read — column pruning keeps the scan narrow.  Partitioning
    (`repartition`, `num_partitions`, `salt`), the oversized-row lane
    (`outlier_bytes`, and its second-scan cost) and the error-row contract
    are the shared seam's: see operators/kernel.py.
    """
    args = ("width",) if "width" in df.columns else ()
    return map_kernel(
        df,
        _render_kernel(width, config_kwargs or {}, **(render_kwargs or {})),
        RENDER_SCHEMA,
        args=args,
        size_col="html_bytes",
        num_partitions=num_partitions,
        salt=salt,
        repartition=repartition,
        outlier_bytes=outlier_bytes,
    )


def render_pages_deduped(
    df: DataFrame,
    width: int = 80,
    config_kwargs: dict | None = None,
    num_partitions: int | None = None,
    salt: int = 0,
    dedup_ratio_threshold: float | None = 1.5,
) -> DataFrame:
    """Dedup-aware rendering: render each *distinct* document once, then
    join results back to every url.

    Web crawls are heavily duplicated (boilerplate mirrors, http/https
    twins); rendering distinct payloads cuts the Python-side work by the
    duplication factor at the cost of one shuffle on the content hash.
    The content hash doubles as the lineage key.

    Plan shape (r07, guide §8 — decide with small rows, move big rows
    once): ONE exchange total.  groupBy(content_hash) both dedups the
    payload and collects the url list in the same aggregation; the url
    list rides through the kernel as a passthrough column and explodes
    back to one row per input url in the JVM.  The previous
    dropDuplicates + join-back plan paid a second scan + md5 pass over
    the input for the url↔hash map and re-shuffled the *rendered text*
    to meet it — both gone.  Caveat: a pathological duplicate class (one
    page mirrored 10^6×) materializes its url list in one row; at that
    scale split the class with a secondary group key upstream.

    Adaptive plan choice (r07 continuation, guide §8 — decide with
    SMALL rows): the render kernel is deterministic per payload, so a
    near-distinct corpus gets an IDENTICAL result from rendering every
    row directly — without shuffling a single payload byte.  A cheap
    decision pass (md5 + count/approx_count_distinct: only 16-byte
    hashes move, partial aggregation map-side) measures the duplication
    ratio; below `dedup_ratio_threshold` the payload exchange +
    aggregation + explode cannot pay for the kernel work it saves and
    the direct plan runs instead (the content hash rides through the
    kernel as a passthrough column).  Threshold rationale: locally the
    exchange+agg of N rows costs about as much kernel time as rendering
    0.35·N extra docs; on a network-shuffle cluster the exchange is
    relatively dearer, so 1.5 is conservative in the direction that
    matters.  The decision pass costs one extra payload read (no
    shuffle); `dedup_ratio_threshold=None` disables it and always
    groups (the pre-continuation behaviour).
    """
    from pyspark.sql.types import ArrayType

    hashed = df.select(
        "url", F.md5(F.col("html")).alias("content_hash"), "html"
    )
    make_row = _render_kernel(width, config_kwargs or {})
    if dedup_ratio_threshold is not None:
        stats = hashed.agg(
            F.count("*").alias("n"),
            F.approx_count_distinct("content_hash").alias("d"),
        ).collect()[0]
        if stats["n"] < dedup_ratio_threshold * max(stats["d"], 1):
            schema = StructType(
                RENDER_SCHEMA.fields + [StructField("content_hash", StringType())]
            )
            return map_kernel(
                hashed, make_row, schema, size_col="html_bytes",
                passthrough=("content_hash",),
            )
    if num_partitions:
        # same key as the groupBy below, so the aggregation reuses this
        # exchange instead of adding a second one
        hashed = hashed.repartition(num_partitions, "content_hash")
    grouped = hashed.groupBy("content_hash").agg(
        F.collect_list("url").alias("urls"),
        # all group members are byte-identical (md5 key): any member's
        # html is THE payload, so first() is deterministic in value
        F.first("html").alias("html"),
    )
    schema = StructType(
        RENDER_SCHEMA.fields + [StructField("urls", ArrayType(StringType()))]
    )
    rendered = map_kernel(
        grouped.withColumnRenamed("content_hash", "url"),
        make_row,
        schema,
        size_col="html_bytes",
        passthrough=("urls",),
    )
    return rendered.select(
        F.explode("urls").alias("url"),
        "text",
        "error",
        "html_bytes",
        "text_bytes",
        F.col("url").alias("content_hash"),
    )


def render_metrics(rendered: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics rows for the metrics table."""
    return (
        rendered.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("rows"),
            F.sum(F.when(F.col("error").isNull(), 0).otherwise(1)).alias("errors"),
            F.sum("html_bytes").alias("html_bytes"),
            F.sum("text_bytes").alias("text_bytes"),
        )
    )
