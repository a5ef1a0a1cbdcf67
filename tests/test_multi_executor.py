"""Multi-executor deployment test: real executor JVMs (local-cluster mode)
with the package shipped via the --py-files zip — the north rule's
`spark-submit --py-files` path, minus only the network."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

pytest.importorskip("pyspark")

REPO = Path(__file__).resolve().parents[1]


def test_local_cluster_render(tmp_path):
    subprocess.run(["sh", str(REPO / "scripts/package_pyfiles.sh")], check=True)
    script = f"""
import sys, os
os.chdir({str(tmp_path)!r})  # workers must not rely on cwd
from pyspark.sql import SparkSession, functions as F
spark = (SparkSession.builder.appName("cluster-test")
    .master("local-cluster[2,2,1024]")
    .config("spark.submit.pyFiles", {str(REPO / 'dist/rust_html2text_spark.zip')!r})
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.executor.memory", "1g")
    .config("spark.ui.enabled", "false")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
spark.sparkContext.addPyFile({str(REPO / 'dist/rust_html2text_spark.zip')!r})
from rust_html2text_spark.sources.corpus import load_pages
from rust_html2text_spark.operators.render import render_pages
pages = load_pages(spark, "/root/testdata/sf0.001").limit(100)
stats = render_pages(pages, width=80).agg(
    F.count("*").alias("n"),
    F.sum(F.when(F.col("error").isNull(), 0).otherwise(1)).alias("err"),
).collect()[0]
assert stats["n"] == 100 and stats["err"] == 0, stats

# the other kernel seams: their row closures must unpickle on a real
# executor from the shipped zip (the mixed one carries both engines)
from rust_html2text_spark.operators.extract import extract_pages
from rust_html2text_spark.operators.pdf import extract_mixed_pages
from rust_html2text_spark.sources.pdfcorpus import build_pdf
ex = extract_pages(pages, width=80).agg(
    F.count("*").alias("n"),
    F.sum(F.when(F.col("error").isNull(), 0).otherwise(1)).alias("err"),
).collect()[0]
assert ex["n"] == 100 and ex["err"] == 0, ex
mixed_rows = [(r["url"], bytes(r["html"])) for r in pages.limit(20).collect()] + [
    (f"https://pdf.example.com/{{i}}", build_pdf(i, "some pdf text", "s")) for i in range(20)
]
mixed = extract_mixed_pages(
    spark.createDataFrame(mixed_rows, "url string, html binary"), width=80
).groupBy("kind").agg(
    F.count("*").alias("n"),
    F.sum(F.when(F.col("error").isNull(), 0).otherwise(1)).alias("err"),
).collect()
assert sorted((r["kind"], r["n"], r["err"]) for r in mixed) == [
    ("html", 20, 0), ("pdf", 20, 0)
], mixed

# WARC ingest through real executors: write archives driver-side, read
# them back distributed, render, and compare against the parquet path
from rust_html2text_spark.sources.warc import read_warc_pages, write_warc_file
rows = pages.collect()
for part in range(2):
    write_warc_file(
        f"part-{{part}}.warc.gz",
        [(r["url"], r["warc_ts"], bytes(r["html"])) for r in rows[part*50:(part+1)*50]],
    )
warc_pages = read_warc_pages(spark, os.path.join(os.getcwd(), "*.warc.gz"))
wstats = render_pages(warc_pages, width=80).agg(
    F.count("*").alias("n"),
    F.sum(F.when(F.col("error").isNull(), 0).otherwise(1)).alias("err"),
).collect()[0]
assert wstats["n"] == 100 and wstats["err"] == 0, wstats

# the crawl loop through real executors: robots gate (mapInPandas rules
# parse must import from the shipped zip on the workers) + sitemap parse
from rust_html2text_spark.functions.robots import frontier_allowed, robots_rules
from rust_html2text_spark.functions.sitemap import sitemap_entries
from rust_html2text_spark.sources.corpus import (
    robots_for_frontier, sitemaps_from_documents, load_documents,
)
edges = spark.createDataFrame(
    [("u", f"https://www.h{{i % 4}}.example.com/up/{{i}}" if i % 2
      else f"https://www.h{{i % 4}}.example.com/doc/{{i}}", "html")
     for i in range(40)],
    "url string, target string, kind string",
)
gated = frontier_allowed(edges, robots_rules(robots_for_frontier(edges)))
g = gated.agg(
    F.count("*").alias("n"),
    F.sum(F.when(F.col("allowed"), 0).otherwise(1)).alias("blocked"),
).collect()[0]
assert g["n"] == 40 and g["blocked"] == 20, g  # every /up/ edge blocked
sm = sitemap_entries(
    sitemaps_from_documents(load_documents(spark, "/root/testdata/sf0.001"))
).count()
assert sm > 500, sm
print("MULTI_EXECUTOR_OK")
spark.stop()
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "MULTI_EXECUTOR_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]
