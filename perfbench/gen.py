"""Seeded input generation for the benchmark workloads.

Every workload starts from one fixed base corpus of crawl-like documents
(`base_documents`, the same shape as the repository's `documents` test
table: 30-word vocabulary, 8-80 words per document, 20 sources, ~5%
near-duplicates that repeat an earlier body with " dup" appended).  The
workload seed only drives selection, ordering and size draws; the HTML
itself is built by the repository's public corpus builders
(`pages_from_documents`, `chrome_pages_from_documents`, `expand_pages`)
and materialized to parquet before anything is timed, so the program
under test only ever sees the parquet files.

The documents are generated and written without Spark (so the self-tests
can check determinism without a JVM); only `build_pages` and
`materialize_pages` need a SparkSession.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
from statistics import NormalDist

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "zh", "es", "fr", "de", "en", "zh", "es", "fr", "de", "en")
N_BASE_DOCS = 5000
BASE_SEED = 42
OUTLIER_BYTES = 1 << 20  # the operators' default outlier-lane threshold
# Every input table is written as this many parquet files, so the scan has
# parallel splits on local[4] (Spark packs two such small files per split).
FILES = 8

# Per-workload sizes.  On a 4-vCPU VM one action takes ~3-5 s for the render
# workloads and ~6-10 s for dedup_graph, whose time is mostly per-job
# latency (label-propagation rounds) rather than data volume.  extract_job's
# pages (median ~10 KB, the low end of real crawl rows) are sized so the
# extract kernel, not the sink's per-bucket job latency, takes most of its
# ~10 s action.
SIZES = {
    "render_flat": {"pages": 3000, "median_docs": 6, "sigma": 1.0, "outliers": 2},
    "render_dup10": {"pages": 600, "median_docs": 6, "sigma": 1.0, "outliers": 1},
    "extract_job": {"pages": 2000, "median_docs": 30, "sigma": 1.0, "outliers": 0},
    "dedup_graph": {"docs": 1000, "path": 8},
}
# Scale-down used by the self-test smoke run (same code path, tiny inputs).
SMOKE_SIZES = {
    "render_flat": {"pages": 60, "median_docs": 3, "sigma": 1.0, "outliers": 1},
    "render_dup10": {"pages": 20, "median_docs": 3, "sigma": 1.0, "outliers": 0},
    "extract_job": {"pages": 40, "median_docs": 2, "sigma": 0.8, "outliers": 0},
    "dedup_graph": {"docs": 200, "path": 4},
}
WORKLOADS = tuple(SIZES)


def base_documents() -> list[dict]:
    """The fixed base corpus: `documents`-table rows
    (doc_id, text, lang, source, n_chars), identical on every call."""
    rng = random.Random(BASE_SEED)
    docs: list[dict] = []
    for i in range(N_BASE_DOCS):
        if i >= 20 and rng.random() < 0.05:
            text = docs[rng.randrange(i)]["text"] + " dup"
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 80)))
        docs.append(
            {
                "doc_id": i,
                "text": text,
                "lang": LANGS[rng.randrange(len(LANGS))],
                "source": f"src{i % 20}",
                "n_chars": len(text),
            }
        )
    return docs


def _stratified_counts(rng: random.Random, n: int, median: float, sigma: float) -> list[int]:
    """n draws from a lognormal (heavy right tail), one per equal-probability
    stratum, in seeded order: every seed gets nearly the same size
    distribution (so docs/s does not swing with the seed) while which page
    gets which size is seeded."""
    dist = NormalDist(math.log(median), sigma)
    counts = []
    for i in range(n):
        p = (i + rng.random()) / n
        p = min(max(p, 1e-9), 1 - 1e-9)
        counts.append(max(1, round(math.exp(dist.inv_cdf(p)))))
    rng.shuffle(counts)
    return counts


def page_documents(seed: int, pages: int, median_docs: float, sigma: float, outliers: int) -> list[dict]:
    """`documents` rows whose bodies are concatenations of whole base
    document bodies: a heavy-tailed count per page (median `median_docs`),
    plus `outliers` pages grown past the outlier-lane byte threshold.

    Outlier pages take doc_ids ≡ 0 (mod 4), the paragraph archetype of
    `pages_from_documents`, so every seed puts the same kind of giant page
    on the outlier lane.  doc_ids are a seeded sample, so url order and the
    archetype of the normal pages (doc_id % 4) are seeded too."""
    base = base_documents()
    rng = random.Random(seed)
    normal_ids = rng.sample(range(1, 50 * pages + 1), pages)
    # multiples of 4 above every normal id: disjoint, paragraph archetype
    outlier_ids = [4 * (50 * pages + j) for j in rng.sample(range(1, 1000), outliers)]
    rows = []
    counts = _stratified_counts(rng, pages, median_docs, sigma)
    for did, k in zip(normal_ids, counts):
        picked = rng.sample(base, k)
        rows.append(_doc_row(did, picked))
    for did in outlier_ids:
        target = OUTLIER_BYTES + rng.randrange(1, 1 << 16)
        picked, size = [], 0
        while size <= target:
            d = base[rng.randrange(len(base))]
            picked.append(d)
            size += len(d["text"]) + 1
        rows.append(_doc_row(did, picked))
    rng.shuffle(rows)
    return rows


def _doc_row(doc_id: int, picked: list[dict]) -> dict:
    text = " ".join(d["text"] for d in picked)
    return {
        "doc_id": doc_id,
        "text": text,
        "lang": picked[0]["lang"],
        "source": picked[0]["source"],
        "n_chars": len(text),
    }


def dedup_inputs(seed: int, docs: int, path: int) -> tuple[list[dict], list[tuple[int, int]]]:
    """A seeded selection of base documents under fresh, seeded doc_ids
    (the base near-duplicates come along, so LSH finds real pairs) and a
    long path component: the deep graph that makes label propagation take
    O(log path) rounds.

    The path runs over its own ids, above every document id and in
    decreasing order, so it is one isolated component whose shape — and so
    the number of rounds dup_components needs — is the same for every
    seed; only the id values are seeded."""
    base = base_documents()
    rng = random.Random(seed)
    picked = rng.sample(base, docs)
    new_ids = rng.sample(range(1, 20 * docs), docs)
    rows = [{**d, "doc_id": nid} for d, nid in zip(picked, new_ids)]
    chain = sorted(rng.sample(range(20 * docs, 40 * docs), path), reverse=True)
    edges = [(min(a, b), max(a, b)) for a, b in zip(chain, chain[1:])]
    return rows, edges


def rows_digest(rows: list[dict]) -> str:
    """Order-sensitive sha256 of generated rows — the self-test's
    'same seed, same input' fingerprint."""
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(sorted(r.items())).encode("utf-8"))
    return h.hexdigest()


def table_digest(path: str) -> str:
    """sha256 over a parquet directory's rows in sorted order — independent
    of file names and of how rows were split into files."""
    import pyarrow.parquet as pq

    rows = pq.read_table(path).to_pylist()
    return rows_digest(sorted(rows, key=repr))


def input_digest(inputs: dict) -> str:
    """Digest of every input table of a workload: what record.json pins, so
    a change to the corpus builders cannot pass for a change of output."""
    h = hashlib.sha256()
    for name, path in sorted(inputs.items()):
        h.update(f"{name}={table_digest(path)};".encode())
    return h.hexdigest()[:16]


def _write_rows(rows: list, path: str, schema=None) -> None:
    """Write rows, in order, as FILES parquet files of near-equal size."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=schema)
    step = -(-table.num_rows // FILES)
    for i in range(0, table.num_rows, step):
        pq.write_table(table.slice(i, step), os.path.join(path, f"part-{i // step}.parquet"))


def write_documents(workload: str, seed: int, out_dir: str, sizes: dict) -> dict:
    """Write the workload's generated `documents` table (and, for
    dedup_graph, the path edges) with pyarrow; returns {name: path}."""
    import pyarrow as pa

    sz = sizes[workload]
    inputs = {"docs": os.path.join(out_dir, "documents")}
    if workload == "dedup_graph":
        rows, edges = dedup_inputs(seed, sz["docs"], sz["path"])
        inputs["path_edges"] = os.path.join(out_dir, "path_edges")
        schema = pa.schema([("doc_a", pa.int64()), ("doc_b", pa.int64())])
        _write_rows([{"doc_a": a, "doc_b": b} for a, b in edges], inputs["path_edges"], schema)
    else:
        rows = page_documents(seed, sz["pages"], sz["median_docs"], sz["sigma"], sz["outliers"])
    _write_rows(rows, inputs["docs"])
    return inputs


def build_pages(workload: str, docs):
    """The workload's pages DataFrame from a documents DataFrame, built
    only by the repository's public corpus builders."""
    from rust_html2text_spark.sources.corpus import (
        chrome_pages_from_documents,
        expand_pages,
        pages_from_documents,
    )

    if workload == "extract_job":
        return chrome_pages_from_documents(docs)
    pages = pages_from_documents(docs)
    if workload == "render_dup10":
        pages = expand_pages(pages, 10, dup_factor=10)
    return pages


def materialize_pages(spark, workload: str, seed: int, inputs: dict) -> None:
    """Write the pages parquet next to the documents (page workloads only):
    FILES files, rows dealt to them and ordered within them by a seeded
    hash of the url."""
    from pyspark.sql import functions as F

    key = F.xxhash64("url", F.lit(seed))
    pages = build_pages(workload, spark.read.parquet(inputs["docs"]))
    pages = pages.repartition(FILES, key).sortWithinPartitions(key)
    inputs["pages"] = os.path.join(os.path.dirname(inputs["docs"]), "pages")
    pages.write.parquet(inputs["pages"])
