"""The one kernel-operator seam: pruned scan → (optional salted
repartition) → mapInPandas → (optional oversized-row lane).

The reference engine is a document-at-a-time scalar transform
(`text = render(html, width, options)`, the reference's src/lib.rs:3430),
so every operator of the extraction tier has the same Catalyst-visible
plan and differs only in its per-row kernel.  `map_kernel` builds that
plan and runs the per-row loop once; an operator is an executor-side row
function plus its output schema.

Plan side:

- **No pre-kernel shuffle by default.**  `repartition="none"` keeps the
  scan-aligned file splits, so the input never moves through an exchange
  before the kernel (measured ~14% faster at local scale, r07; at 100 TB
  it is the difference between shuffling the corpus once and not).  It is
  correct whenever the input's file layout is not pathologically
  cost-correlated: a sink-written crawl table is already distributed by an
  upstream shuffle, and the outlier lane bounds the one real per-row cost
  hazard (giant documents) regardless of layout.  `repartition="salted"`
  shuffles on `xxhash64(url, salt)` first — the defensive choice for raw
  input whose file layout concentrates expensive pages (e.g. per-host dump
  files), at the cost of moving every payload byte through one exchange.
- **Outlier lane** (`outlier_bytes`).  Rows with `length(payload) >
  outlier_bytes` go to their own `repartition(n, xxhash64(url, salt))`, so
  each oversized document renders alone and one 1 GB page cannot stall a
  task's worth of siblings.  This relies on per-row cost growing linearly
  with bytes (pinned by tests/test_robustness.py).  NULL payloads stay in
  the normal lane (the `coalesce`), so they become NullInput rows instead
  of vanishing from both filter branches.  Its cost, explicitly: the
  length predicate cannot push to parquet, so the two filtered branches
  each read the payload column — a second scan.  That is a deliberate
  trade: the kernel outweighs the scan ~10:1 (BENCH/BASELINE.md puts the
  scan/shuffle section under 5% of wall), so the extra pass costs a few
  percent and buys straggler isolation — oversized docs run in their own
  tasks concurrently with the normal lane instead of serializing at the
  tail of a mixed task.  When the input already isolates or excludes
  giants, or is a derived expression rather than a scan (the second branch
  would recompute it end to end), pass `outlier_bytes=None` for the
  single-scan plan.
- **Single-scan lanes.**  The mixed-payload router
  (operators/pdf.extract_mixed_pages) dispatches HTML and PDF rows inside
  one mapInPandas: both kernels live in the same worker, so routing costs a
  1 KiB memchr, where two filtered branches would read the payload column
  twice because the sniff predicate cannot push to parquet.  It and
  extract_pdf_links take no outlier lane.

Worker side:

- The package is imported lazily inside the worker, after a `sys.path`
  bootstrap: Python workers inherit PYTHONPATH, not the `sys.path` of the
  process that built the plan.  The closures sent to the workers therefore reference no
  package-level function (cloudpickle would pickle it by reference and
  need the package importable before the bootstrap runs); each kernel's
  engine imports happen in its `make_row`, so an HTML worker never imports
  the PDF modules (`pdftext` → `pdfparse` → `pdfcrypt`, which loads
  libcrypto).
- `gc.set_threshold(200_000, 50, 50)`: the engine allocates heavily but
  (with the DOM back-pointers broken) produces no cyclic garbage; raising
  the gen-0 threshold buys ~10% throughput in the worker.
- Never-crash loop: a hostile row becomes an `error` value, never a task
  failure.  A NULL payload reads `NullInput`; a `RenderError` (the
  reference's Error enum, lib.rs:384-400) reads its class name
  (`TooNarrow`, ...); any other exception reads `Fail:<Type>`.  On those
  rows every integer column reads 0, every other column NULL, unless the
  row function set it before failing (lineage such as the sniffed
  encoding) or `defaults` names it; the input-size column reads the
  payload's byte length.  Edge kernels (`edges=True`) emit nothing for a
  NULL or failing page.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructType


def map_kernel(
    df: DataFrame,
    make_row,
    schema: StructType,
    *,
    payload_col: str = "html",
    args: tuple = (),
    passthrough: tuple = (),
    size_col: str | None = None,
    defaults: dict | None = None,
    edges: bool = False,
    num_partitions: int | None = None,
    salt: int = 0,
    repartition: str = "none",
    outlier_bytes: int | None = None,
) -> DataFrame:
    """Run a per-row kernel over `df` (url, payload, ...) → `schema`.

    `make_row()` runs once per task on the executor (do the engine imports
    there) and returns the row function, called with the payload as bytes
    and then one value per `args` column (NULL → None):

    - one-row kernels: `row(rec, payload, *args)` fills the output record
      `rec` (a dict preset as for an error row) in place;
    - `edges=True`: `row(payload, *args)` returns the page's output rows
      as tuples in schema order, url and passthrough columns left out.

    `url` and the `passthrough` columns are copied from the input row onto
    every output row; `size_col` receives the payload's byte length.
    """
    if repartition not in ("salted", "none"):
        raise ValueError(f"repartition must be 'salted' or 'none', got {repartition!r}")
    carry = ("url", *passthrough)
    fields = [f.name for f in schema.fields if f.name not in carry]
    blank = {
        f.name: 0 if isinstance(f.dataType, LongType) else None
        for f in schema.fields
        if f.name in fields
    }
    blank.update(defaults or {})
    fn = _kernel_batches(
        make_row, payload_col, args, carry, fields, blank, size_col, edges
    )

    pages = df.select(*dict.fromkeys(("url", payload_col, *args, *passthrough)))
    if outlier_bytes is not None:
        pages = pages.withColumn(
            "_oversized",
            F.coalesce(F.length(payload_col) > outlier_bytes, F.lit(False)),
        )
        normal = pages.filter(~F.col("_oversized")).drop("_oversized")
        oversized = pages.filter(F.col("_oversized")).drop("_oversized")
    else:
        normal, oversized = pages, None

    n = int(num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    key = F.xxhash64(F.col("url"), F.lit(salt))
    if repartition == "salted":
        normal = normal.repartition(n, key)
    out = normal.mapInPandas(fn, schema)
    if oversized is not None:
        out = out.unionByName(oversized.repartition(n, key).mapInPandas(fn, schema))
    return out


def _kernel_batches(make_row, payload_col, args, carry, fields, blank, size_col, edges):
    """The mapInPandas function.  A closure (pickled by value), so it must
    reach package code only through imports made after the bootstrap."""

    def kernel_batches(batches):
        import gc
        import os
        import sys

        repo = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        if repo not in sys.path:
            sys.path.insert(0, repo)

        import pandas as pd

        from rust_html2text_spark.engine.errors import RenderError

        gc.set_threshold(200_000, 50, 50)
        row = make_row()

        for batch in batches:
            out = {f: [] for f in fields}
            src = []  # input row index of each output row
            argv = [
                batch[c].astype(object).where(batch[c].notna(), None).tolist()
                for c in args
            ]
            for i, payload in enumerate(batch[payload_col]):
                rest = [a[i] for a in argv]
                if isinstance(payload, str):
                    payload = payload.encode("utf-8")
                elif payload is not None:
                    payload = bytes(payload)
                if edges:
                    if payload is None:
                        continue
                    try:
                        rows = row(payload, *rest)
                    except Exception:
                        continue  # an unusable page contributes no edges
                    for values in rows:
                        src.append(i)
                        for f, v in zip(fields, values):
                            out[f].append(v)
                    continue
                rec = dict(blank)
                if payload is None:
                    rec["error"] = "NullInput"
                else:
                    if size_col is not None:
                        rec[size_col] = len(payload)
                    try:
                        row(rec, payload, *rest)
                    except RenderError as e:
                        rec["error"] = type(e).__name__
                    except Exception as e:  # never kill the task
                        rec["error"] = f"Fail:{type(e).__name__}"
                src.append(i)
                for f in fields:
                    out[f].append(rec[f])
            # a numpy take: pandas .iloc costs the worker ~0.4 MB of peak RSS
            frame = {c: batch[c].to_numpy()[src] for c in carry}
            yield pd.DataFrame({**frame, **out})

    return kernel_batches
