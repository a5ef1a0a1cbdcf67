"""In-process reference results the benchmark checks Spark's output against.

Render and extract workloads: every row's (url, text, error) is computed
outside Spark with the engine's own entry points (`engine.api.html_to_text`,
`engine.extract.extract_main_ex`) on the same parquet bytes, with the same
per-row error mapping as the operators, in at most `nproc` worker
processes (this file, run as a script).  Each
row is reduced to a 60-bit md5 prefix; the Spark side computes the same
value per row with built-in expressions and sums it inside the timed
action, so the comparison is order-independent and costs no extra job.

Dedup workload: connected components by an in-process union-find over
the candidate pairs Spark produced plus the generated path edges; the kept
set is every document that is the minimum of its component.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

SEP = "\x1f"
NULL = "\x00"
WIDTH = 80


def row_hash(url: str, text: str | None, error: str | None) -> int:
    """The per-row digest: first 15 hex digits of md5(url SEP text SEP error),
    NULLs spelled as NUL.  `digest_col` is the same formula in Spark SQL."""
    s = SEP.join((url, NULL if text is None else text, NULL if error is None else error))
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def digest_col(url: str = "url", text: str = "text", error: str = "error"):
    """Spark column computing `row_hash` for each row, as decimal(38,0) so
    the sum over any number of rows cannot overflow."""
    from pyspark.sql import functions as F

    s = F.concat_ws(
        SEP,
        F.col(url),
        F.coalesce(F.col(text), F.lit(NULL)),
        F.coalesce(F.col(error), F.lit(NULL)),
    )
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("decimal(38,0)")


def id_hash(doc_id: int) -> int:
    """Digest of one kept document id (dedup workload)."""
    return int(hashlib.md5(str(doc_id).encode("utf-8")).hexdigest()[:15], 16)


def id_digest_col(col: str = "doc_id"):
    from pyspark.sql import functions as F

    return F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10
    ).cast("decimal(38,0)")


def _kernel(kernel: str):
    """The engine entry point a workload's operator runs per row."""
    if kernel == "extract":
        from rust_html2text_spark.engine.extract import extract_main_ex

        return lambda h: extract_main_ex(h, WIDTH)["text"]
    from rust_html2text_spark.engine.api import html_to_text

    return lambda h: html_to_text(h, WIDTH)


def _reference_part(pages_path: str, kernel: str, part: int, parts: int) -> list:
    """[url, row_hash, is_error] for every url whose payload falls in this
    part.  Byte-identical payloads are rendered once (the engine is a pure
    function of the bytes); payloads are dealt out in size order so every
    part gets a similar amount of work."""
    import pyarrow.parquet as pq

    from rust_html2text_spark.engine.errors import RenderError

    table = pq.read_table(pages_path, columns=["url", "html"])
    urls = table.column("url").to_pylist()
    htmls = table.column("html").to_pylist()
    payloads = sorted(set(htmls), key=lambda h: (-len(h), h))[part::parts]
    run = _kernel(kernel)
    results = {}
    for h in payloads:
        try:
            results[h] = (run(h), None)
        except RenderError as e:  # the operators' per-row error mapping
            results[h] = (None, type(e).__name__)
        except Exception as e:
            results[h] = (None, f"Fail:{type(e).__name__}")
    out = []
    for url, h in zip(urls, htmls):
        if h in results:
            text, error = results[h]
            out.append([url, row_hash(url, text, error), error is not None])
    return out


def page_reference(pages_path: str, kernel: str, procs: int) -> dict:
    """Reference for a pages parquet: {url: row_hash} plus totals, computed
    by `procs` worker processes (this file run as a script), each waited
    for before returning."""
    from concurrent.futures import ThreadPoolExecutor

    def part(k: int) -> list:
        cmd = [sys.executable, os.path.abspath(__file__), pages_path, kernel, str(k), str(procs)]
        done = subprocess.run(cmd, capture_output=True, check=False)
        if done.returncode != 0:
            raise RuntimeError(f"reference worker failed: {done.stderr.decode()[-2000:]}")
        return json.loads(done.stdout)

    with ThreadPoolExecutor(procs) as pool:
        parts = list(pool.map(part, range(procs)))
    per_url, errors = {}, 0
    for rows in parts:
        for url, v, is_error in rows:
            per_url[url] = v
            errors += is_error
    return {"rows": len(per_url), "errors": errors, "digest": sum(per_url.values()),
            "per_url": per_url}


def components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find: node → minimum node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def dedup_reference(doc_ids: list[int], pairs: list[tuple[int, int]]) -> dict:
    """Kept documents after keep-the-minimum-per-component dedup."""
    comp = components(pairs)
    kept = [d for d in doc_ids if comp.get(d, d) == d]
    return {
        "rows": len(kept),
        "errors": 0,
        "digest": sum(id_hash(d) for d in kept),
        "kept": kept,
    }


if __name__ == "__main__":
    # reference worker: oracle.py <pages parquet> <kernel> <part> <parts>
    path, kern, k, n = sys.argv[1:5]
    json.dump(_reference_part(path, kern, int(k), int(n)), sys.stdout)
