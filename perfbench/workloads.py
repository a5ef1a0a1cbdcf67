"""The four benchmark workloads: how each one warms up, what its timed
action is, how its output is checked, and which layers its traced run
measures.

Every call into the program goes through the public entry points of
`sources`, `operators`, `engine` and `functions`; the benchmark never
reaches into private helpers.
"""

from __future__ import annotations

import os
import shutil
import uuid

import gen
import oracle
from gen import OUTLIER_BYTES
from spans import SparkCounters, Tracer

WIDTH = oracle.WIDTH
BUCKETS = 2
ENGINE_SLICE = 150  # pages in the in-process engine-phase sample
# Typical wall time of one timed action in a fresh JVM on a 4-vCPU VM,
# averaged over its first two actions (dedup_graph ~10 s then ~7 s,
# extract_job ~10 s then ~8.5 s): a timed run of `seconds` makes
# round(seconds / ACTION_S) actions.
ACTION_S = {"render_flat": 4.0, "render_dup10": 4.0, "extract_job": 9.0, "dedup_graph": 8.5}


class Ctx:
    """What one run knows: the session, the inputs, where scratch output
    goes, and (in the traced run) the tracer and Spark counters."""

    def __init__(self, spark, inputs: dict, work_dir: str, tracer: Tracer, counters: SparkCounters | None):
        self.spark = spark
        self.inputs = inputs
        self.work_dir = work_dir
        self.tracer = tracer
        self.counters = counters
        self.stats: dict[str, dict] = {}

    def step(self, name: str):
        """Span + job group around one call into the program (job group only
        when tracing, so timed runs set no job properties)."""
        return _Step(self, name)

    def fresh_dir(self, name: str) -> str:
        return os.path.join(self.work_dir, f"{name}-{uuid.uuid4().hex[:12]}")


class _Step:
    def __init__(self, ctx: Ctx, name: str):
        self.ctx, self.name = ctx, name

    def __enter__(self):
        self._span = self.ctx.tracer.span(self.name)
        self._span.__enter__()
        self._group = None
        if self.ctx.counters is not None:
            self._group = self.ctx.counters.group(self.name)
            self.gid = self._group.__enter__()
        return self

    def __exit__(self, *exc):
        if self._group is not None:
            self._group.__exit__(*exc)
            if exc[0] is None:
                self.ctx.stats[self.name] = self.ctx.counters.stats(self.gid)
        self._span.__exit__(*exc)
        return False


def warmup(spark) -> None:
    """A session's first call: render four tiny pages in one task, which
    starts the Python worker daemon, spawns a worker and imports the engine
    in it.  The same call for every workload, so set-up time means the same
    thing everywhere."""
    from rust_html2text_spark.operators.render import render_pages

    pages = spark.createDataFrame(
        [(f"https://warmup.example.com/{i}", f"<p>warm-up page {i}</p>".encode()) for i in range(4)],
        "url string, html binary",
    ).coalesce(1)
    _noop(render_pages(pages, width=WIDTH, outlier_bytes=None))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _summary(df) -> dict:
    """One aggregation: rows, error rows, outlier rows, byte totals and the
    order-independent output digest."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count("*").alias("rows"),
        F.count("error").alias("errors"),
        F.sum((F.col("html_bytes") > OUTLIER_BYTES).cast("long")).alias("outlier_rows"),
        F.sum("html_bytes").alias("html_bytes"),
        F.sum("text_bytes").alias("text_bytes"),
        F.sum(oracle.digest_col()).alias("digest"),
    ).collect()[0]
    return {k: int(row[k] or 0) for k in row.asDict()}


def _mismatch(wrong: int, rows: int) -> str:
    """The problem to report when an action's totals differ from the
    reference.  With no row differing from the in-process reference, the
    program agrees with itself (its engine, or its own LSH pairs) but not
    with the recorded HEAD output; lacking HEAD's per-row hashes, every
    row of the action then counts as failed."""
    if wrong:
        return f"{wrong} rows differ from the in-process reference"
    return (f"all {rows} output rows agree with this program's own reference, but their "
            "totals differ from the HEAD output in record.json")


class PageWorkload:
    """render_flat / render_dup10 / extract_job: pages in, text out."""

    def __init__(self, name: str, kernel: str, dedup: bool = False, sink: bool = False):
        self.name, self.kernel, self.dedup, self.sink = name, kernel, dedup, sink

    # -- the operator, exactly as a user builds it --------------------------
    def operator(self, pages):
        from rust_html2text_spark.operators.extract import extract_pages
        from rust_html2text_spark.operators.render import (
            render_pages,
            render_pages_deduped,
        )

        if self.kernel == "extract":
            return extract_pages(pages, width=WIDTH)
        if self.dedup:
            return render_pages_deduped(pages, width=WIDTH)
        return render_pages(pages, width=WIDTH)

    def pages(self, ctx: Ctx):
        return ctx.spark.read.parquet(ctx.inputs["pages"])

    def prime(self, spark, inputs: dict, work_dir: str) -> None:
        """One task per core, so every Python worker the action will use is
        already spawned and has imported the engine; a writing workload also
        writes and re-reads the tiny result once (parquet writer and reader
        paths compiled before the timed job)."""
        k = spark.sparkContext.defaultParallelism
        tiny = spark.read.parquet(inputs["docs"]).limit(4 * k).repartition(k)
        out = self.operator(gen.build_pages(self.name, tiny))
        if not self.sink:
            _noop(out)
            return
        path = os.path.join(work_dir, f"prime-{uuid.uuid4().hex[:12]}")
        try:
            out.write.parquet(path)
            spark.read.parquet(path).count()
        finally:
            shutil.rmtree(path, ignore_errors=True)

    # -- the timed action ---------------------------------------------------
    def run(self, ctx: Ctx) -> dict:
        with ctx.step("source.read"):
            pages = self.pages(ctx)
        if self.sink:
            return self._run_job(ctx, pages)
        with ctx.step("operator.build"):
            out = self.operator(pages)
        with ctx.step("operator.action"):
            return _summary(out)

    def _run_job(self, ctx: Ctx, pages) -> dict:
        from rust_html2text_spark.sources.sink import run_with_resume

        out_dir = ctx.fresh_dir("job_out")
        with ctx.step("operator.action"):
            summary = run_with_resume(
                pages, out_dir, width=WIDTH, num_buckets=BUCKETS, operator=self.operator
            )
        return {"out_dir": out_dir, "summary": summary}

    # -- checks (untimed) ---------------------------------------------------
    def reference(self, spark, inputs: dict, procs: int) -> dict:
        return oracle.page_reference(inputs["pages"], self.kernel, procs)

    def check(self, ctx: Ctx, result: dict, ref: dict, detail) -> dict:
        """{"rows", "errors", "wrong_rows", "problems"} for one timed result,
        checked against the totals in `ref`; `detail()` is the in-process
        per-row reference that locates the wrong rows."""
        problems = []
        if self.sink:
            result, problems = self._check_job(ctx, result)
        wrong = 0
        if result["digest"] != ref["digest"] or result["rows"] != ref["rows"]:
            wrong = self._wrong_rows(ctx, result, detail())
            problems.append(_mismatch(wrong, result["rows"]))
            wrong = wrong or max(result["rows"], ref["rows"])
        return {"rows": result["rows"], "errors": result["errors"], "wrong_rows": wrong,
                "outlier_rows": result["outlier_rows"], "problems": problems}

    def _written(self, ctx: Ctx, out_dir: str):
        return ctx.spark.read.parquet(out_dir)

    def _check_job(self, ctx: Ctx, result: dict) -> tuple[dict, list[str]]:
        """Summarize the written table and check the snapshot manifest's
        totals against it."""
        from rust_html2text_spark.sources.sink import current_snapshot

        out_dir = result["out_dir"]
        summ = _summary(self._written(ctx, out_dir))
        snap = current_snapshot(out_dir) or {}
        problems = [
            f"snapshot {k}={snap.get(k)} but the written table has {summ[k]}"
            for k in ("rows", "errors", "html_bytes", "text_bytes")
            if snap.get(k) != summ[k]
        ]
        if snap.get("buckets") != BUCKETS:
            problems.append(f"snapshot buckets={snap.get('buckets')}, expected {BUCKETS}")
        summ["out_dir"] = out_dir
        return summ, problems

    def _wrong_rows(self, ctx: Ctx, result: dict, ref: dict) -> int:
        """Rows missing, extra, repeated or different from the reference."""
        if self.sink:
            out = self._written(ctx, result["out_dir"])
        else:
            out = self.operator(self.pages(ctx))
        got, repeated = {}, 0
        for r in out.select("url", oracle.digest_col().alias("h")).collect():
            repeated += r["url"] in got
            got[r["url"]] = int(r["h"])
        want = ref["per_url"]
        wrong = sum(1 for u, h in want.items() if got.get(u) != h)
        return wrong + sum(1 for u in got if u not in want) + repeated

    def cleanup(self, result: dict) -> None:
        if self.sink:
            shutil.rmtree(result["out_dir"], ignore_errors=True)

    # -- traced-run layers --------------------------------------------------
    def layers(self, ctx: Ctx, metrics: dict) -> None:
        """Layer measurements specific to this workload (beyond scan, hand-off
        and the operator window, which every workload measures)."""
        self._engine_phases(ctx, metrics)
        if self.sink:
            with ctx.step("sink.operator_noop"):
                _noop(self.operator(self.pages(ctx)))

    def _engine_phases(self, ctx: Ctx, metrics: dict) -> None:
        """Per-phase engine cost, in process, over a fixed seeded slice of
        this workload's own (non-outlier) pages: parse, lower, render+wrap
        (and, for extraction, strip/score/links), each phase run over the
        whole slice inside one span."""
        import random

        import pyarrow.parquet as pq

        from rust_html2text_spark.engine import api
        from rust_html2text_spark.engine.extract import extract_main_ex, extract_main_node, links_from_node

        table = pq.read_table(ctx.inputs["pages"], columns=["url", "html"])
        htmls = sorted(set(h for h in table.column("html").to_pylist() if len(h) <= OUTLIER_BYTES))
        sample = random.Random(0).sample(htmls, min(ENGINE_SLICE, len(htmls)))
        n = len(sample)
        with ctx.tracer.span("engine"):
            with ctx.tracer.span("engine.htmlparse"):
                doms = [api.parse(h) for h in sample]
            with ctx.tracer.span("engine.lower"):
                trees = [api.dom_to_tree(d) for d in doms]
            with ctx.tracer.span("engine.render"):
                texts = [api.render_to_string(t, WIDTH) for t in trees]
            del doms, trees, texts
            doms = [api.parse(h) for h in sample]
            with ctx.tracer.span("engine.extract"):
                for d in doms:
                    winner, _ = extract_main_node(d)
                    links_from_node(winner)
            del doms
            with ctx.tracer.span("engine.kernel"):
                if self.kernel == "extract":
                    for h in sample:
                        extract_main_ex(h, WIDTH)
                else:
                    for h in sample:
                        api.html_to_text(h, WIDTH)
        t = ctx.tracer
        for phase in ("htmlparse", "lower", "render", "extract", "kernel"):
            metrics[f"engine.{phase}.us_per_doc"] = t.duration(f"engine.{phase}") / n * 1e6
        sample_bytes = sum(len(h) for h in sample)
        kernel_bytes = sum(len(h) for h in (set(table.column("html").to_pylist())
                                            if self.dedup else table.column("html").to_pylist()))
        metrics["_kernel_core_s"] = t.duration("engine.kernel") / sample_bytes * kernel_bytes


class DedupWorkload:
    """dedup_graph: LSH candidate pairs ∪ a long path → connected components
    → keep one document per component → count."""

    name = "dedup_graph"
    kernel = None
    sink = False

    def prime(self, spark, inputs: dict, work_dir: str) -> None:
        from rust_html2text_spark.functions.dedup import lsh_candidate_pairs

        _noop(lsh_candidate_pairs(spark.read.parquet(inputs["docs"]).limit(16)))

    def run(self, ctx: Ctx) -> dict:
        from pyspark.sql import functions as F

        from rust_html2text_spark.functions.dedup import dup_components, lsh_candidate_pairs

        spark = ctx.spark
        with ctx.step("source.read"):
            docs = spark.read.parquet(ctx.inputs["docs"])
            path = spark.read.parquet(ctx.inputs["path_edges"])
        with ctx.step("operator.build"):
            pairs = lsh_candidate_pairs(docs).unionByName(path)
        with ctx.step("operator.action"):
            stats: dict = {}
            with ctx.step("dedup.components"):
                comp = dup_components(pairs, stats=stats)
            losers = comp.filter(F.col("component_id") != F.col("doc_id")).select("doc_id")
            row = docs.join(losers, "doc_id", "left_anti").agg(
                F.count("*").alias("n"), F.sum(oracle.id_digest_col()).alias("d")
            ).collect()[0]
        return {"rows": row["n"], "errors": 0, "digest": int(row["d"] or 0),
                "outlier_rows": 0, "rounds": stats["rounds"], "converged": stats["converged"]}

    def reference(self, spark, inputs: dict, procs: int) -> dict:
        """Union-find over the candidate pairs Spark finds (collected once,
        untimed) plus the generated path edges."""
        import pyarrow.parquet as pq

        from rust_html2text_spark.functions.dedup import lsh_candidate_pairs

        pairs = [
            (r["doc_a"], r["doc_b"])
            for r in lsh_candidate_pairs(spark.read.parquet(inputs["docs"])).collect()
        ]
        path = pq.read_table(inputs["path_edges"]).to_pylist()
        ids = pq.read_table(inputs["docs"], columns=["doc_id"]).column("doc_id").to_pylist()
        ref = oracle.dedup_reference(ids, pairs + [(r["doc_a"], r["doc_b"]) for r in path])
        ref["pairs"] = len(pairs)
        return ref

    def check(self, ctx: Ctx, result: dict, ref: dict, detail) -> dict:
        problems = []
        wrong = 0
        if not result["converged"]:
            problems.append("dup_components did not converge")
        if result["digest"] != ref["digest"] or result["rows"] != ref["rows"]:
            wrong = self._wrong_rows(ctx, detail())
            problems.append(_mismatch(wrong, result["rows"]))
            wrong = wrong or max(result["rows"], ref["rows"])
        return {"rows": result["rows"], "errors": 0, "wrong_rows": wrong,
                "outlier_rows": 0, "problems": problems}

    def _wrong_rows(self, ctx: Ctx, ref: dict) -> int:
        """Documents kept by exactly one of Spark and the reference."""
        from pyspark.sql import functions as F

        from rust_html2text_spark.functions.dedup import dup_components, lsh_candidate_pairs

        spark = ctx.spark
        docs = spark.read.parquet(ctx.inputs["docs"])
        pairs = lsh_candidate_pairs(docs).unionByName(spark.read.parquet(ctx.inputs["path_edges"]))
        comp = dup_components(pairs)
        losers = comp.filter(F.col("component_id") != F.col("doc_id")).select("doc_id")
        got = {r["doc_id"] for r in docs.join(losers, "doc_id", "left_anti").collect()}
        return len(got ^ set(ref["kept"]))

    def cleanup(self, result: dict) -> None:
        pass

    def layers(self, ctx: Ctx, metrics: dict) -> None:
        from rust_html2text_spark.functions.dedup import lsh_candidate_pairs

        with ctx.step("dedup.lsh"):
            _noop(lsh_candidate_pairs(ctx.spark.read.parquet(ctx.inputs["docs"])))


WORKLOADS = {
    "render_flat": PageWorkload("render_flat", "render"),
    "render_dup10": PageWorkload("render_dup10", "render", dedup=True),
    "extract_job": PageWorkload("extract_job", "extract", sink=True),
    "dedup_graph": DedupWorkload(),
}
