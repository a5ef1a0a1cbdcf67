"""Benchmark of rust_html2text_spark: one workload per invocation.

    python3 perfbench/run.py --workload render_flat --seed 1 --seconds 6 --trace 0

Brings up Spark on local[k] (k = min(4, usable cores)), builds the
workload's inputs from the seed (parquet, written before any timing),
repeats the workload's action for about --seconds seconds and checks every
result against HEAD's output totals in record.json (seeds not recorded
there: against an in-process reference).  The last line of stdout is one
JSON object {"correct", "attempted", "failed", "metrics"}:

  --trace 0  end-to-end metrics (docs_per_s, setup_s, worker_peak_rss_mb)
  --trace 1  per-layer metrics from one traced pass (spans written to
             .perfbench_work/traces/), plus the tracing overhead

Exits non-zero without printing a result when the program cannot be
imported or run.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {"docs_per_s": "docs/s", "setup_s": "s", "worker_peak_rss_mb": "MB"}
PER_LAYER = {
    "scan.s": "s",
    "scan.mb": "MB",
    "scan.amplification": "x",
    "handoff.s": "s",
    "handoff.batches": "count",
    "engine.htmlparse.us_per_doc": "us",
    "engine.lower.us_per_doc": "us",
    "engine.render.us_per_doc": "us",
    "engine.extract.us_per_doc": "us",
    "engine.kernel.us_per_doc": "us",
    "engine.kernel_share": "frac",
    "operator.s": "s",
    "operator.build_s": "s",
    "operator.build_jobs": "count",
    "operator.jobs": "count",
    "operator.stages": "count",
    "operator.tasks": "count",
    "operator.task_p50_s": "s",
    "operator.task_max_s": "s",
    "operator.task_failures": "count",
    "operator.outlier_rows": "count",
    "exchange.shuffle_mb": "MB",
    "exchange.fetch_wait_s": "s",
    "sink.s": "s",
    "sink.buckets": "count",
    "sink.scan_amplification": "x",
    "dedup.lsh_s": "s",
    "dedup.pairs": "count",
    "dedup.rounds": "count",
    "dedup.jobs": "count",
    "dedup.s_per_round": "s",
    "trace.overhead_frac": "frac",
    "ledger.remainder_s": "s",
    "ledger.remainder_frac": "frac",
    "check.wrong_rows": "count",
    "check.error_rows_frac": "frac",
}
CACHE_KEEP = 24


def parse_args(argv):
    import gen

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- the program under test ---------------------------------------------------


def prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let workers import the package from the checkout."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM spark-submit starts (launcher and driver): temp files and
    # the perf-data file go to the checkout, not /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def session_conf() -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }


def start_session():
    from rust_html2text_spark.plans.session import get_spark

    spark = get_spark(master=f"local[{cores()}]", extra_conf=session_conf())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark and the JVM it launched, then wait until every process
    they started (JVM, Python worker daemon, workers) has exited."""
    from pyspark import SparkContext

    import spans

    started = spans.descendants()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while True:
        alive = {p for p in started if _running(p)}
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.05)


def _running(pid: int) -> bool:
    """True while the process exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# -- inputs and references ----------------------------------------------------

RECORD = os.path.join(HERE, "record.json")


def cache_key(workload: str, seed: int) -> str:
    """Inputs depend on the seed, the sizes and the benchmark's own code;
    the key leaves the program's code out, so a cached reference is never
    rebuilt by the program it is meant to check."""
    import gen

    h = hashlib.sha256(json.dumps([workload, seed, gen.SIZES[workload]]).encode())
    for name in sorted(os.listdir(HERE)):
        if name.endswith(".py"):
            h.update(name.encode())
            with open(os.path.join(HERE, name), "rb") as fh:
                h.update(fh.read())
    return f"{workload}-{seed}-{h.hexdigest()[:16]}"


class InputCache:
    """One directory per cache key: the generated documents, the
    materialized pages, input.json (the input digest, written last: an
    entry without it is rebuilt) and, once computed, ref.json (the
    in-process reference)."""

    def __init__(self, key: str):
        self.root = os.path.join(WORK, "cache")
        self.dir = os.path.join(self.root, key)
        meta = self.load("input.json")
        self.hit = meta is not None
        self.input_digest = meta and meta["digest"]
        if not self.hit:
            shutil.rmtree(self.dir, ignore_errors=True)
            os.makedirs(self.dir)

    def inputs(self) -> dict:
        names = {"docs": "documents", "pages": "pages", "path_edges": "path_edges"}
        paths = {k: os.path.join(self.dir, v) for k, v in names.items()}
        return {k: p for k, p in paths.items() if os.path.isdir(p)}

    def load(self, name: str) -> dict | None:
        try:
            with open(os.path.join(self.dir, name)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def save(self, name: str, obj: dict) -> None:
        path = os.path.join(self.dir, name)
        with open(path + ".tmp", "w") as fh:
            json.dump(obj, fh)
        os.rename(path + ".tmp", path)
        entries = sorted(
            (os.path.join(self.root, d) for d in os.listdir(self.root)),
            key=os.path.getmtime,
        )
        for old in entries[:-CACHE_KEEP]:
            shutil.rmtree(old, ignore_errors=True)


def load_inputs(spark, workload: str, seed: int) -> tuple[InputCache, dict]:
    """The workload's input tables for this seed, generated and written to
    parquet on first use."""
    import gen

    cache = InputCache(cache_key(workload, seed))
    if cache.hit:
        return cache, cache.inputs()
    inputs = gen.write_documents(workload, seed, cache.dir, gen.SIZES)
    if workload != "dedup_graph":
        gen.materialize_pages(spark, workload, seed, inputs)
    cache.input_digest = gen.input_digest(inputs)
    cache.save("input.json", {"digest": cache.input_digest})
    return cache, inputs


def load_record(workload: str, seed: int) -> dict | None:
    """HEAD's input digest and output totals for this workload and seed,
    from record.json; None when the seed is not recorded."""
    with open(RECORD) as fh:
        return json.load(fh)["workloads"].get(workload, {}).get(str(seed))


def references(wl, spark, workload: str, seed: int, cache: InputCache, inputs: dict):
    """(ref, detail, problems).  `ref` holds the totals every action must
    reproduce: the recorded HEAD output when the seed is in record.json,
    else the in-process reference.  `detail()` is the in-process per-row
    reference, computed on first use and cached; it locates wrong rows."""

    @functools.cache
    def detail() -> dict:
        ref = cache.load("ref.json")
        if ref is None:
            ref = wl.reference(spark, inputs, cores())
            cache.save("ref.json", ref)
        return ref

    recorded = load_record(workload, seed)
    if recorded is None:
        log(f"seed {seed} is not in record.json: checked against the in-process reference only")
        return detail(), detail, []
    problems = []
    if recorded["input"] != cache.input_digest:
        problems.append(f"input digest {cache.input_digest} differs from the recorded "
                        f"{recorded['input']}: the corpus builders changed")
    return recorded, detail, problems


def input_stats(inputs: dict) -> tuple[int, float]:
    """(documents, MB of payload) the workload's action consumes."""
    import pyarrow.parquet as pq

    if "pages" in inputs:
        t = pq.read_table(inputs["pages"], columns=["html"])
        return t.num_rows, sum(len(h) for h in t.column("html").to_pylist()) / 1e6
    t = pq.read_table(inputs["docs"], columns=["text"])
    return t.num_rows, sum(len(x) for x in t.column("text").to_pylist()) / 1e6


def column_bytes(path: str, cols: list[str]) -> int:
    """Compressed bytes of the given columns in a parquet directory — what
    a column-pruned scan has to read (from the files' own metadata)."""
    import pyarrow.parquet as pq

    total = 0
    for name in os.listdir(path):
        if not name.endswith(".parquet"):
            continue
        meta = pq.ParquetFile(os.path.join(path, name)).metadata
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            for c in range(group.num_columns):
                chunk = group.column(c)
                if chunk.path_in_schema in cols:
                    total += chunk.total_compressed_size
    return total


# -- one run ------------------------------------------------------------------


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run(args) -> dict:
    import spans
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    run_id = uuid.uuid4().hex[:12]
    tracer = spans.Tracer(run_id, enabled=bool(args.trace))
    spark = None
    try:
        with tracer.span("run"):
            with tracer.span("setup"):
                t0 = time.perf_counter()
                spark = start_session()
                workloads.warmup(spark)
                setup_s = time.perf_counter() - t0
            with tracer.span("generate"):
                cache, inputs = load_inputs(spark, args.workload, args.seed)
            n_docs, mb = input_stats(inputs)
            log(f"{args.workload} seed={args.seed}: {n_docs} docs, {mb:.2f} MB "
                f"(inputs {'cached' if cache.hit else 'generated'})")
            # untimed: the workload's own plans once on a tiny input, so
            # their first compilation is not inside the measurement
            with tracer.span("prime"):
                wl.prime(spark, inputs, WORK)
            if args.trace:
                out = traced_pass(wl, spark, inputs, tracer)
            else:
                out = timed_pass(args.seconds, wl, spark, inputs, n_docs, mb, setup_s)
            with tracer.span("reference"):
                ref, detail, problems = references(wl, spark, args.workload, args.seed,
                                                   cache, inputs)
                verdict = check_all(wl, out["ctx"], out["results"], ref, detail, n_docs)
            verdict["problems"] += problems
    finally:
        shutdown(spark)
    if args.trace:
        metrics = layer_metrics(args.workload, out, verdict, ref, tracer)
        path = os.path.join(WORK, "traces", f"{args.workload}-{args.seed}-{run_id}.json")
        tracer.dump(path)
        log(f"spans written to {os.path.relpath(path, ROOT)}")
        units = PER_LAYER
    else:
        metrics = out["metrics"]
        units = END_TO_END
    for problem in verdict["problems"]:
        log(f"CHECK FAILED: {problem}")
    return {
        "correct": not verdict["problems"],
        "attempted": verdict["attempted"],
        "failed": verdict["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def action_count(seconds: float, workload: str) -> int:
    """How many actions a timed run makes: a fixed number, sized so that
    on a 4-vCPU VM they take about `seconds`.  Action times fall over a
    fresh JVM's first several actions while the JIT compiles the plan's hot
    paths, so a window that fitted one more action on a faster host would
    also measure a warmer one; a fixed count keeps every run measuring the
    same actions."""
    import workloads

    return max(1, round(seconds / workloads.ACTION_S[workload]))


def timed_pass(seconds: float, wl, spark, inputs, n_docs, mb, setup_s) -> dict:
    import spans
    import workloads

    ctx = workloads.Ctx(spark, inputs, WORK, spans.Tracer("", enabled=False), None)
    n_actions = action_count(seconds, wl.name)
    walls, results, rss = [], [], 0.0
    for _ in range(n_actions):
        t0 = time.perf_counter()
        results.append(wl.run(ctx))
        walls.append(time.perf_counter() - t0)
        rss = max(rss, spans.python_worker_peak_rss_mb())
    # throughput over the timed actions: every input document of every
    # action over their summed wall time
    docs_per_s = n_docs * n_actions / sum(walls)
    q1, med, q3 = quartiles([n_docs / w for w in walls])
    print(f"docs_per_s (docs/s): {docs_per_s:.1f} over {len(walls)} actions of {n_docs} docs "
          f"/ {mb:.2f} MB in {sum(walls):.1f} s  (per action: median {med:.1f}  q1 {q1:.1f}  "
          f"q3 {q3:.1f}; walls {' '.join(f'{w:.2f}' for w in walls)} s)")
    print(f"setup_s (s): {setup_s:.3f}  (JVM start, session, first call)")
    print(f"worker_peak_rss_mb (MB): {rss:.1f}")
    return {
        "ctx": ctx,
        "results": results,
        "metrics": {"docs_per_s": docs_per_s, "setup_s": setup_s, "worker_peak_rss_mb": rss},
    }


def traced_pass(wl, spark, inputs, tracer) -> dict:
    """One pass of every layer measurement, each inside a span and, for
    Spark work, a job group whose counters are read afterwards."""
    import spans
    import workloads

    counters = spans.SparkCounters(spark)
    ctx = workloads.Ctx(spark, inputs, WORK, tracer, counters)
    m: dict = {}
    src = spark.read.parquet(inputs["pages"] if "pages" in inputs else inputs["docs"])
    cols = ["url", "html"] if "pages" in inputs else ["doc_id", "text"]

    m["_scan_bytes"] = column_bytes(inputs["pages"] if "pages" in inputs else inputs["docs"], cols)
    with ctx.step("layer.scan"):
        workloads._noop(src.select(*cols))
    batches = spark.sparkContext.accumulator(0)
    with ctx.step("layer.handoff"):
        workloads._noop(src.select(*cols).mapInPandas(_counting_identity(batches), src.select(*cols).schema))
    m["handoff.batches"] = batches.value
    wl.layers(ctx, m)

    # the operator untraced, then traced: the overhead compares the two
    plain = workloads.Ctx(spark, inputs, WORK, spans.Tracer("", enabled=False), None)
    t0 = time.perf_counter()
    results = [wl.run(plain)]
    m["_untraced_s"] = time.perf_counter() - t0
    with tracer.span("operator"):
        results.append(wl.run(ctx))
    m["operator.s"] = tracer.duration("operator")
    return {"ctx": ctx, "results": results, "metrics": m}


def _counting_identity(acc):
    """mapInPandas identity that counts the Arrow batches handed over."""

    def identity(batches):
        for b in batches:
            acc.add(1)
            yield b

    return identity


def check_all(wl, ctx, results, ref, detail, n_docs: int) -> dict:
    """Check every result against the reference (see `references`).
    attempted counts input documents over all actions; failed counts
    output rows that are wrong, missing, repeated or extra."""
    problems, failed = [], 0
    errors = outliers = 0
    for res in results:
        c = wl.check(ctx, res, ref, detail)
        wl.cleanup(res)
        failed += c["wrong_rows"]
        errors, outliers = c["errors"], c["outlier_rows"]
        problems += c["problems"]
        if c["errors"] != ref["errors"]:
            problems.append(f"{c['errors']} error rows, reference has {ref['errors']}")
    return {"problems": problems, "failed": failed, "attempted": n_docs * len(results),
            "errors": errors, "outlier_rows": outliers}


def _merged(a: dict, b: dict) -> dict:
    return {k: a[k] + b[k] for k in a}


def layer_metrics(workload: str, out, verdict, ref, tracer) -> dict:
    import workloads

    m = dict(out["metrics"])
    st = out["ctx"].stats
    k = cores()
    zero = dict.fromkeys(st["layer.scan"], 0) | {"task_durations_s": []}
    scan, build = st["layer.scan"], st.get("operator.build", zero)
    op = _merged(st["operator.action"], st.get("dedup.components", zero))
    m["scan.s"] = tracer.duration("layer.scan")
    m["scan.mb"] = m.pop("_scan_bytes") / 1e6
    m["scan.amplification"] = op["input_records"] / max(scan["input_records"], 1)
    m["handoff.s"] = tracer.duration("layer.handoff") - m["scan.s"]
    m["operator.build_s"] = tracer.duration("operator.build")
    m["operator.build_jobs"] = build["jobs"]
    m["operator.jobs"] = op["jobs"] + build["jobs"]
    m["operator.stages"] = op["stages"] + build["stages"]
    m["operator.tasks"] = op["tasks"] + build["tasks"]
    durs = op["task_durations_s"] + build["task_durations_s"]
    m["operator.task_p50_s"] = statistics.median(durs) if durs else 0.0
    m["operator.task_max_s"] = max(durs, default=0.0)
    m["operator.task_failures"] = op["task_failures"] + build["task_failures"]
    m["operator.outlier_rows"] = verdict["outlier_rows"]
    m["exchange.shuffle_mb"] = (op["shuffle_write_bytes"] + build["shuffle_write_bytes"]) / 1e6
    m["exchange.fetch_wait_s"] = op["fetch_wait_s"] + build["fetch_wait_s"]

    kernel_wall = m.pop("_kernel_core_s", 0.0) / k
    m["engine.kernel_share"] = kernel_wall / m["operator.s"] if kernel_wall else 0.0
    for key in ("engine.htmlparse.us_per_doc", "engine.lower.us_per_doc",
                "engine.render.us_per_doc", "engine.extract.us_per_doc",
                "engine.kernel.us_per_doc"):
        m.setdefault(key, 0.0)

    m["sink.s"] = m["sink.buckets"] = m["sink.scan_amplification"] = 0
    if workload == "extract_job":
        noop = tracer.duration("sink.operator_noop")
        m["sink.s"] = m["operator.s"] - noop
        m["sink.buckets"] = workloads.BUCKETS
        m["sink.scan_amplification"] = m["scan.amplification"]
        noop_amp = st["sink.operator_noop"]["input_records"] / max(scan["input_records"], 1)
        explained = m["sink.s"] + m["scan.s"] * noop_amp + m["handoff.s"] + kernel_wall
    elif workload == "dedup_graph":
        explained = tracer.duration("dedup.components")
    else:
        explained = m["scan.s"] * m["scan.amplification"] + m["handoff.s"] + kernel_wall

    for key in ("dedup.lsh_s", "dedup.pairs", "dedup.rounds", "dedup.jobs", "dedup.s_per_round"):
        m[key] = 0
    if workload == "dedup_graph":
        res = out["results"][-1]
        m["dedup.lsh_s"] = tracer.duration("dedup.lsh")
        m["dedup.pairs"] = ref["pairs"]
        m["dedup.rounds"] = res["rounds"]
        m["dedup.jobs"] = st["dedup.components"]["jobs"]
        loop = tracer.duration("dedup.components") - m["dedup.lsh_s"]
        m["dedup.s_per_round"] = loop / max(res["rounds"], 1)

    m["ledger.remainder_s"] = m["operator.s"] - explained
    m["ledger.remainder_frac"] = m["ledger.remainder_s"] / m["operator.s"]
    m["trace.overhead_frac"] = 1.0 - m["_untraced_s"] / m["operator.s"]
    m["check.wrong_rows"] = verdict["failed"]
    m["check.error_rows_frac"] = verdict["errors"] / max(ref["rows"], 1)
    for key, unit in PER_LAYER.items():
        print(f"{key} ({unit}): {m[key]:.6g}")
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and waits for its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    prepare_environment()
    try:
        import pyspark  # noqa: F401

        import rust_html2text_spark.operators.render  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under test: {e}")
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
