"""Self-tests of the benchmark harness (not of the program it measures).

    python3 -m pytest perfbench/tests -q

The span and generator tests need no JVM.  The smoke tests share one
local Spark session and run every workload at SMOKE_SIZES through the
same build → action → reference → check path the benchmark uses.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "parent": parent, "run_id": "r", "start": start,
            "end": end, "attrs": {}}


def test_self_time_subtracts_direct_children_once():
    tree = [
        _span(0, "run", 0.0, 10.0),
        _span(1, "operator", 1.0, 7.0, parent=0),
        _span(2, "build", 1.0, 2.0, parent=1),
        _span(3, "action", 2.0, 6.0, parent=1),
        _span(4, "inner", 3.0, 4.0, parent=3),
        _span(5, "overlap", 5.5, 8.0, parent=1),  # clipped to its parent
    ]
    st = spans.self_times(tree)
    assert st["run"] == pytest.approx(4.0)
    assert st["operator"] == pytest.approx(6.0 - 1.0 - 4.0 - 1.0)
    assert st["action"] == pytest.approx(3.0)
    assert st["inner"] == pytest.approx(1.0)


def test_self_time_merges_overlapping_children_and_sums_repeated_names():
    tree = [
        _span(0, "p", 0.0, 10.0),
        _span(1, "c", 1.0, 4.0, parent=0),
        _span(2, "c", 3.0, 6.0, parent=0),
        _span(3, "p", 20.0, 21.0),
    ]
    st = spans.self_times(tree)
    assert st["p"] == pytest.approx(10.0 - 5.0 + 1.0)
    assert st["c"] == pytest.approx(6.0)


def test_tracer_records_parents_and_disabled_tracer_records_nothing():
    t = spans.Tracer("run-1")
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [(s["name"], s["parent"], s["run_id"]) for s in t.spans] == [
        ("outer", None, "run-1"), ("inner", 0, "run-1")]
    off = spans.Tracer("x", enabled=False)
    with off.span("outer"):
        pass
    assert off.spans == []


def test_generator_is_deterministic_per_seed():
    for name, sz in gen.SIZES.items():
        if name == "dedup_graph":
            a = gen.dedup_inputs(1, **sz)
            b = gen.dedup_inputs(1, **sz)
            c = gen.dedup_inputs(2, **sz)
            digest = lambda x: gen.rows_digest(x[0]) + repr(x[1])  # noqa: E731
        else:
            a = gen.page_documents(1, **sz)
            b = gen.page_documents(1, **sz)
            c = gen.page_documents(2, **sz)
            digest = gen.rows_digest
        assert digest(a) == digest(b), name
        assert digest(a) != digest(c), name


def test_page_sizes_are_heavy_tailed_with_outliers():
    sz = gen.SIZES["render_flat"]
    rows = gen.page_documents(5, **sz)
    lengths = sorted(r["n_chars"] for r in rows)
    assert sum(n > gen.OUTLIER_BYTES for n in lengths) == sz["outliers"]
    assert 1000 < lengths[len(lengths) // 2] < 10_000
    assert all(r["doc_id"] % 4 == 0 for r in rows if r["n_chars"] > gen.OUTLIER_BYTES)


def test_dedup_path_shape_does_not_depend_on_seed():
    for seed in (1, 2, 3):
        docs, edges = gen.dedup_inputs(seed, 50, 8)
        ids = {d["doc_id"] for d in docs}
        nodes = [a for a, _ in edges] + [edges[-1][1]]
        assert len(edges) == 7 and not ids & set(nodes)
        assert all(b < a for (a, _), (b, _) in zip(edges, edges[1:]))


def test_union_find_keeps_component_minimum():
    ref = oracle.dedup_reference([1, 2, 3, 4, 9], [(3, 2), (4, 3), (9, 7)])
    assert sorted(ref["kept"]) == [1, 2]
    assert ref["rows"] == 2


def test_benchmark_json_matches_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(gen.WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_timed_runs_make_a_fixed_count_of_at_least_two_actions():
    """The first action of a fresh JVM is the slowest; a timed run of
    BENCHMARK.json's length never rests on it alone."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        assert run.action_count(spec["run_seconds"], w["name"]) >= 2, w["name"]
    assert run.action_count(0.0, "dedup_graph") == 1


def test_record_covers_every_benchmark_workload():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = [w["name"] for w in json.load(fh)["workloads"]]
    with open(run.RECORD) as fh:
        record = json.load(fh)
    first, last = record["seeds"]
    for name in names:
        entries = record["workloads"][name]
        assert sorted(map(int, entries)) == list(range(first, last + 1)), name
        for e in entries.values():
            assert {"input", "rows", "errors", "digest"} <= set(e) and e["rows"] > 0


def test_cli_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    done = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dedup_graph", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert done.returncode != 0
    assert '"metrics"' not in done.stdout


# -- smoke: every workload end to end at tiny scale, one shared session --------


@pytest.fixture(scope="module")
def spark():
    run.prepare_environment()
    session = run.start_session()
    workloads.warmup(session)
    yield session
    run.shutdown(session)


def _inputs(spark, workload, seed, path):
    inputs = gen.write_documents(workload, seed, str(path), gen.SMOKE_SIZES)
    if workload != "dedup_graph":
        gen.materialize_pages(spark, workload, seed, inputs)
    return inputs


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_smoke_workload_matches_reference(spark, workload, tmp_path):
    inputs = _inputs(spark, workload, 11, tmp_path)
    wl = workloads.WORKLOADS[workload]
    n_docs, mb = run.input_stats(inputs)
    out = run.timed_pass(0.0, wl, spark, inputs, n_docs, mb, 1.0)
    assert set(out["metrics"]) == set(run.END_TO_END)
    assert out["metrics"]["docs_per_s"] > 0 and out["metrics"]["worker_peak_rss_mb"] > 0
    ref = wl.reference(spark, inputs, 1)
    verdict = run.check_all(wl, out["ctx"], out["results"], ref, lambda: ref, n_docs)
    assert verdict["problems"] == [] and verdict["failed"] == 0
    assert verdict["attempted"] == n_docs


def test_smoke_check_catches_a_wrong_row(spark, tmp_path):
    inputs = _inputs(spark, "render_flat", 12, tmp_path)
    wl = workloads.WORKLOADS["render_flat"]
    ctx = workloads.Ctx(spark, inputs, str(tmp_path), spans.Tracer("", enabled=False), None)
    result = wl.run(ctx)
    ref = wl.reference(spark, inputs, 1)
    url = next(iter(ref["per_url"]))
    ref["digest"] += 1
    ref["per_url"][url] += 1
    c = wl.check(ctx, result, ref, lambda: ref)
    assert c["wrong_rows"] == 1 and c["problems"]


def test_smoke_check_fails_every_row_on_a_recorded_output_change(spark, tmp_path):
    """The program's engine agrees with Spark, the recorded totals do not:
    the output changed, and the action counts as failed as a whole."""
    inputs = _inputs(spark, "extract_job", 14, tmp_path)
    wl = workloads.WORKLOADS["extract_job"]
    ctx = workloads.Ctx(spark, inputs, str(tmp_path), spans.Tracer("", enabled=False), None)
    result = wl.run(ctx)
    ref = wl.reference(spark, inputs, 1)
    recorded = {"rows": ref["rows"], "errors": ref["errors"], "digest": ref["digest"] + 1}
    c = wl.check(ctx, result, recorded, lambda: ref)
    wl.cleanup(result)
    assert c["wrong_rows"] == ref["rows"] and "record.json" in c["problems"][0]


def test_smoke_same_seed_same_materialized_input(spark, tmp_path):
    a = _inputs(spark, "extract_job", 3, tmp_path / "a")
    b = _inputs(spark, "extract_job", 3, tmp_path / "b")
    c = _inputs(spark, "extract_job", 4, tmp_path / "c")
    assert gen.table_digest(a["pages"]) == gen.table_digest(b["pages"])
    assert gen.table_digest(a["pages"]) != gen.table_digest(c["pages"])


def test_smoke_traced_pass_prints_every_layer_metric(spark, tmp_path):
    inputs = _inputs(spark, "dedup_graph", 13, tmp_path)
    wl = workloads.WORKLOADS["dedup_graph"]
    tracer = spans.Tracer("smoke")
    out = run.traced_pass(wl, spark, inputs, tracer)
    ref = wl.reference(spark, inputs, 1)
    n_docs, _ = run.input_stats(inputs)
    verdict = run.check_all(wl, out["ctx"], out["results"], ref, lambda: ref, n_docs)
    m = run.layer_metrics("dedup_graph", out, verdict, ref, tracer)
    assert set(run.PER_LAYER) <= set(m)
    assert m["dedup.rounds"] >= 1 and m["dedup.jobs"] >= m["dedup.rounds"]
    assert m["check.wrong_rows"] == 0
