"""The benchmark's own tests. No Spark session is started.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, gen, run, trace  # noqa: E402


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("inputs"))
    gen.generate(7, d)
    return d


@pytest.fixture(scope="module")
def oracle(inputs):
    from profitscout_engine_spark.queries import load_registry

    registry = load_registry()
    con = checks.oracle_connection(inputs)
    return registry, con


def test_generator_is_deterministic(tmp_path, inputs):
    again = str(tmp_path / "again")
    other = str(tmp_path / "other")
    gen.generate(7, again)
    rows = gen.generate(8, other)
    assert gen.content_hash(again) == gen.content_hash(inputs)
    assert gen.content_hash(other) != gen.content_hash(inputs)
    same = gen.generate(7, str(tmp_path / "third"))
    for name, n in rows.items():
        assert abs(n - same[name]) <= 0.1 * same[name], name


def test_oracle_check_fails_on_perturbed_output(oracle):
    registry, con = oracle
    want = con.sql(registry["wintracker_pipeline"].oracle).df()
    assert checks.check_oracle("w", want.copy(), want) == []
    bad = want.copy()
    bad.loc[0, "peak_pct"] = bad.loc[0, "peak_pct"] + 0.01
    assert checks.check_oracle("w", bad, want)
    assert checks.check_oracle("w", want.iloc[1:], want)


def test_component_label_check(oracle):
    registry, con = oracle
    sql = registry["neardup_components"].oracle
    out = con.sql(sql).df()
    edges = con.sql(checks.cte_sql(sql, "pairs")).df()
    assert len(edges) > 0
    assert checks.graph_checks("neardup_components", sql, out, con) == []
    # a non-minimal label
    big = out.groupby("component").doc_id.transform("size") > 1
    bad = out.copy()
    i = bad.index[big & ~bad.is_canonical][0]
    bad.loc[bad.component == bad.loc[i, "component"], "component"] = bad.loc[i, "doc_id"]
    assert checks.check_labels("n", bad, edges, "doc_id", "component", "cluster_size")
    # one node split off its component
    bad = out.copy()
    bad.loc[i, "component"] = bad.loc[i, "doc_id"]
    assert checks.check_labels("n", bad, edges, "doc_id", "component")
    # wrong size
    bad = out.copy()
    bad.loc[i, "cluster_size"] += 1
    assert checks.check_labels("n", bad, edges, "doc_id", "component", "cluster_size")


def test_component_count_check(oracle):
    registry, con = oracle
    sql = registry["threshold_sweep_components"].oracle
    out = con.sql(sql).df()
    assert checks.graph_checks("threshold_sweep_components", sql, out, con) == []
    for col in ("n_edges", "n_nodes", "n_clusters", "max_cluster_size"):
        bad = out.copy()
        bad.loc[0, col] += 1
        assert checks.graph_checks("threshold_sweep_components", sql, bad, con), col


def test_community_check(oracle):
    registry, con = oracle
    sql = registry["label_propagation_rounds"].oracle
    out = con.sql(sql).df()
    assert checks.graph_checks("label_propagation_rounds", sql, out, con) == []
    edges = con.sql(checks.cte_sql(sql, "edges")).df()
    uf = checks.UnionFind(edges.itertuples(index=False, name=None))
    a = int(edges.iloc[0, 0])
    stranger = next(n for n in out.doc_id if uf.find(int(n)) != uf.find(a))
    bad = out.copy()
    bad.loc[bad.doc_id == a, "community"] = stranger
    assert checks.graph_checks("label_propagation_rounds", sql, bad, con)


def test_read_back_checks():
    target = pd.DataFrame({"k": [1, 2, 3], "v": [1.0, 2.0, 3.0], "w": ["a", "b", "c"]})
    source = pd.DataFrame({"k": [2, 4], "v": [20.0, None], "w": ["B", "D"]})
    want = checks.merge_expected(target, source, ["k"])
    assert sorted(want.k) == [1, 2, 3, 4]
    assert want.set_index("k").loc[2, "v"] == 20.0 and want.set_index("k").loc[2, "w"] == "B"
    assert checks.check_table("t", want.copy(), want, ["k"]) == []
    assert checks.check_table("t", want.iloc[1:], want, ["k"])  # row count
    dup = pd.concat([want, want.iloc[:1]], ignore_index=True)
    assert checks.check_table("t", dup, pd.concat([want, want.iloc[:1]]), ["k"])  # keys
    changed = want.copy()
    changed.loc[0, "v"] = -1.0
    assert checks.check_table("t", changed, want, ["k"])  # values
    assert checks.check_version("t", 1, 2, 1) == []
    assert checks.check_version("t", 1, 3, 1)
    assert checks.check_version("t", 1, 1, 1)


def test_layer_metrics_from_spans():
    """Self time subtracts nested builds; nested calls of a layer count once;
    driver time is the part of a query no job covers."""
    t = trace.Tracer("t", enabled=True)

    def span(layer, parent, start, end):
        s = trace.Span(len(t.spans), layer, layer, parent, "t")
        s.start, s.end = start, end
        t.spans.append(s)
        return s.id

    op = span("queries.op", None, 0.0, 10.0)
    build = span("queries.build", op, 0.0, 8.0)
    outer_build = span("shared.build", build, 1.0, 7.0)
    span("shared.build", outer_build, 2.0, 5.0)
    commit = span("sources.commit", op, 8.0, 10.0)
    span("sources.commit", commit, 8.5, 9.5)
    t.jobs = {1: {"span": outer_build, "start": 2.0, "end": 4.0},
              2: {"span": commit, "start": 8.0, "end": 9.0}}
    m = t.layer_metrics(0.0, [t.spans[op]])
    assert m["shared.build_s"] == 6.0  # (6 - 3) + 3
    assert m["shared.builds"] == 2
    assert m["sources.commits"] == 1 and m["sources.write_s"] == 2.0
    assert m["queries.build_jobs"] == 1
    assert m["queries.driver_s"] == 7.0  # 10 s minus jobs covering 2-4 and 8-9


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    result = {"wall_s": 2.0, "latencies": [1.0, 1.0], "queries": 2}
    e2e = run.e2e_metrics(1.0, result, 3.0)
    assert set(run.latency_summary(result)) == {"query_p50_s", "queries_per_min"}
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
    assert all(run.E2E_UNITS[m["name"]] == m["unit"] for m in spec["end_to_end"])
    layer = trace.Tracer("t", enabled=True).layer_metrics(0.0, [])
    layer.update(dict.fromkeys(run.TRACE_ONLY, 0.0))
    assert set(layer) == set(trace.UNITS) == {m["name"] for m in spec["per_layer"]}
    assert all(trace.UNITS[m["name"]] == m["unit"] for m in spec["per_layer"])
    assert {w["name"] for w in spec["workloads"]} <= set(run_workloads())


def run_workloads():
    from perfbench.workloads import WORKLOADS

    return WORKLOADS


def test_refuses_program_overrides(tmp_path):
    env = {**os.environ, "PSE_KM_TIMING": "1"}
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "nightly_cold",
                        "--seed", "1", "--seconds", "1"], cwd=ROOT, env=env,
                       capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and p.stdout == ""
    assert "PSE_KM_TIMING" in p.stderr


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "nightly_cold",
                        "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=tmp_path,
                       capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and p.stdout == ""
