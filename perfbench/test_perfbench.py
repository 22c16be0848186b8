"""Self-tests for the benchmark harness.

    python3 -m pytest perfbench -q -p no:cacheprovider

``test_cache_policy_invariant`` runs the benchmark itself (two short
traced runs, about two minutes on four cores); the rest take seconds.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import subprocess
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, pass_order  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _column(out, table: str, column: str) -> list:
    return pq.read_table(os.path.join(out, f"{table}.parquet"))[column].to_pylist()


def test_inputs_are_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    inputs.write(3, a)
    inputs.write(3, b)
    inputs.write(4, c)
    for t in inputs.TABLES:
        assert filecmp.cmp(f"{a}/{t}.parquet", f"{b}/{t}.parquet", shallow=False), t
        assert (
            pq.read_metadata(f"{a}/{t}.parquet").num_rows
            == pq.read_metadata(f"{c}/{t}.parquet").num_rows
        ), t
    for uses in inputs.KEYS.values():
        for table, column in uses:
            ka, kc = _column(a, table, column), _column(c, table, column)
            assert ka != kc, (table, column)
            base = _column(inputs.BASE, table, column)
            # a relabelling: same range, same multiplicity profile
            assert min(ka) == min(base) and max(ka) == max(base)
            assert sorted(map(ka.count, set(ka))) == sorted(map(base.count, set(base)))
    assert _column(a, "embeddings", "embedding") != _column(c, "embeddings", "embedding")
    # fixed-literal columns stay as they are, so literal filters never empty
    for table, column in (("customer", "c_mktsegment"), ("orders", "o_orderdate")):
        assert _column(a, table, column) == _column(inputs.BASE, table, column)


def test_rotation_keeps_vector_norms():
    base = _column(inputs.BASE, "embeddings", "embedding")
    rotated = inputs.transform(5)["embeddings"]["embedding"].to_pylist()
    for u, v in zip(base[:20], rotated[:20]):
        assert sorted(u) == sorted(v) and u != v


def test_metric_names_follow_the_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [m["name"] for m in bench["end_to_end"]]
    layer = [m["name"] for m in bench["per_layer"]]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layer) <= 128
    names = e2e + layer + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    assert e2e == list(run.END_TO_END)
    assert layer == run.per_layer_names()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert all(m["unit"] == run.layer_unit(m["name"]) for m in bench["per_layer"])
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_every_workload_query_maps_to_a_measured_module():
    sys.path.insert(0, ROOT)
    from covid_engineering_spark.queries import registry

    reg = registry()
    for w in WORKLOADS.values():
        for q in w.queries:
            assert run.module_of(reg[q]) in run.MODULES, q


def test_pass_order_is_a_seeded_permutation():
    w = WORKLOADS["covid_dashboard"]
    first = pass_order(w, 5, 0, 0)
    assert sorted(first) == sorted(w.queries)
    assert first == pass_order(w, 5, 0, 0)
    others = [pass_order(w, 5, c, n) for c in range(2) for n in range(3)]
    assert any(o != first for o in others)


def test_self_time_subtracts_covered_child_time():
    ticks = iter([0.0, 1.0, 2.0, 3.0, 5.0, 8.0, 12.0, 10.0])

    tracer = tracing.Tracer(clock=lambda: next(ticks))
    # parent [0, 10]; children [1, 3] and [2, 5] overlap; [8, 12] runs
    # past the parent's end and counts only up to it
    with tracer.span("parent", request="r") as parent:
        with tracer.span("a"):
            with tracer.span("b"):
                pass
    spans = {s.name: s for s in tracer.spans}
    assert spans["a"].parent == parent.id and spans["b"].parent == spans["a"].id
    assert spans["b"].request == "r"

    mk = tracing.Span
    flat = [
        mk(0, "parent", 0.0, None, "r", end=10.0),
        mk(1, "c1", 1.0, 0, "r", end=3.0),
        mk(2, "c2", 2.0, 0, "r", end=5.0),
        mk(3, "c3", 8.0, 0, "r", end=12.0),
        mk(4, "grandchild", 1.5, 1, "r", end=2.0),
    ]
    self_t = tracing.self_times(flat)
    assert self_t[0] == 10.0 - (5.0 - 1.0) - (10.0 - 8.0)
    assert self_t[1] == 2.0 - 0.5
    assert self_t[2] == 3.0 and self_t[4] == 0.5


def test_end_to_end_weighs_every_query_alike():
    # a fast query sampled 4 times, a slow one twice: a plain median
    # over requests would read a fast request
    fast = [0.1, 0.1, 0.1, 0.2]
    slow = [1.0, 1.0]
    results = [run.Result("fast", f"f{i}", x, True) for i, x in enumerate(fast)]
    results += [run.Result("slow", f"s{i}", x, True) for i, x in enumerate(slow)]
    results.append(run.Result("slow", "failed", 9.0, False))
    e2e = run.end_to_end(results, [2.0, 1.0, 5.0])
    assert abs(e2e["latency_p50_s"] - (0.1 * 1.0) ** 0.5) < 1e-12
    # below 21 samples the tail is the largest latency-over-median ratio
    assert abs(e2e["latency_tail_s"] - e2e["latency_p50_s"] * 2.0) < 1e-12
    assert e2e["samples"] == 6
    # completed requests per round over the median round time
    assert e2e["queries_per_s"] == 6 / 3 / 2.0


def test_refuses_to_run_outside_the_repository(tmp_path):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "covid_dashboard",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_cache_policy_invariant():
    """The dashboard keeps engine caches resident, so repeated requests
    hit them; the corpus workload resets them before every request, so
    any hit means the reset leaked."""
    for workload, expect_hits in (("covid_dashboard", True), ("corpus_curation", False)):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", "1", "--seconds", "1", "--trace", "1"],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        assert p.returncode == 0, p.stderr[-2000:]
        out = json.loads(p.stdout.strip().splitlines()[-1])
        assert out["correct"], p.stdout
        hits = out["metrics"]["functions.caching.hits"]["value"]
        assert (hits > 0) == expect_hits, (workload, hits)
