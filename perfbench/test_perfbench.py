"""The benchmark's own tests: ``python -m pytest perfbench -q``.

A tiny run (sf0.001, two queries per workload) must print every
end-to-end and per-layer metric with its unit; the output check must
flag a deliberately wrong frame; the derived input tier must be seeded; and
the benchmark must refuse to run without the engine beside it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _tiny_run(workload: str, trace: int) -> tuple[list[str], dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_prints_every_metric_with_its_unit(workload):
    lines, result = _tiny_run(workload, trace=1)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 4
    spec = _spec()
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), k
    # the build and execute spans cover nearly all of each pass
    assert result["metrics"]["cold.span_coverage"]["value"] > 0.95
    assert result["metrics"]["warm.span_coverage"]["value"] > 0.95
    # the end-to-end metrics are printed by name with their unit too
    printed = {ln.split()[0]: ln.split() for ln in lines[:-1] if len(ln.split()) == 3}
    for m in spec["end_to_end"]:
        assert printed[m["name"]][2] == m["unit"]
        assert float(printed[m["name"]][1]) > 0
    for name in ("failed_frac", "pinned_storage_mb"):
        assert name in printed


def test_untraced_run_prints_the_end_to_end_metrics():
    _, result = _tiny_run("relational_x10", trace=0)
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.fixture(scope="module")
def tiny_tier():
    return datagen.fixture_dir("sf0.001")


def _oracle_rows(tier: str, name: str) -> tuple[list[str], list[tuple]]:
    import duckdb

    from pydra_map_reduce_spark.plans import REGISTRY

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{datagen.duckdb_source(tier, t)}')"
        )
    res = con.execute(REGISTRY[name].oracle)
    return [d[0] for d in res.description], res.fetchall()


def test_output_check_flags_a_wrong_frame(tiny_tier):
    cols, rows = _oracle_rows(tiny_tier, "pricing_summary")
    assert rows
    # the oracle's own frame, columns reordered, passes: the check is not vacuous
    order = list(reversed(range(len(cols))))
    same = ([cols[i] for i in order], [tuple(r[i] for i in order) for r in rows])
    assert run.check_outputs({"warm1": {"pricing_summary": same}}, ["pricing_summary"], tiny_tier) == {}

    num = next(i for i, v in enumerate(rows[0]) if isinstance(v, float))
    changed = list(rows)
    changed[0] = tuple(v + 1.0 if i == num else v for i, v in enumerate(rows[0]))
    wrong = {
        "value": (cols, changed),
        "missing row": (cols, rows[1:]),
        "renamed column": (["x"] + cols[1:], rows),
    }
    for why, frame in wrong.items():
        bad = run.check_outputs({"warm1": {"pricing_summary": frame}}, ["pricing_summary"], tiny_tier)
        assert ("warm1", "pricing_summary") in bad, why
    # the cold pass is checked against the oracle too
    bad = run.check_outputs(
        {"cold": {"pricing_summary": wrong["value"]}, "warm1": {"pricing_summary": same}},
        ["pricing_summary"], tiny_tier,
    )
    assert list(bad) == [("cold", "pricing_summary")]


def test_rows_only_check_needs_equal_non_empty_passes(tiny_tier):
    q = "compression_ratio_quality"
    ok = (["a"], [(1,), (2,), (2,), (3,)])
    assert run.check_outputs({"cold": {q: ok}, "warm1": {q: ok}}, [q], tiny_tier) == {}
    # the same multiset in another row order is equal
    flipped = (["a"], list(reversed(ok[1])))
    assert run.check_outputs({"cold": {q: ok}, "warm1": {q: flipped}}, [q], tiny_tier) == {}
    bad = run.check_outputs({"cold": {q: ok}, "warm1": {q: (["a"], [(1,), (3,)])}}, [q], tiny_tier)
    assert ("warm1", q) in bad
    bad = run.check_outputs({"cold": {q: (["a"], [])}, "warm1": {q: (["a"], [])}}, [q], tiny_tier)
    assert ("cold", q) in bad and ("warm1", q) in bad


def test_derived_tier_is_seeded_and_counts_rows(tmp_path):
    import pyarrow.parquet as pq

    spec = {"fixture": "sf0.001", "copies": 3}
    a, _, reused = datagen.ensure_tier(str(tmp_path / "a"), spec, 5)
    assert not reused
    b, _, _ = datagen.ensure_tier(str(tmp_path / "b"), spec, 5)
    c, _, _ = datagen.ensure_tier(str(tmp_path / "c"), spec, 6)
    assert datagen.ensure_tier(str(tmp_path / "a"), spec, 5)[2]  # reused

    src = datagen.fixture_dir("sf0.001")
    assert datagen.ensure_tier(str(tmp_path / "d"), {**spec, "copies": 1}, 5)[0] == src
    li = "lineitem.parquet/part-000.parquet"
    assert pq.read_table(f"{a}/{li}").equals(pq.read_table(f"{b}/{li}"))
    for t in datagen.TABLES:
        base = pq.read_table(f"{src}/{t}.parquet")
        ta, tc = pq.read_table(f"{a}/{t}.parquet"), pq.read_table(f"{c}/{t}.parquet")
        assert len(ta) == len(tc) == len(base) * (1 if t in ("region", "nation") else 3), t
    # part file j holds copy order[j]: the base, or its keys shifted by
    # the key range; a seed fixes the order, not the rows
    orders = pq.read_table(f"{src}/orders.parquet").column("o_orderkey").to_numpy()
    stride = orders.max() + 1
    layouts = []
    for tier in (a, c):
        with open(f"{tier}/_READY.json") as f:
            order = json.load(f)["copy_order"]
        lows = [
            pq.read_table(f"{tier}/lineitem.parquet/part-{j:03d}.parquet")
            .column("l_orderkey").to_numpy().min()
            for j in range(3)
        ]
        assert lows == [orders.min() + i * stride for i in order]
        layouts.append(order)
    assert sorted(layouts[0]) == [0, 1, 2] and layouts[0] != layouts[1]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "relational_x10",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
