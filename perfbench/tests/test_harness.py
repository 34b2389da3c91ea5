"""Result comparison, input generation and layer timing of the harness."""

import json
import os
from types import SimpleNamespace

import subprocess
import sys

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

import datagen
import run
from probes import LayerTimer, python_udf_nodes, tree_cpu_s
from run import _compare, unit_of

ORACLE = "SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', NULL), (2, 'b', NULL)) t(k, s, x)"


def _check(got: pd.DataFrame) -> str:
    return _compare(duckdb.connect(), 1, got, ORACLE)


def test_compare_ignores_row_and_column_order_and_nan():
    got = pd.DataFrame({"x": [np.nan, 0.5, np.nan], "s": ["b", "a", "b"], "k": [2, 1, 2]})
    assert _check(got) == "match"


def test_compare_sees_changed_missing_and_duplicated_rows():
    assert _check(pd.DataFrame({"k": [1, 2, 2], "s": ["a", "b", "c"], "x": [0.5, None, None]})).startswith("mismatch")
    assert _check(pd.DataFrame({"k": [1, 2], "s": ["a", "b"], "x": [0.5, None]})).startswith("mismatch")
    assert _check(pd.DataFrame({"k": [1, 1, 2, 2], "s": ["a", "a", "b", "b"], "x": [0.5, 0.5, None, None]})).startswith(
        "mismatch"
    )
    assert _check(pd.DataFrame({"k": [1, 2, 2], "s": ["a", "b", "b"]})).startswith("mismatch: columns")


def _rows(path: str) -> list:
    return sorted(map(tuple, pq.read_table(path).to_pandas().astype(str).values.tolist()))


@pytest.mark.parametrize("scale", ["sf0.1", "sf1"])
def test_same_seed_same_files_other_seed_same_rows_in_other_order(tmp_path, scale):
    tables = ("nation", "supplier")
    a = datagen.materialize(str(tmp_path / "a"), "w", scale, 3, tables)
    b = datagen.materialize(str(tmp_path / "b"), "w", scale, 3, tables)
    c = datagen.materialize(str(tmp_path / "c"), "w", scale, 4, tables)
    for t in tables:
        ta, tb, tc = (pq.read_table(f"{d}/{t}.parquet") for d in (a, b, c))
        assert ta.equals(tb)
        assert _rows(f"{a}/{t}.parquet") == _rows(f"{c}/{t}.parquet")
    assert not pq.read_table(f"{a}/supplier.parquet").equals(pq.read_table(f"{c}/supplier.parquet"))
    assert pq.read_table(f"{a}/supplier.parquet").num_rows == 1000 * datagen.REPS[scale]


def test_materialize_keeps_one_seed_per_workload(tmp_path):
    datagen.materialize(str(tmp_path), "w", "sf0.1", 1, ("region",))
    datagen.materialize(str(tmp_path), "w", "sf0.1", 2, ("region",))
    assert sorted(p.name for p in tmp_path.iterdir()) == ["w-seed2"]


def test_layer_timer_counts_outermost_call_per_layer():
    timer = LayerTimer()

    def inner():
        return 1

    wrapped_inner = timer._wrap("transform", inner)

    def outer():
        return wrapped_inner() + wrapped_inner()

    wrapped_outer = timer._wrap("transform", outer)
    via_api = timer._wrap("api", wrapped_outer)
    assert via_api() == 2  # inactive: plain pass-through
    assert not timer.calls
    timer.active = True
    assert via_api() == 2
    assert dict(timer.calls) == {"api": 1, "transform": 1}


def test_python_udf_nodes_and_units():
    plan = "MapInPandas foo\n+- FlatMapGroupsInPandas [a]\n   +- ArrowEvalPython [f(x)]\n      +- Scan"
    assert python_udf_nodes(plan) == 3
    assert unit_of("wall_s") == "s"
    assert unit_of("exec.shuffle_read_mb") == "MB"
    assert unit_of("build.jobs") == "count"
    assert unit_of("compile.compiled_share") == "share"


def _benchmark_spec() -> dict:
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def _row(query: str, wall: float) -> dict:
    return {
        "query": query, "build_s": wall / 4, "plan_s": 0.0, "exec_s": wall * 3 / 4, "wall_s": wall, "cpu_s": 2 * wall,
        "py4j_calls": 10, "layers": {"transform": 0.1}, "layer_calls": {"transform": 1},
        "python_udf_nodes": 0,
    }


def test_reported_metrics_match_benchmark_json():
    spec = _benchmark_spec()
    passes = [[_row("a", 1.0), _row("b", 2.0)], [_row("a", 3.0), _row("b", 2.0)], [_row("b", 4.0), _row("a", 2.0)]]
    setups = [
        {"start_s": 5.0, "tune_s": 0.5, "warm_cache_s": 3.0, "wall_s": 8.5, "cpu_s": 20.0},
        {"start_s": 0.1, "tune_s": 0.0, "warm_cache_s": 0.9, "wall_s": 1.0, "cpu_s": 3.0},
    ]
    setups.append(dict(setups[1]))
    e2e = run.end_to_end_metrics(passes[0], setups)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {k: run.unit_of(k) for k in e2e}
    assert e2e["cold_cpu_s"] == pytest.approx(2 * (1.0 + 2.0))
    assert e2e["setup_s"] == pytest.approx(3.0)
    warm = run.warm_metrics(passes, passes[0], setups)
    assert warm["warm.cpu_s"] == pytest.approx(2 * (2.0 + 2.0))  # per-query medians, not pass totals
    assert warm["warm.wall_s"] == pytest.approx(2.0 + 2.0)
    assert warm["warm.query_p50_s"] == pytest.approx(2.0)
    assert warm["cold.wall_s"] == pytest.approx(1.0 + 2.0)
    assert warm["setup.wall_s"] == pytest.approx(1.0)

    bench = SimpleNamespace(eventlog_dir=os.path.join(os.path.dirname(__file__), "fixtures"), box={"cores": 4}, setups=setups)
    layers = run.layer_metrics(bench, passes, passes, passes[0])
    layers["proc.peak_rss_mb"] = 1.0
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {k: run.unit_of(k) for k in layers}


def test_fixed_pass_count():
    assert [run.pass_count(s) for s in (1, 10, 15, 20, 60)] == [2, 2, 3, 4, 12]


def test_steal_share_is_steal_over_all_cpu_time():
    start = [100, 0, 10, 500, 0, 0, 0, 5, 0, 0]
    end = [160, 0, 20, 520, 0, 0, 0, 15, 0, 0]
    assert run.steal_share(start, end) == pytest.approx(10 / 100)
    assert run.steal_share(start, start) == 0.0
    assert len(run.cpu_ticks()) >= 8


def test_tree_cpu_counts_children():
    before = tree_cpu_s(os.getpid())
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    subprocess.run([sys.executable, "-c", busy], check=True, timeout=60)
    assert tree_cpu_s(os.getpid()) - before >= 0.25
