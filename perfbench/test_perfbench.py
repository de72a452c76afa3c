"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

The parametrized last test runs the benchmark three times, about a
minute each.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import run  # noqa: E402
import stats  # noqa: E402
import workloads as wl  # noqa: E402

HELD_OUT_SEED = 90210


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_tail_leaves_ten_samples_beyond():
    value, pct, n = stats.tail([float(x) for x in range(1, 21)])
    assert value == 10.0 and pct == 50.0 and n == 20
    value, pct, n = stats.tail([float(x) for x in range(100, 0, -1)])
    assert value == 90.0 and pct == 90.0 and n == 100
    # eleven samples: the only percentile with ten beyond is the minimum
    assert stats.tail([5.0] + [9.0] * 10)[0] == 5.0
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


def test_geomean():
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert stats.geomean([2.0, 8.0, 4.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_metric_names_match_pattern():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert stats.METRIC_NAME.fullmatch(name), name
    for bad in ("", "_lead", "has space", "x" * 65, "a/b"):
        assert not stats.METRIC_NAME.fullmatch(bad), bad


def test_declared_metrics_are_printed_with_units():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    for units in (run.END_TO_END, run.PER_LAYER):
        line = run.result_line({0: True}, 1, dict.fromkeys(units, 1.0), units)
        assert line["metrics"] == {k: {"value": 1.0, "unit": u} for k, u in units.items()}
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_warm_sweeps_put_the_tail_above_the_median():
    """However short the run, it holds enough warm samples that the tail
    percentile lies above the median."""
    for n_requests in (3, 4, 5, 6):
        n = run.warm_sweeps(n_requests, 1) * n_requests
        assert stats.tail([float(x) for x in range(n)])[1] > 50, n_requests


def test_tail_is_above_the_median_at_declared_run_seconds():
    """At the declared run length each workload holds enough warm samples
    that the tail percentile lies above the median."""
    seconds = _spec()["run_seconds"]
    for names in (wl.RELATIONAL, wl.PIPELINES):
        n = run.warm_sweeps(len(names), seconds) * len(names)
        _, pct, _ = stats.tail([float(x) for x in range(n)])
        assert pct > 50, (names, n, pct)


def test_wrong_result_lowers_ok_frac():
    """Feed one correct and one wrong result of a declared query through
    the real oracle comparison; the wrong one fails and ok_frac drops."""
    import datagen

    # inside the checkout, where the benchmark keeps all it writes
    sf_dir = datagen.write_tables(os.path.join(ROOT, ".perfbench_work", "test-oracle"), HELD_OUT_SEED)
    con = wl.duck(sf_dir)
    name = "q5_local_supplier_volume"
    from pipes_spark.catalog import QUERIES

    good = pa.Table.from_pandas(con.sql(QUERIES[name].oracle).df(), preserve_index=False)
    wrong = good.set_column(
        good.column_names.index("revenue"), "revenue",
        pa.array([v + 0.01 for v in good.column("revenue").to_pylist()]),
    )
    samples = [{"name": name, "out": wl.digest(good)}, {"name": name, "out": wl.digest(wrong)}]
    ok = wl.check_queries(con, {name: good}, samples)
    assert ok == {0: True, 1: False}
    assert wl.check_queries(con, {name: wrong}, samples[:1]) == {0: False}
    line = run.result_line(ok, len(samples), {"ok_frac": sum(ok.values()) / len(samples)},
                           {"ok_frac": "ratio"})
    assert line["metrics"]["ok_frac"]["value"] == 0.5
    assert not line["correct"] and line["failed"] == 1


def _run_benchmark(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(HELD_OUT_SEED),
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [("relational", 0), ("relational", 1), ("pipelines", 1)])
def test_held_out_seed_reports_every_metric(workload, trace):
    spec = _spec()
    line = _run_benchmark(workload, trace)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {m["name"]: m["unit"] for m in declared}
    values = {k: v["value"] for k, v in line["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values())
        return
    assert values["scheduler.jobs"] > 0 and values["task.run_s"] > 0 and values["cold.pass_s"] > 0
    python = [values[k] for k in values if k.startswith("python.")]
    graph_only = [values[k] for k in values if k.split(".")[0] in ("pipeline", "caching", "sinks", "streaming")]
    if workload == "relational":
        assert python == [0.0] * len(python) and graph_only == [0.0] * len(graph_only)
        assert values["catalog.construct_s"] > 0 and values["catalyst.plan_s"] > 0
    else:
        # warm sweeps reuse booted workers, so python.boot_s may read 0
        assert all(values[f"python.{k}"] > 0 for k in ("init_s", "run_s", "sent_mb", "received_mb"))
        assert values["pipeline.start_s"] > 0 and values["caching.cached_mb"] > 0
        assert values["streaming.batches"] >= 2 and values["sinks.output_mb"] > 0
        assert values["warehouse.ingest_s"] > 0
