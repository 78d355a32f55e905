"""The benchmark's own tests: its metric list matches BENCHMARK.json, and a
corrupted job output is caught by the check and counted as failed.

    python3 -m pytest perfsuite/ -q

The measure-level tests run each workload for real (a Spark session and a
short timed window each), so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
import workloads  # noqa: E402


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] == run.UNITS[m["name"]], m["name"]
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.WORKLOADS)


def _scale_one_estimate(out: dict) -> dict:
    """Multiply the first quantile estimate of the first table by 1.5."""
    part = next(k for k in ("quantiles", "dashboard") if k in out)
    key = sorted(out[part], key=str)[0]
    n, ests = out[part][key]
    ests = dict(ests)
    ests[min(ests)] *= 1.5
    out[part][key] = (n, ests)
    return out


def _keep_one_planted_near_dup(out: dict, data: str) -> dict:
    """Put one planted near-duplicate back, as if its pair was missed."""
    planted = pq.read_table(os.path.join(data, "planted_near_dups.parquet"))
    out["survivors"] = out["survivors"] | {planted.column(0)[0].as_py()}
    return out


def _corrupt(name: str, out: dict, data: str) -> dict:
    if name == "near_dup_curation":
        return _keep_one_planted_near_dup(out, data)
    return _scale_one_estimate(out)


@pytest.fixture
def scratch(tmp_path):
    yield str(tmp_path)
    shutil.rmtree(tmp_path, ignore_errors=True)


def _exact_output(w, truth: dict) -> dict:
    """The output a perfect job would return."""
    if w.name == "near_dup_curation":
        return {"survivors": set(truth["survivors"])}
    out = {k: {key: (t["n"], dict(t["exact"])) for key, t in v.items()}
           for k, v in truth.items() if k != "distinct"}
    out["distinct"] = dict(truth["distinct"])
    return out


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_check_rejects_a_corrupted_output(name, scratch):
    w = workloads.WORKLOADS[name]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    data = os.path.join(scratch, "data")
    w.generate(con, 7, data)
    truth = w.oracle(con, data)
    good = w.check(_exact_output(w, truth), truth)
    assert good.ok, good.problems
    bad = w.check(_corrupt(name, _exact_output(w, truth), data), truth)
    assert not bad.ok
    if name == "near_dup_curation":
        assert bad.recall < 1.0
    else:
        assert bad.err_ratio_max > 1.0


class _CorruptEveryOtherJob:
    """The workload, with every second job's output corrupted."""

    def __init__(self, inner):
        self.inner = inner
        self.calls = 0

    def __getattr__(self, attr):
        return getattr(self.inner, attr)

    def run(self, spark, data, work):
        out = self.inner.run(spark, data, work)
        self.calls += 1
        return _corrupt(self.inner.name, out, data) if self.calls % 2 == 0 else out


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_corrupted_jobs_count_as_failed(name, scratch):
    w = workloads.WORKLOADS[name]
    try:
        clean = run.measure(w, 7, 1, False, os.path.join(scratch, "clean"))["result"]
        corrupt = run.measure(_CorruptEveryOtherJob(w), 7, 1, False,
                              os.path.join(scratch, "corrupt"))["result"]
    finally:
        run.stop_jvm()
    assert clean["correct"] and clean["failed"] == 0
    assert not corrupt["correct"]
    assert corrupt["failed"] >= corrupt["attempted"] // 2
    assert corrupt["metrics"]["pass_frac"]["value"] < clean["metrics"]["pass_frac"]["value"]
