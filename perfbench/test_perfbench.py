"""Smoke tests of the benchmark itself, at sf0.001 and tiny Spotify
inputs: metric names and units, the output checks, and the failure
accounting.

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import compare  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

TINY_DASHBOARD = {"sf": 0.001, "spotify_size": {"n_artists": 30, "n_albums": 60, "n_tracks": 300}}
TINY_WEEKLY = {"size": {"n_artists": 30, "n_albums": 60, "n_tracks": 300}, "recommends": 6}


# -- names and units, no Spark ---------------------------------------------
def test_spec_matches_the_harness():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run._per_layer_units()
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert all(m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    assert SPEC["paths"] == ["perfbench"] and SPEC["command"][:2] == ["python3", "perfbench/run.py"]


def test_app_row_checks_catch_count_order_and_repeats():
    good = [("b", "ar1", 90), ("a", "ar2", 80), ("c", "ar1", 80)]
    assert workloads.app_rows_problem("top_tracks_by.popularity", good, 3, None) is None
    assert "rows" in workloads.app_rows_problem("top_tracks_by.popularity", good[:2], 3, None)
    swapped = [good[0], good[2], good[1]]
    assert "order" in workloads.app_rows_problem("top_tracks_by.popularity", swapped, 3, None)
    repeated = [("a", "ar1", 90), ("a", "ar2", 80)]
    assert "repeat" in workloads.app_rows_problem("top_tracks_by.chart", repeated, 2, None)
    assert workloads.app_rows_problem("top_tracks_sql", repeated, 2, None) is None  # no dedup there
    genres = [(None, 9), ("pop", 9), ("edm", 3)]  # nulls first among ties, as Spark sorts
    assert workloads.app_rows_problem("genre_explode_counts", genres, 3, None) is None
    cmp_rows = [("Artist 1", "t", 0.1), ("Artist 9", "u", 0.2)]
    assert "outside" in workloads.app_rows_problem("audio_comparison", cmp_rows, 2, ("Artist 1", "Artist 2"))


def test_rollup_self_time_subtracts_children():
    s = [
        {"id": 0, "name": "request", "parent": None, "start": 0.0, "end": 1.0},
        {"id": 1, "name": "execute", "parent": 0, "start": 0.1, "end": 0.7},
        {"id": 2, "name": "catalyst", "parent": 0, "start": 0.7, "end": 0.8},
    ]
    r = spans.rollup(s)
    assert r["request"]["self_ms"] == pytest.approx(300.0)
    assert r["execute"] == {"count": 1, "total_ms": pytest.approx(600.0), "self_ms": pytest.approx(600.0)}


def test_compare_verdicts(tmp_path):
    def write(name, values):
        p = tmp_path / name
        p.write_text("".join(json.dumps({"metrics": {"p50_ms": {"value": v, "unit": "ms"}}}) + "\n" for v in values))
        return str(p)

    spec = [{"name": "p50_ms", "unit": "ms", "better": "lower", "bound": 0.1}]
    base = compare.load(write("a", [100, 101, 99, 100, 102]))
    assert compare.compare(base, None, spec)[0]["verdict"] == "ok"
    assert compare.compare(base, compare.load(write("b", [120, 121, 119, 122, 120])), spec)[0]["verdict"] == "worse"
    assert compare.compare(base, compare.load(write("c", [101, 100, 102, 99, 100])), spec)[0]["verdict"] == "ok"
    noisy = compare.load(write("d", [60, 100, 140, 80, 120]))
    assert compare.compare(noisy, None, spec)[0]["verdict"] == "noisy"


# -- end to end, tiny inputs -------------------------------------------------
# Each run gets its own interpreter, as every benchmark run does.
_RUN = """
import json, os, sys
sys.path[:0] = [{here!r}, {root!r}]
import run
run.WORK = {work!r}
run._environment(len(os.sched_getaffinity(0)))
{patch}
try:
    result, record = run.run({workload!r}, 1, 0, {trace}, {options!r})
finally:
    run._stop_jvm()
print(json.dumps([result, record]))
"""

# top_customers cut to 3 rows: its oracle check must fail, and with it
# every timed top_customers request
_BREAK_TOP_CUSTOMERS = """
from databeats_spark import registry
_real = registry.queries
def _broken():
    q = dict(_real())
    good = q["top_customers"]
    q["top_customers"] = lambda spark, sf_dir: good(spark, sf_dir).limit(3)
    return q
registry.queries = _broken
"""


def _run(tmp_path, workload, options, trace=False, patch=""):
    code = _RUN.format(here=HERE, root=ROOT, work=str(tmp_path), patch=patch,
                       workload=workload, trace=trace, options=options)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=600, cwd=ROOT)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _assert_metrics(result, names_units):
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names_units
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_dashboard_reports_every_metric_and_checks_outputs(tmp_path):
    result, record = _run(tmp_path, "dashboard", TINY_DASHBOARD)
    assert record["failures"] == []
    assert result["correct"] and result["failed"] == 0 and result["attempted"] == record["requests"]
    _assert_metrics(result, run.END_TO_END)
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_a_wrong_output_fails_every_request_of_its_type(tmp_path):
    result, record = _run(tmp_path, "dashboard", TINY_DASHBOARD, patch=_BREAK_TOP_CUSTOMERS)
    bad = [f for f in record["failures"] if f.startswith("top_customers:")]
    assert "oracle mismatch" in bad[0], record["failures"]
    rounds = len(record["cycle_detail"])  # one top_customers request per round
    assert result["failed"] == rounds == len(bad) - 1, record["failures"]
    assert not result["correct"]


def test_weekly_refresh_traced_reports_every_layer(tmp_path):
    result, record = _run(tmp_path, "weekly_refresh", TINY_WEEKLY, trace=True)
    assert record["failures"] == [], record["failures"]
    assert record["cycles"] == workloads.WeeklyRefresh.MIN_CYCLES
    assert result["correct"] and result["attempted"] == record["cycles"] * (2 + TINY_WEEKLY["recommends"])
    _assert_metrics(result, run._per_layer_units())
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["ml.retrain_s"] > 0 and m["ml.recommend_ms"] > 0 and m["plans.etl.write_s"] > 0
    assert m["dashboard.pricing_summary.p50_ms"] == 0  # a layer this workload does not call
    assert record["end_to_end"].keys() == run.END_TO_END.keys()
    names = {s["name"] for s in record["spans"]}
    assert {"epoch", "ml.retrain", "ml.recommend", "sinks.write_snapshot"} <= names


# every retrain raises: each epoch fails, with the recommends it never makes
_BREAK_RETRAIN = """
from databeats_spark.plans import training
def _broken(*args, **kwargs):
    raise RuntimeError("retrain broken")
training.weekly_retrain = _broken
"""


def test_a_failed_epoch_counts_its_operations_and_the_run_still_reports(tmp_path):
    result, record = _run(tmp_path, "weekly_refresh", TINY_WEEKLY, patch=_BREAK_RETRAIN)
    epochs = record["cycles"]
    assert epochs == workloads.WeeklyRefresh.MIN_CYCLES
    assert result["attempted"] == result["failed"] == epochs * (2 + TINY_WEEKLY["recommends"])
    assert not result["correct"] and all("retrain broken" in f for f in record["failures"])
    _assert_metrics(result, run.END_TO_END)
    assert all(c["failed"] and c["wall_s"] > 0 for c in record["cycle_detail"])


@pytest.mark.xfail(strict=True, reason=(
    "operators/dedup.py keeps its shingle cache in a module-level list across sessions: "
    "after the session that filled it stops, the next shingling query in the process "
    "reuses that session's cached DataFrame (or unpersists it on the stopped context) and fails"
))
def test_shingling_query_survives_a_session_restart(tmp_path):
    code = f"""
import os, sys
sys.path[:0] = [{HERE!r}, {ROOT!r}]
import run
run.WORK = {str(tmp_path)!r}
run._environment(len(os.sched_getaffinity(0)))
import inputs, workloads
from databeats_spark.registry import queries
d = {str(tmp_path / "in")!r}
inputs.write_tables(d, 0.001, 1)
try:
    for _ in range(2):
        spark = workloads._session(d, run.WORK)
        queries()["minhash_near_dups"](spark, d).collect()
        spark.stop()
finally:
    run._stop_jvm()
"""
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=600, cwd=ROOT)
    assert out.returncode == 0, out.stderr[-2000:]
