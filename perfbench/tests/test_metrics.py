"""BENCHMARK.json, the runner's metric tables and its per-layer rollup
agree with each other."""

import json
import os
from types import SimpleNamespace

from perfbench import eventlog, run
from perfbench.metrics import END_TO_END, PER_LAYER, REPORTED
from perfbench.trace import Tracer, self_times
from perfbench.workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
# Spark 4.1 event log of a local[2] session that ran three RDD jobs: a
# count under job group k_ops:build, a reduceByKey (one shuffle) under
# k_ops:exec and a count outside any group; only the event kinds the
# parser reads, plus job ends, were kept
RECORDED_LOG = os.path.join(HERE, "data", "eventlog.json")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_match_the_runner():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert all(m["better"] == "lower" and 0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup_bound = next(m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup_bound == max(m["bound"] for m in spec["end_to_end"])
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]


def test_self_time_subtracts_children():
    spans = [
        {"parent": None, "start": 0.0, "end": 10.0},
        {"parent": 0, "start": 1.0, "end": 4.0},
        {"parent": 1, "start": 2.0, "end": 3.0},
        {"parent": 0, "start": 5.0, "end": 6.0},
    ]
    assert self_times(spans) == [6.0, 2.0, 1.0, 1.0]


def _fake_runner():
    """A traced first pass of two keys, then a plain one, with the
    recorded event log's job groups."""
    tr = Tracer()
    tr.enabled = True
    t = 1_000.0

    def key(name, layer):
        nonlocal t
        tr.key = name
        k = tr.open(name, "key")
        tr.spans[k]["start"] = t
        b = tr.open("build", layer, None)
        tr.spans[b]["start"] = t
        tr.close(b)
        tr.spans[b]["end"] = t + 1.0
        e = tr.open("exec", "exec", None)
        tr.spans[e]["start"] = t + 1.0
        tr.close(e)
        tr.spans[e]["end"] = t + 3.0
        tr.close(k)
        tr.spans[k]["end"] = t + 3.0
        t += 3.0

    key("k_ops", "operators.etl")
    key("k_plan", "plans.tpch")
    keys = [{"key": k, "build_s": 1.0, "exec_s": 2.0, "error": None} for k in ("k_ops", "k_plan")]
    passes = [
        {"traced": traced, "wall_s": wall, "keys": keys, "bytes_written": 0, "files_written": 0}
        for traced, wall in ((True, 6.2), (False, 5.0))
    ]
    queries = {
        "k_ops": SimpleNamespace(__module__="proceso_de_etl_spark.operators.etl"),
        "k_plan": SimpleNamespace(__module__="proceso_de_etl_spark.plans.tpch"),
    }
    wl = SimpleNamespace(keys=("k_ops", "k_plan"))
    return SimpleNamespace(
        tracer=tr, passes=passes, wl=wl, queries=queries, progress=[], cores=4,
        entries_peak=0,
    )


def test_traced_run_reports_every_per_layer_metric():
    runner = _fake_runner()
    values, detail = run.layer_metrics(runner, 0.2, RECORDED_LOG)
    # the run adds the two figures it also prints untraced
    assert set(values) | set(REPORTED) == set(PER_LAYER)
    assert set(detail) == {"k_ops", "k_plan"}
    assert values["operators.etl.build_s"] == 1.0
    assert values["plans.build_s"] == 1.0
    assert values["exec.exec_s"] == 4.0
    assert values["trace.wall_s"] == 6.2
    assert abs(values["trace.unaccounted_s"] - 0.2) < 1e-9
    assert 0 < values["trace.overhead_s"] == runner.tracer.cost
    # the recorded log's k_ops groups land on k_ops, by phase
    assert detail["k_ops"]["jobs_by_phase"] == {"build": 1, "exec": 1}
    assert values["operators.build_jobs"] == 1 and values["exec.jobs"] == 1


def test_eventlog_rollup_matches_the_recorded_log():
    groups = eventlog.read(RECORDED_LOG)
    build = groups["k_ops:build"]
    exec_ = groups["k_ops:exec"]
    assert (build["jobs"], build["stages"], build["tasks"]) == (1, 1, 2)
    assert (exec_["jobs"], exec_["stages"], exec_["tasks"]) == (1, 2, 6)
    assert exec_["shuffle_write_mb"] > 0 and exec_["shuffle_read_mb"] > 0
    assert exec_["failed_tasks"] == 0
    assert exec_["task_run_s"] >= exec_["task_cpu_s"] >= 0
    assert None in groups  # the job run outside any group
