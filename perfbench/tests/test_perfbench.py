"""Self-tests for the benchmark harness.

    python3 -m pytest perfbench/tests -q

The smoke runs start one Spark session per workload and trace mode in a
subprocess (about a minute each on a 4-core host).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
REPO_ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, REPO_ROOT)

from perfbench import eventlog, inputs  # noqa: E402
from perfbench.workloads import END_TO_END_METRICS, LAYER_METRICS, WORKLOADS  # noqa: E402

SF0001_FINGERPRINT = "432:3272129491746201518"


def _spec() -> dict:
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_names_match_benchmark_json():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END_METRICS
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == LAYER_METRICS
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_corpus_and_batches_are_seeded():
    a = inputs.load_corpus()
    assert len(a) == 5000 and a["doc_id"].is_unique
    assert len(set(" ".join(a["text"]).split())) == 31, "the closed vocabulary"
    b1 = inputs.corpus_batch(a, seed=1, batch=0, size=50)
    assert b1.equals(inputs.corpus_batch(a, seed=1, batch=0, size=50))
    b2 = inputs.corpus_batch(a, seed=2, batch=0, size=50)
    assert set(b1["doc_id"]).isdisjoint(b2["doc_id"])
    assert not b1["text"].reset_index(drop=True).equals(b2["text"].reset_index(drop=True))


def test_synthetic_kg_is_seeded_and_skewed():
    t1, ty1 = inputs.synthetic_kg(5000, seed=1)
    t2, ty2 = inputs.synthetic_kg(5000, seed=1)
    assert t1.equals(t2) and ty1.equals(ty2)
    t3, _ = inputs.synthetic_kg(5000, seed=2)
    assert not t1.equals(t3)
    assert len(t1) == 5000 and not t1.duplicated().any()
    assert set(t1["subj"]) | set(t1["obj"]) <= set(ty1["entity"])
    counts = t1["pred"].value_counts()
    assert counts.iloc[0] > 10 * counts.iloc[-1]


def test_eventlog_parser_attributes_jobs_to_groups():
    stats = eventlog.aggregate(eventlog.read_events(os.path.join(HERE, "data", "eventlog")))
    assert stats["g1"].jobs > 0 and stats["g2"].jobs > 0
    assert stats["g1"].tasks > 0 and stats["g1"].run_ms > 0
    assert not stats["g1"].python_stages
    assert stats["g2"].python_stages, "the mapInPandas stage is a Python stage"
    per_call = eventlog.per_call_metrics(stats, r"g\d$", calls=2)
    assert per_call["spark.jobs_per_call"] == (stats["g1"].jobs + stats["g2"].jobs) / 2
    assert per_call["spark.python_stages_per_call"] == 0.5


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_run_emits_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--small"],
        cwd=REPO_ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = END_TO_END_METRICS if trace == 0 else LAYER_METRICS
    assert [(k, v["unit"]) for k, v in result["metrics"].items()] == names
    if trace == 0:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        assert result["metrics"]["spark.jobs_per_call"]["value"] > 0
    assert not os.path.exists(os.path.join(REPO_ROOT, ".perfbench_work"))


def test_sf0001_pipeline_fingerprint(tmp_path):
    """The engine's pipeline on the benchmark's copy of the sf0.001 documents
    keeps its pinned fingerprint in the benchmark's session configuration."""
    from perfbench import host

    host.configure_env(str(tmp_path), REPO_ROOT)
    spark = host.start_session(None)
    try:
        from kbgen_spark.pipeline import run_pipeline, triples_fingerprint

        run = run_pipeline(spark, inputs.SF0001_DIR)
        assert triples_fingerprint(run.triples) == SF0001_FINGERPRINT
    finally:
        host.stop_session(spark)
