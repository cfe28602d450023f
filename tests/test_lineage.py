"""Snapshot-store manifests: footer row counts, recorded read schema,
resume of manifests without one, and the job-level cost of commit/read."""

from __future__ import annotations

import importlib.util
import json
import os
import re
from contextlib import contextmanager

from conftest import SF_DIR
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kbgen_spark.pipeline import run_pipeline, triples_fingerprint
from kbgen_spark.operators.materialize import write_triples
from kbgen_spark.plans.lineage import ParquetSnapshotStore

SF0001_FINGERPRINT = "432:3272129491746201518"


@contextmanager
def jobs_run(spark, group: str):
    """Collects the ids of the Spark jobs the block runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    ids: list = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _part_numbers(data_dir: str) -> set:
    return {
        str(int(m.group(1)))
        for m in (re.match(r"part-(\d+)-", f) for f in os.listdir(data_dir))
        if m
    }


def test_manifest_rows_from_part_footers(spark, tmp_path):
    store = ParquetSnapshotStore(str(tmp_path))
    df = spark.range(0, 10, 1, 3).select("id", (F.col("id") * 2).alias("v"))
    with jobs_run(spark, "lineage-commit") as ids:
        committed, man = store.commit(df, "s", "h", "fp")
    assert len(ids) == 1, "the parquet write is the commit's only job"
    assert man["rows"] == committed.count() == 10
    # range(0, 10, 1, 3) splits 3/3/4; keys are the write tasks' numbers
    assert man["partition_rows"] == {"0": 3, "1": 3, "2": 4}
    assert sum(man["partition_rows"].values()) == man["rows"]
    data_dir = os.path.join(str(tmp_path), "s", "snapshot-h", "data")
    assert set(man["partition_rows"]) == _part_numbers(data_dir)
    with open(store.manifest_path("s", "h")) as f:
        assert json.load(f) == man


def test_manifest_of_empty_stage(spark, tmp_path):
    store = ParquetSnapshotStore(str(tmp_path))
    committed, man = store.commit(spark.range(5).filter("id < 0"), "s", "h", "fp")
    assert man["rows"] == 0
    assert sum(man["partition_rows"].values()) == 0
    assert committed.count() == 0
    assert store.read(spark, "s", "h").count() == 0


def test_resume_reads_with_recorded_schema(spark, tmp_path):
    store = ParquetSnapshotStore(str(tmp_path))
    df = spark.createDataFrame(
        [("a", 1, [1, 2]), ("b", None, []), ("c", 3, None)],
        "k string not null, n int, xs array<int>",
    )
    committed, man = store.commit(df, "s", "h", "fp")
    data_dir = os.path.join(str(tmp_path), "s", "snapshot-h", "data")
    inferred = spark.read.parquet(data_dir).schema
    assert StructType.fromJson(man["schema"]) == committed.schema == inferred
    with jobs_run(spark, "lineage-read") as ids:
        resumed = store.read(spark, "s", "h")
        schema = resumed.schema
    assert ids == [], "a recorded schema needs no inference job"
    assert schema == inferred
    assert sorted(map(tuple, resumed.collect())) == sorted(map(tuple, committed.collect()))


def test_pipeline_snapshots_resume_with_and_without_recorded_schema(spark, tmp_path):
    """Each stage's manifest counts its committed rows; a resume reads the
    committed rows with the recorded schema; manifests written before the
    schema was recorded as JSON (a simpleString, or no key) still resume,
    by inference."""
    store = ParquetSnapshotStore(str(tmp_path / "ckpt"))
    run = run_pipeline(spark, SF_DIR, store=store)
    assert triples_fingerprint(run.triples) == SF0001_FINGERPRINT
    for stage in run.stages.values():
        man = stage.manifest
        assert man["rows"] == stage.df.count()
        assert sum(man["partition_rows"].values()) == man["rows"]
    resumed = run_pipeline(spark, SF_DIR, store=store)
    for name, stage in resumed.stages.items():
        assert stage.df.schema == run.stages[name].df.schema
        assert stage.df.exceptAll(run.stages[name].df).count() == 0
        assert run.stages[name].df.exceptAll(stage.df).count() == 0
    for legacy_schema in (lambda s: s.simpleString(), None):
        for stage in run.stages.values():
            path = store.manifest_path(
                stage.manifest["stage"], stage.manifest["params_hash"]
            )
            with open(path) as f:
                man = json.load(f)
            if legacy_schema is None:
                del man["schema"]
            else:
                man["schema"] = legacy_schema(stage.df.schema)
            with open(path, "w") as f:
                json.dump(man, f)
        legacy = run_pipeline(spark, SF_DIR, store=store)
        assert legacy.skipped == ["extract", "canon", "link", "materialize"]
        assert triples_fingerprint(legacy.triples) == SF0001_FINGERPRINT


def _run_pipeline_job():
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "jobs", "run_pipeline.py")
    spec = importlib.util.spec_from_file_location("run_pipeline_job", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_job_reports_count_of_single_write(spark, tmp_path):
    """The job materializes the triples once: it runs exactly the jobs of
    the pipeline plus one write, with no separate count. The first run in
    a session fills driver-side caches, so the reference is the second."""
    for i in range(2):
        with jobs_run(spark, f"pipeline-write-{i}") as ref_ids:
            write_triples(run_pipeline(spark, SF_DIR).triples, str(tmp_path / "ref"))
    job = _run_pipeline_job()
    out = str(tmp_path / "triples")
    args = job.parse_args(["--input", SF_DIR, "--output", out])
    with jobs_run(spark, "pipeline-job") as job_ids:
        summary = job.run_job(spark, args)
    assert len(job_ids) == len(ref_ids)
    assert summary["triples"] == 432
    assert spark.read.parquet(out).count() == 432
