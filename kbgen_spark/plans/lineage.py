"""S6 — snapshot store with per-partition lineage and resume (SURVEY.md §2.1
S6, §4.3; BASELINE.json:14 "resumable from checkpoint with per-partition
lineage + metrics").

Spark has no cross-job checkpoint contract, so stages commit through a
storage adapter:

- ``ParquetSnapshotStore`` (local filesystem): one directory per (stage,
  params_hash) containing the parquet output plus ``_MANIFEST.json`` with
  {stage, params_hash, input_fingerprint, rows, per-part-file row counts,
  schema, counters}.  A write is atomic at the manifest level: the manifest
  is written only after the parquet commit succeeds, so a killed run leaves
  no valid snapshot and the stage re-executes on resume.  The counts come
  from the written files' parquet footers and the snapshot is re-opened
  with the recorded schema, so a commit runs the write job and nothing
  else.
- The same API maps 1:1 onto Iceberg snapshots (`writeTo(...).createOrReplace`
  + snapshot metadata) when a catalog jar is present — see SURVEY §7.3.

Resume contract: ``run_stage`` recomputes the stage only when no manifest
matches (stage, params_hash, input_fingerprint); otherwise it reloads the
committed snapshot.  Because every "random" draw in the engine is an
xxhash64 function of stable ids, a resumed run is bit-identical to an
uninterrupted one (SURVEY §3.3).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = "_MANIFEST.json"
# Spark names a write task's output part-<task partition>-<uuid>-c<file>...
_PART_FILE = re.compile(r"part-(\d+)-.*\.parquet$")


def params_hash(params: dict) -> str:
    return hashlib.sha256(
        json.dumps(params, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


def dataframe_fingerprint(df: DataFrame) -> str:
    """Order-insensitive content hash: sum of row xxhash64 over canonicalized
    string forms + row count. One extra pass — only used at checkpoint
    boundaries."""
    row = df.select(
        F.coalesce(
            F.sum(
                F.xxhash64(*[F.col(c).cast("string") for c in df.columns]).cast(
                    "decimal(38,0)"
                )
            ),
            F.lit(0),
        ).alias("h"),
        F.count("*").alias("n"),
    ).collect()[0]
    return f"{row['n']}:{int(row['h'])}"


def fingerprint_rows(fingerprint: str) -> int:
    """Row count of a ``dataframe_fingerprint``."""
    return int(fingerprint.split(":")[0])


def path_fingerprint(*paths: str) -> str:
    """Cheap CONTENT-tied fingerprint of on-disk inputs: sorted file names +
    sizes + mtime_ns under each path. Changing the corpus at the same path
    changes the fingerprint, so resume never replays snapshots of stale
    inputs (a bare path string would). One os.walk, no Spark job."""
    h = hashlib.sha256()
    for path in paths:
        if os.path.isdir(path):
            for root, dirs, files in sorted(os.walk(path)):
                dirs.sort()
                for fname in sorted(files):
                    fp = os.path.join(root, fname)
                    st = os.stat(fp)
                    h.update(
                        f"{os.path.relpath(fp, path)}:{st.st_size}:{st.st_mtime_ns};".encode()
                    )
        elif os.path.exists(path):
            st = os.stat(path)
            h.update(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns};".encode())
        else:
            h.update(f"missing:{path};".encode())
    return h.hexdigest()[:16]


@dataclass
class StageResult:
    df: DataFrame
    skipped: bool
    manifest: dict


_FANOUT_DIRS: list[str] = []
_FANOUT_PERSISTED: list[DataFrame] = []


def _cleanup_fanout_dirs() -> None:
    import shutil

    for d in _FANOUT_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    _FANOUT_DIRS.clear()


def release_fanouts() -> None:
    """Unpersist every DataFrame materialized by materialize_fanout's
    persist-based modes (disk/local). CacheManager holds STRONG refs to
    persisted plans — dropping the Python handle does NOT free the blocks
    (and an identical re-built plan would silently cache-hit stale data) —
    so long sessions that run the pipeline repeatedly (bench repeat loops,
    pytest, notebook use) must call this once the consuming stage's actions
    have completed. Parquet-mode temp dirs are left for the atexit sweep:
    a parquet fan-out read is re-executable lazily, so deleting the files
    mid-session could break a consumer that has not materialized yet."""
    for df in _FANOUT_PERSISTED:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to free
    _FANOUT_PERSISTED.clear()


# auto fan-out mode: parquet only pays off when the materialized stage is
# CORPUS-sized AND the session is wide-parallel; for dictionary-small
# fan-outs the parquet committer + fresh-scan overhead dominates (measured
# round 4→5: minhash_doc_pairs' 5k-doc shingle fan-out at local[32] — warm
# parquet 4.8 s vs disk 3.2 s, COLD parquet 17.3 s; that one default choice
# was the entire 4.0→12.0 s round-4 driver-bench regression). Catalyst plan
# stats can't see corpus scale through localCheckpoint/replicate plans
# (measured: sizeInBytes is identical at x4 and x64 replication), so the
# size term is an explicit caller hint, same pattern as extract's n_docs.
FANOUT_PARQUET_MIN_ROWS = 50_000


def materialize_fanout(
    df: DataFrame, mode: str | None = None, scale_hint: int | None = None
) -> DataFrame:
    """Materialize a fan-out stage output exactly once (consumed by several
    downstream branches). Three storage paths, selectable via
    ``$SPARK_GRAFT_CKPT``; measured head-to-head at 2 and 8 pinned cores,
    160k docs (tools/bench_isolate.py) AND — round 4, after the round-3
    disk default regressed the driver bench 43% at local[32] — at the
    driver's own 32 threads (BENCH/BASELINE.md):

    - ``auto`` (default): ``parquet`` only when the input is known
      corpus-scale (``scale_hint`` ≥ FANOUT_PARQUET_MIN_ROWS — callers that
      know the corpus cardinality pass it; run_pipeline does) AND the
      session is ≥16-way parallel; ``disk`` otherwise. At local[32] on the
      80k-doc pipeline fan-out parquet wins (min-of-3 A/B ×3 alternating
      passes: parquet 9.2 s / disk 10.5 / local 12.7) because the
      persist+count job serializes through the shared block manager while
      the parquet write commits purely per-task; on SMALL inputs and at 2–8
      pinned cores disk wins everywhere measured (round-4 regression note
      above), so disk is the no-information default — its worst measured
      penalty is ~13% at 32 threads, parquet's is 3-5x on small inputs.
    - ``disk``: ``persist(DISK_ONLY)`` + count. Tasks spill serialized
      blocks to executor-local disk (tmpfs here) in parallel and never
      touch the deserialized memory store, so there is no shared
      memory-store lock and no GC amplification. Checkpoint cost over the
      un-checkpointed slice: +23.6 s @2 cores / +2.9 s @8 — the cheapest
      AND best-scaling option at low core counts.
    - ``parquet``: write to ``spark.local.dir`` and re-read — a fresh
      columnar scan downstream; consumers get column pruning, and on
      clusters the re-read can go to DFS.
    - ``local``: ``localCheckpoint(eager=True)`` — deserialized block-
      manager storage: the single shared memory store every block write
      serializes through; kept for comparison (worst at every measured
      parallelism).
    """
    mode = mode or os.environ.get("SPARK_GRAFT_CKPT", "auto")
    if mode == "auto":
        wide = df.sparkSession.sparkContext.defaultParallelism >= 16
        big = scale_hint is not None and scale_hint >= FANOUT_PARQUET_MIN_ROWS
        mode = "parquet" if (wide and big) else "disk"
    if mode == "none":
        # no materialization: downstream consumers recompute the stage's
        # subtree. Correct (everything is deterministic) and competitive
        # when the subtree is cheap JVM work — A/B-able per run.
        return df
    if mode == "local":
        out = df.localCheckpoint(eager=True)
        _FANOUT_PERSISTED.append(out)
        return out
    if mode == "disk":
        from pyspark import StorageLevel

        out = df.persist(StorageLevel.DISK_ONLY)
        out.count()
        _FANOUT_PERSISTED.append(out)
        return out
    if mode != "parquet":
        raise ValueError(f"unknown SPARK_GRAFT_CKPT mode: {mode!r}")
    import atexit
    import uuid

    spark = df.sparkSession
    try:
        base = spark.conf.get("spark.local.dir").split(",")[0]
    except Exception:
        base = "/tmp"
    path = os.path.join(base, "fanout-ckpt", uuid.uuid4().hex)
    df.write.mode("overwrite").parquet(path)
    if not _FANOUT_DIRS:
        atexit.register(_cleanup_fanout_dirs)
    _FANOUT_DIRS.append(path)
    return spark.read.parquet(path)


def part_file_rows(data_dir: str) -> dict[str, int]:
    """Rows per write task of a parquet directory, read from the part files'
    footers (no Spark job), keyed by the task's partition number as a
    string. Files one task split (``maxRecordsPerFile``) add up under its
    key."""
    import pyarrow.parquet as pq

    rows: dict[str, int] = {}
    for name in sorted(os.listdir(data_dir)):
        m = _PART_FILE.match(name)
        if m:
            key = str(int(m.group(1)))
            n = pq.read_metadata(os.path.join(data_dir, name)).num_rows
            rows[key] = rows.get(key, 0) + n
    return rows


class ParquetSnapshotStore:
    """Snapshot store on a local filesystem path (the manifest and the
    footer row counts are read with plain file I/O)."""

    def __init__(self, base_dir: str):
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    def _dir(self, stage: str, phash: str) -> str:
        return os.path.join(self.base_dir, stage, f"snapshot-{phash}")

    def manifest_path(self, stage: str, phash: str) -> str:
        return os.path.join(self._dir(stage, phash), MANIFEST)

    def load_manifest(self, stage: str, phash: str) -> dict | None:
        p = self.manifest_path(stage, phash)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return None

    def read(self, spark: SparkSession, stage: str, phash: str) -> DataFrame:
        """The committed snapshot, opened with the schema its manifest
        recorded, so no schema-inference job runs. Manifests written before
        the schema was recorded as JSON (``schema`` is then a simpleString)
        fall back to inference."""
        man = self.load_manifest(stage, phash)
        reader = spark.read
        if man and isinstance(man.get("schema"), dict):
            reader = reader.schema(StructType.fromJson(man["schema"]))
        return reader.parquet(os.path.join(self._dir(stage, phash), "data"))

    def commit(
        self,
        df: DataFrame,
        stage: str,
        phash: str,
        input_fingerprint: str,
        extra: dict | None = None,
    ) -> tuple[DataFrame, dict]:
        """Write data, gather lineage counters, then publish the manifest
        (manifest-last = atomic commit point). The write is the only Spark
        job: ``rows`` and ``partition_rows`` (rows per written part file,
        keyed by write-task number) come from the parquet footers, and the
        snapshot is re-opened with ``df``'s schema, which Spark's file
        source makes nullable: exactly the schema inference would give. It
        is recorded as JSON under ``schema`` for ``read``.

        The OLD manifest (if any) is deleted FIRST: otherwise a crash between
        the data rewrite and the manifest rewrite would leave a stale-but-
        valid-looking manifest paired with new data, silently breaking the
        manifest-last atomicity contract on re-commit."""
        d = self._dir(stage, phash)
        data_dir = os.path.join(d, "data")
        old_manifest = self.manifest_path(stage, phash)
        if os.path.exists(old_manifest):
            os.remove(old_manifest)
        df.write.mode("overwrite").parquet(data_dir)
        committed = df.sparkSession.read.schema(df.schema).parquet(data_dir)
        per_part = part_file_rows(data_dir)
        manifest = {
            "stage": stage,
            "params_hash": phash,
            "input_fingerprint": input_fingerprint,
            "rows": sum(per_part.values()),
            "partition_rows": per_part,
            "schema": committed.schema.jsonValue(),
            **(extra or {}),
        }
        tmp = self.manifest_path(stage, phash) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self.manifest_path(stage, phash))
        return committed, manifest


class IcebergStore:
    """Iceberg-backed snapshot store — the same commit/read/resume contract
    as ParquetSnapshotStore, mapped onto Iceberg's native atomicity
    (SURVEY §4.3/§7.3: "write Iceberg-first, fall back cleanly").

    Mapping:
    - ``commit``  → ``df.writeTo(table).createOrReplace()`` — Iceberg's
      snapshot commit IS the atomic point (metadata-file swap), so no
      manifest-last dance is needed; lineage extras ride in table properties
      via a companion ``<table>__manifest`` row (same JSON as the parquet
      store writes to disk).
    - ``read``    → ``spark.read.table(table)`` pinned at the committed
      snapshot.
    - resume      → manifest lookup by (stage, params_hash) table name +
      input_fingerprint property equality, exactly like the parquet store.

    Requires an Iceberg catalog on the session
    (``spark.sql.catalog.<name>`` + the iceberg-spark-runtime jar). The
    sandbox has no jar (verified round 1), so construction raises unless the
    catalog is actually configured — tests skip in that case
    (tests/test_persistence.py::test_iceberg_store_unavailable)."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str = "kg"):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        conf = spark.conf
        impl = None
        try:
            impl = conf.get(f"spark.sql.catalog.{catalog}")
        except Exception:
            impl = None
        if not impl:
            raise RuntimeError(
                f"no Iceberg catalog configured at spark.sql.catalog.{catalog}; "
                "use ParquetSnapshotStore (same API) or configure "
                "spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-*"
            )
        spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}"
        )

    def _table(self, stage: str, phash: str) -> str:
        return f"{self.catalog}.{self.namespace}.{stage}_{phash}"

    def _manifest_table(self, stage: str, phash: str) -> str:
        return self._table(stage, phash) + "__manifest"

    def load_manifest(self, stage: str, phash: str) -> dict | None:
        mt = self._manifest_table(stage, phash)
        if not self.spark.catalog.tableExists(mt):
            return None
        row = self.spark.read.table(mt).collect()
        return json.loads(row[0]["manifest_json"]) if row else None

    def read(self, spark: SparkSession, stage: str, phash: str) -> DataFrame:
        """Read the stage output PINNED at the snapshot id recorded in the
        manifest at commit time (``snapshot-id`` read option) — a concurrent
        createOrReplace cannot change what a resumed stage sees, matching the
        parquet store's immutable-snapshot contract. Falls back to the live
        table only for manifests written before snapshot ids were recorded."""
        man = self.load_manifest(stage, phash)
        reader = spark.read
        if man and man.get("snapshot_id") is not None:
            reader = reader.option("snapshot-id", int(man["snapshot_id"]))
        return reader.table(self._table(stage, phash))

    def _current_snapshot_id(self, table: str) -> int | None:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {table}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return int(rows[0]["snapshot_id"]) if rows else None

    def commit(
        self,
        df: DataFrame,
        stage: str,
        phash: str,
        input_fingerprint: str,
        extra: dict | None = None,
    ) -> tuple[DataFrame, dict]:
        t = self._table(stage, phash)
        # drop the stale manifest FIRST (same crash-ordering contract as the
        # parquet store), then snapshot-commit the data, then the manifest.
        self.spark.sql(f"DROP TABLE IF EXISTS {self._manifest_table(stage, phash)}")
        df.writeTo(t).createOrReplace()
        snapshot_id = self._current_snapshot_id(t)
        committed = self.spark.read.table(t)
        per_part = {
            str(r["pid"]): r["rows"]
            for r in committed.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count("*").alias("rows"))
            .collect()
        }
        manifest = {
            "stage": stage,
            "params_hash": phash,
            "input_fingerprint": input_fingerprint,
            "snapshot_id": snapshot_id,
            "rows": int(sum(per_part.values())),
            "partition_rows": per_part,
            "schema": committed.schema.simpleString(),
            **(extra or {}),
        }
        self.spark.createDataFrame(
            [(json.dumps(manifest),)], "manifest_json string"
        ).writeTo(self._manifest_table(stage, phash)).createOrReplace()
        return committed, manifest


def run_stage(
    spark: SparkSession,
    store: ParquetSnapshotStore | None,
    stage: str,
    params: dict,
    input_fingerprint: str,
    compute: Callable[[], DataFrame],
    fan_out: bool = True,
    scale_hint: int | None = None,
) -> StageResult:
    """Execute-or-resume one pipeline stage.

    Without a store, a stage whose output ``fan_out``s to multiple consumers
    (triple assembly scans links four times — subj/obj × doc/span scope) is
    materialized EAGERLY via materialize_fanout. Lazy was tried in round 1
    ("saves a job"), but measured 30% slower end-to-end (92s → 64s at 8
    cores, 320k docs): with a lazy checkpoint the DAG scheduler can submit
    several downstream shuffle-map stages before any has materialized the
    blocks, and each one recomputes the full upstream subtree (the mention
    UDF ran more than once). Eager materializes exactly once in its own
    job. Single-consumer stages stay fully lazy (a checkpoint there only
    buys block traffic).

    With a store, ``store.commit`` writes the output in one job and returns
    a frame over the written files, which also serves fan-out consumers; a
    resume opens the snapshot with its manifest's recorded schema, so it
    runs no job before the caller's action."""
    if store is None:
        df = compute()
        if fan_out:
            df = materialize_fanout(df, scale_hint=scale_hint)
        return StageResult(df, skipped=False, manifest={})
    phash = params_hash(params)
    man = store.load_manifest(stage, phash)
    if man is not None and man.get("input_fingerprint") == input_fingerprint:
        return StageResult(store.read(spark, stage, phash), skipped=True, manifest=man)
    df, man = store.commit(compute(), stage, phash, input_fingerprint)
    return StageResult(df, skipped=False, manifest=man)
