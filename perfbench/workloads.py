"""The benchmark workloads.

Each workload is driven as a closed loop by one caller: an operation starts
only after the previous one has finished and its output has been checked.
References are computed after set-up, outside both set-up and the measured
window. Every operation's outcome is recorded; an exception or a wrong
output counts as a failure.

An operation is one batch job as its user runs it from a fresh session, so
there is no warm-up: JVM class loading, JIT, code generation and Python
worker start-up are part of the first operation's latency. On a 4-core host
one operation takes longer than the measured window, so a run holds one
operation; a faster engine gets further operations into the window (up to
``max_ops`` where it is set), which then run warm.

- ``kg_batches``: the construction pipeline (extract, canon, link,
  materialize) on the production resumable path. Each batch of sf0.1
  documents is committed through a ``ParquetSnapshotStore`` and then resumed
  from it. Per-call fixed cost dominates: dozens of Spark jobs, Python round
  trips and the snapshot writes.
- ``kb_synth``: the Melo & Paulheim learners and emitter on a seeded
  Zipf-skewed typed KG. A round learns the eMi model (a superset of M1 and
  M2) and emits facts in m1, m2 and emi mode; the pipeline is idle.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

from perfbench import inputs
from perfbench import host
from perfbench.host import log

LAYER_METRICS = [
    ("session.start_s", "s"),
    ("fixtures.docs_s", "s"),
    ("fixtures.gazetteer_s", "s"),
    ("fixtures.gazetteer_surfaces", "count"),
    ("extract.self_s", "s"),
    ("extract.mentions", "count"),
    ("extract.mentions_per_doc", "count"),
    ("extract.open_vocab_self_s", "s"),
    ("canon.self_s", "s"),
    ("canon.surfaces", "count"),
    ("canon.lsh_candidates", "count"),
    ("canon.verified_edges", "count"),
    ("canon.verify_yield", "ratio"),
    ("canon.components", "count"),
    ("canon.open_vocab_self_s", "s"),
    ("canon.open_vocab_surfaces", "count"),
    ("canon.open_vocab_lsh_candidates", "count"),
    ("canon.open_vocab_verified_edges", "count"),
    ("link.self_s", "s"),
    ("link.rows", "count"),
    ("materialize.self_s", "s"),
    ("materialize.triples", "count"),
    ("lineage.fanout_s", "s"),
    ("lineage.commit_s", "s"),
    ("lineage.snapshot_bytes_per_doc", "B/doc"),
    ("lineage.resume_s", "s"),
    ("pipeline.return_s", "s"),
    ("pipeline.jobs_before_return", "count"),
    ("spark.jobs_per_call", "count"),
    ("spark.tasks_per_call", "count"),
    ("spark.task_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.run_minus_cpu_s", "s"),
    ("spark.python_stages_per_call", "count"),
    ("spark.python_stage_s", "s"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.task_skew", "ratio"),
    ("learn.m1_s", "s"),
    ("learn.m2_s", "s"),
    ("learn.emi_s", "s"),
    ("emit.skeleton_s", "s"),
    ("emit.m1_s", "s"),
    ("emit.m2_s", "s"),
    ("emit.emi_s", "s"),
    ("emit.accept_ratio_m2", "ratio"),
    ("emit.accept_ratio_emi", "ratio"),
    ("trace.call_p50_s", "s"),
]

END_TO_END_METRICS = [
    ("setup_s", "s"),
    ("call_cpu_s", "s"),
    ("jvm_rss_peak_mb", "MB"),
]

STAGES = ["extract", "canon", "link", "materialize"]


@dataclass
class Outcomes:
    """Operations attempted and failed, with one line per failure."""

    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def record(self, name: str, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {why}")
            log(f"FAILED {name}: {why}")

    def guard(self, name: str, fn):
        """Run one operation; an exception counts as a failed operation."""
        try:
            return fn()
        except Exception:
            self.record(name, False, traceback.format_exc(limit=3))
            return None


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it; None below eleven samples."""
    if len(values) < 11:
        return None
    s = sorted(values)
    k = len(s) - 11
    return 100.0 * (k + 1) / len(s), s[k]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


class Workload:
    """Shared closed-loop harness. Subclasses define ``prepare`` (inputs),
    ``references``, ``operation`` and ``trace_layers``, and the
    job-group patterns of one call (``call_groups``) and of the part of a
    call before the engine returns (``plan_groups``). ``max_ops`` caps the
    measured operations when their references are computed in advance."""

    plan_groups: str | None = None
    max_ops: int | None = None

    def __init__(self, spark, work_dir: str, seed: int, small: bool, traced: bool):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.small = small
        self.traced = traced
        self.out = Outcomes()
        self.jvm = host.jvm_pid(spark)
        self.latencies: list[float] = []
        self.cpu: list[float] = []
        self.items = 0
        self.busy_s = 0.0
        self.stored_bytes = 0
        self.detail: dict = {}
        self.layers: dict = {}

    def group(self, name: str) -> None:
        """Tag the jobs that follow with a job group (traced run only)."""
        if self.traced:
            self.spark.sparkContext.setJobGroup(name, name)

    def setup(self) -> float:
        """Input preparation time. References are built after it and are
        not counted."""
        t_prep = timed(self.prepare)
        t_ref = timed(self.references)
        log(f"setup: prepare {t_prep:.2f} s, references {t_ref:.2f} s")
        return t_prep

    def measure(self, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        i = 0
        while True:
            t_op = timed(lambda: self.operation(i))
            log(f"operation {i}: {t_op:.2f} s with checks, latency {self.latencies[-1:]}")
            i += 1
            if time.perf_counter() >= deadline or i == self.max_ops:
                break
        self.group("harness")

    def summarize(self) -> None:
        """Fill ``detail`` with the operation metrics."""
        if not self.latencies:
            raise RuntimeError("no operation completed; nothing was measured")
        self.detail["call_p50_s"] = (statistics.median(self.latencies), "s")
        self.detail["call_cpu_s"] = (statistics.median(self.cpu), "s")
        self.detail["measured_calls"] = (len(self.latencies), "count")
        self.detail[self.rate_name] = (self.items / self.busy_s, "1/s")
        self.detail["stored_bytes_per_item"] = (self.stored_bytes / self.items, "B/item")


class KgBatches(Workload):
    name = "kg_batches"
    call_groups = r"op\d+/commit/"
    plan_groups = r"op\d+/commit/plan$"
    rate_name = "docs_per_s"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.corpus_dir = inputs.SF0001_DIR if self.small else inputs.CORPUS_DIR
        self.batch_docs = 10 if self.small else 80
        self.max_ops = 2 if self.small else 3
        self.open_vocab_docs = 20 if self.small else 100
        self.resume_s: list[float] = []
        self.return_s: list[float] = []
        self.snapshot_bytes: list[int] = []

    def prepare(self) -> None:
        from kbgen_spark import fixtures as FX

        self.corpus = inputs.load_corpus(self.corpus_dir)
        flat = FX.load_flat_documents(self.spark, self.corpus_dir)
        self.gazetteer = FX.build_gazetteer(flat).localCheckpoint(eager=True)
        self.patterns = FX.build_relation_patterns(self.spark).localCheckpoint(eager=True)

    def references(self) -> None:
        """Every batch the window may measure, materialized, each with its
        golden triples."""
        spec = importlib.util.spec_from_file_location(
            "golden_gen",
            os.path.join(os.path.dirname(os.path.dirname(__file__)), "tests", "golden_gen.py"),
        )
        golden = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(golden)
        gaz_pd = self.gazetteer.toPandas()
        pat_pd = self.patterns.toPandas()
        self.batches = []
        for b in range(self.max_ops):
            docs = self.batch_docs_frame(b)
            expect = golden.run_golden(docs.toPandas(), gaz_pd, pat_pd)
            self.batches.append((docs, set(expect.itertuples(index=False, name=None))))

    def batch_docs_frame(self, b: int):
        from kbgen_spark import fixtures as FX

        flat = inputs.corpus_batch(self.corpus, self.seed, b, self.batch_docs)
        return FX.interleave_documents(self.spark.createDataFrame(flat)).localCheckpoint(
            eager=True
        )

    def _call(self, tag: str, docs, store_dir: str):
        from kbgen_spark.pipeline import run_pipeline
        from kbgen_spark.plans.lineage import ParquetSnapshotStore

        self.group(f"{tag}/plan")
        cpu0 = host.tree_cpu_s(self.jvm)
        t0 = time.perf_counter()
        run = run_pipeline(
            self.spark,
            self.corpus_dir,
            store=ParquetSnapshotStore(store_dir),
            docs=docs,
            gazetteer=self.gazetteer,
            patterns=self.patterns,
        )
        returned = time.perf_counter() - t0
        self.group(f"{tag}/action")
        rows = run.triples.select("subj", "pred", "obj").collect()
        total = time.perf_counter() - t0
        cpu = host.tree_cpu_s(self.jvm) - cpu0
        self.group("harness")
        return run, {tuple(r) for r in rows}, returned, total, cpu

    def _commit_and_resume(self, tag: str, b: int):
        """One batch: commit, check against its golden triples, resume, check
        the resume returns the committed triples. Returns the commit's
        latency, CPU time and time until ``run_pipeline`` returned, and the
        resume's latency; None for an operation that raised."""
        docs, expect = self.batches[b]
        store_dir = os.path.join(self.work, f"store-{b}")
        res = self.out.guard(f"{tag} commit", lambda: self._call(f"{tag}/commit", docs, store_dir))
        if res is None:
            return None
        _, committed, returned, commit_s, commit_cpu = res
        self.out.record(
            f"{tag} commit",
            committed == expect and len(expect) > 0,
            f"{len(committed)} triples, golden {len(expect)}",
        )
        res = self.out.guard(f"{tag} resume", lambda: self._call(f"{tag}/resume", docs, store_dir))
        resume_s = None
        if res is not None:
            run, resumed, _, resume_s, _ = res
            self.out.record(
                f"{tag} resume",
                resumed == committed and sorted(run.skipped) == sorted(STAGES),
                f"{len(resumed)} triples, skipped {run.skipped}",
            )
        self.snapshot_bytes.append(dir_bytes(store_dir))
        return commit_s, commit_cpu, returned, resume_s

    def operation(self, i: int) -> None:
        res = self._commit_and_resume(f"op{i}", i)
        if res is None:
            return
        commit_s, commit_cpu, returned, resume_s = res
        self.latencies.append(commit_s)
        self.cpu.append(commit_cpu)
        self.return_s.append(returned)
        self.stored_bytes += self.snapshot_bytes[-1]
        self.items += self.batch_docs
        self.busy_s += commit_s
        if resume_s is not None:
            self.resume_s.append(resume_s)

    def summarize(self) -> None:
        super().summarize()
        self.detail["batch_docs"] = (self.batch_docs, "count")
        if self.resume_s:
            self.detail["resume_p50_s"] = (statistics.median(self.resume_s), "s")

    def trace_layers(self) -> None:
        """Layer self times on pre-materialized inputs, each forced into a
        noop sink, plus the layer counts."""
        from kbgen_spark import fixtures as FX
        from kbgen_spark.fixtures_openvocab import open_vocab_corpus
        from kbgen_spark.operators.extract import extract_mentions
        from kbgen_spark.operators.link import link_and_canonicalize
        from kbgen_spark.operators.materialize import assemble_triples
        from kbgen_spark.pipeline import build_canon_map
        from kbgen_spark.plans.lineage import (
            ParquetSnapshotStore,
            materialize_fanout,
            release_fanouts,
        )

        L = self.layers
        spark, gaz, n = self.spark, self.gazetteer, self.batch_docs
        self.group("layers")
        flat_b = spark.createDataFrame(
            inputs.corpus_batch(self.corpus, self.seed, 0, n)
        ).localCheckpoint(eager=True)
        L["fixtures.docs_s"] = timed(lambda: noop(FX.interleave_documents(flat_b)))
        flat = FX.load_flat_documents(spark, self.corpus_dir)
        L["fixtures.gazetteer_s"] = timed(lambda: noop(FX.build_gazetteer(flat)))
        L["fixtures.gazetteer_surfaces"] = gaz.count()

        docs = self.batches[0][0]
        surfaces = sorted({r[0] for r in gaz.select("surface_form").collect()})
        L["extract.self_s"] = timed(
            lambda: noop(extract_mentions(docs, gaz, n_docs=n, surfaces=surfaces))
        )
        mentions = extract_mentions(docs, gaz, n_docs=n, surfaces=surfaces).localCheckpoint(
            eager=True
        )
        L["extract.mentions"] = mentions.count()
        L["extract.mentions_per_doc"] = L["extract.mentions"] / n

        L["canon.self_s"] = timed(lambda: noop(build_canon_map(gaz)))
        canon = build_canon_map(gaz).localCheckpoint(eager=True)
        L.update({f"canon.{k}": v for k, v in canon_counts(gaz).items()})
        L["canon.verify_yield"] = (
            L["canon.verified_edges"] / L["canon.lsh_candidates"]
            if L["canon.lsh_candidates"]
            else 0.0
        )

        L["link.self_s"] = timed(
            lambda: noop(link_and_canonicalize(mentions, gaz, canon, pre_normalized=True))
        )
        links = link_and_canonicalize(mentions, gaz, canon, pre_normalized=True).localCheckpoint(
            eager=True
        )
        L["link.rows"] = links.count()
        L["materialize.self_s"] = timed(lambda: noop(assemble_triples(links, self.patterns)))
        triples = assemble_triples(links, self.patterns).localCheckpoint(eager=True)
        L["materialize.triples"] = triples.count()

        L["lineage.fanout_s"] = timed(lambda: materialize_fanout(links, scale_hint=n))
        release_fanouts()
        store = ParquetSnapshotStore(os.path.join(self.work, "store-layers"))
        outputs = {"extract": mentions, "canon": canon, "link": links, "materialize": triples}
        L["lineage.commit_s"] = timed(
            lambda: [store.commit(df, stage, "layers", "layers") for stage, df in outputs.items()]
        )
        L["lineage.resume_s"] = timed(
            lambda: [noop(store.read(spark, stage, "layers")) for stage in outputs]
        )
        L["lineage.snapshot_bytes_per_doc"] = statistics.median(self.snapshot_bytes) / n
        L["pipeline.return_s"] = statistics.median(self.return_s)

        # Open-vocabulary probe: a gazetteer above the 1,024-surface literal
        # cap, so extract takes the sparse join path and canon's driver-local
        # pair loop does real work (its time grows much faster than the
        # surface count).
        ov_ids = spark.range(self.seed * 1000, self.seed * 1000 + self.open_vocab_docs)
        ov_flat = open_vocab_corpus(ov_ids.withColumnRenamed("id", "doc_id")).localCheckpoint(
            eager=True
        )
        ov_docs = FX.interleave_documents(ov_flat).localCheckpoint(eager=True)
        ov_gaz = FX.build_gazetteer(ov_flat).localCheckpoint(eager=True)
        L["extract.open_vocab_self_s"] = timed(
            lambda: noop(extract_mentions(ov_docs, ov_gaz, n_docs=self.open_vocab_docs))
        )
        L["canon.open_vocab_self_s"] = timed(lambda: noop(build_canon_map(ov_gaz)))
        counts = canon_counts(ov_gaz)
        for k in ("surfaces", "lsh_candidates", "verified_edges"):
            L[f"canon.open_vocab_{k}"] = counts[k]
        self.group("harness")


def canon_counts(gaz) -> dict:
    """Distinct surfaces, MinHash-LSH candidate pairs, pairs that pass the
    Jaccard verify, and connected components, computed with the canon
    operators the engine's distributed path uses."""
    from pyspark.sql import functions as F

    from kbgen_spark.operators.canonicalize import (
        lsh_candidate_pairs,
        minhash_signatures,
        verify_pairs_jaccard,
    )
    from kbgen_spark.operators.graph import connected_components
    from kbgen_spark.pipeline import JACCARD_T, LSH_BANDS, LSH_K

    sf = gaz.select("surface_form").distinct().localCheckpoint(eager=True)
    cands = lsh_candidate_pairs(
        minhash_signatures(sf, "surface_form", LSH_K), "surface_form", LSH_K, LSH_BANDS
    ).localCheckpoint(eager=True)
    edges = verify_pairs_jaccard(cands, threshold=JACCARD_T).localCheckpoint(eager=True)
    comp = connected_components(
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst")), vertices=sf
    )
    return {
        "surfaces": sf.count(),
        "lsh_candidates": cands.count(),
        "verified_edges": edges.count(),
        "components": comp.select("component").distinct().count(),
    }


class KbSynth(Workload):
    name = "kb_synth"
    call_groups = r"round/"
    rate_name = "facts_per_s"
    modes = ("m1", "m2", "emi")

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_facts = 4000 if self.small else 20_000
        self.n_emit = 4000 if self.small else 20_000
        self.learn_s: list[float] = []
        self.emit_s = {m: [] for m in self.modes}
        self.emitted = {m: [] for m in self.modes}
        self.fingerprints: dict = {}
        self.ref_keys: set | None = None

    def prepare(self) -> None:
        triples, types = inputs.synthetic_kg(self.n_facts, self.seed)
        d = os.path.join(self.work, "kg")
        os.makedirs(d, exist_ok=True)
        triples.to_parquet(os.path.join(d, "triples.parquet"))
        types.to_parquet(os.path.join(d, "types.parquet"))
        parts = 2 * host.cpu_count()
        read = self.spark.read.parquet
        self.triples = read(os.path.join(d, "triples.parquet")).repartition(parts).localCheckpoint(
            eager=True
        )
        self.types = read(os.path.join(d, "types.parquet")).repartition(parts).localCheckpoint(
            eager=True
        )

    def references(self) -> None:
        """The first round's output is the reference: a later round learns
        the same ``domain_range``, and every emit with the same seed, the
        first round's repeated emi emit included, gives the same fact set."""

    def _learn(self):
        from kbgen_spark.models.learn import learn_emi

        model = {k: v.persist() for k, v in learn_emi(self.triples, self.types).items()}
        for v in model.values():
            v.count()
        return model

    def _emit(self, model, mode: str, path: str) -> str:
        from kbgen_spark.models.emit import emit_synthetic

        emit_synthetic(self.spark, model, self.n_emit, seed=self.seed, mode=mode).write.mode(
            "overwrite"
        ).parquet(path)
        return path

    def operation(self, i: int) -> None:
        res = self._round(f"round/{i}")
        if res is None:
            return
        learn_s, round_s, cpu, stored, per_mode = res
        self.learn_s.append(learn_s)
        self.latencies.append(round_s)
        self.cpu.append(cpu)
        self.stored_bytes += stored
        self.busy_s += round_s
        for mode, (dt, n_out) in per_mode.items():
            self.emit_s[mode].append(dt)
            self.emitted[mode].append(n_out)
            self.items += n_out

    def _round(self, tag: str):
        """Learn, then emit and check every mode. Returns (learn seconds,
        round seconds, CPU seconds, bytes stored, {mode: (emit seconds,
        facts)}), or None when a call raised."""
        self.group(f"{tag}/learn")
        cpu0 = host.tree_cpu_s(self.jvm)
        t0 = time.perf_counter()
        model = self.out.guard(f"{tag} learn", self._learn)
        learn_s = time.perf_counter() - t0
        cpu = host.tree_cpu_s(self.jvm) - cpu0
        self.group("harness")
        if model is None:
            return None
        try:
            dr = model["domain_range"].toPandas()
            mts = model["multitypes"].toPandas()
            keys = set(zip(dr["pred"], dr["subj_mt"], dr["obj_mt"]))
            if self.ref_keys is None:
                self.ref_keys = keys
            self.out.record(
                f"{tag} learn",
                keys == self.ref_keys and len(keys) > 0,
                f"{len(keys)} domain_range rows, first round learned {len(self.ref_keys)}",
            )
            total_s, stored, per_mode = learn_s, 0, {}
            for mode in self.modes:
                path = os.path.join(self.work, f"emit-{tag.replace('/', '-')}-{mode}")
                self.group(f"{tag}/{mode}")
                cpu0 = host.tree_cpu_s(self.jvm)
                t0 = time.perf_counter()
                ok = self.out.guard(f"{tag} emit {mode}", lambda: self._emit(model, mode, path))
                dt = time.perf_counter() - t0
                cpu += host.tree_cpu_s(self.jvm) - cpu0
                self.group("harness")
                if ok is None:
                    return None
                total_s += dt
                n_out = self.check_emit(f"{tag} emit {mode}", mode, path, keys, mts)
                per_mode[mode] = (dt, n_out)
                stored += dir_bytes(path)
            if tag == "round/0":
                # Outside the timed round: emit emi again with the same seed.
                name, path = f"{tag} emit emi again", os.path.join(self.work, "again-emi")
                if self.out.guard(name, lambda: self._emit(model, "emi", path)) is not None:
                    self.check_emit(name, "emi", path, keys, mts)
        finally:
            for v in model.values():
                v.unpersist()
        return learn_s, total_s, cpu, stored, per_mode

    def check_emit(self, name: str, mode: str, path: str, keys: set, mts) -> int:
        """m1 emits exactly n facts; m2 and emi at most n, no duplicates;
        every (pred, subj_mt, obj_mt) is in the learned domain_range; the
        fact set equals the first one emitted in this mode, with the same
        seed."""
        import pandas as pd

        from kbgen_spark.models.learn import NO_TYPE

        facts = pd.read_parquet(path)
        n = len(facts)
        mt = dict(zip(mts["entity"], mts["mt"]))
        typed = zip(
            facts["pred"],
            facts["subj"].map(lambda e: mt.get(e, NO_TYPE)),
            facts["obj"].map(lambda e: mt.get(e, NO_TYPE)),
        )
        outside = sum(1 for k in typed if k not in keys)
        dups = n - len(facts.drop_duplicates())
        count_ok = n == self.n_emit if mode == "m1" else 0 < n <= self.n_emit
        fp = fact_fingerprint(facts)
        expect_fp = self.fingerprints.setdefault(mode, fp)
        self.out.record(
            name,
            count_ok and outside == 0 and (mode == "m1" or dups == 0) and fp == expect_fp,
            f"{n} facts, {dups} duplicates, {outside} outside domain_range,"
            f" fingerprint {fp}, first {expect_fp}",
        )
        return n

    def summarize(self) -> None:
        super().summarize()
        self.detail["learn_s"] = (statistics.median(self.learn_s), "s")
        for m in self.modes:
            rate = sum(self.emitted[m]) / sum(self.emit_s[m])
            self.detail[f"emit_{m}_facts_per_s"] = (rate, "1/s")
        self.detail["emit_facts_per_mode"] = (self.n_emit, "count")
        for m, fp in self.fingerprints.items():
            self.detail[f"fingerprint_{m}"] = (fp, "rows:hash")

    def trace_layers(self) -> None:
        from kbgen_spark.models.emit import emit_synthetic, sample_skeletons
        from kbgen_spark.models.learn import learn_emi, learn_m1, learn_m2

        L, spark = self.layers, self.spark
        self.group("layers")
        for name, learner in (("m1", learn_m1), ("m2", learn_m2), ("emi", learn_emi)):
            L[f"learn.{name}_s"] = timed(
                lambda: [noop(df) for df in learner(self.triples, self.types).values()]
            )
        model = self._learn()
        dr = model["domain_range"].toPandas()
        sizes = {r["mt"]: r["n"] for r in model["mt_dist"].collect()}
        subj = {(p, m): max(sizes.get(m, 1), 1) for p, m in zip(dr["pred"], dr["subj_mt"])}
        obj = {(p, m): max(sizes.get(m, 1), 1) for p, m in zip(dr["pred"], dr["obj_mt"])}
        L["emit.skeleton_s"] = timed(
            lambda: noop(sample_skeletons(spark, dr, subj, obj, self.n_emit, self.seed))
        )
        for mode in self.modes:
            L[f"emit.{mode}_s"] = timed(
                lambda: noop(emit_synthetic(spark, model, self.n_emit, seed=self.seed, mode=mode))
            )
        for mode in ("m2", "emi"):
            L[f"emit.accept_ratio_{mode}"] = statistics.median(self.emitted[mode]) / self.n_emit
        for v in model.values():
            v.unpersist()
        self.group("harness")


def fact_fingerprint(facts) -> str:
    """Order-insensitive ``<rows>:<sum of row hashes mod 2^64>``."""
    import pandas as pd

    h = pd.util.hash_pandas_object(facts[["subj", "pred", "obj"]], index=False)
    return f"{len(facts)}:{int(h.sum()) & 0xFFFFFFFFFFFFFFFF}"


WORKLOADS = {w.name: w for w in (KgBatches, KbSynth)}
