"""kbgen_spark — a from-scratch, PySpark-native knowledge-graph construction
engine with the query/data-processing capabilities of the reference
``milost/kbgen`` (see SURVEY.md; reference mount empty at build time, so
semantics are re-grounded from the ESWC-2017 paper [P] and BASELINE.json).

Layout
------
- ``session``      SparkSession factory with scale-oriented defaults (AQE, skew join).
- ``fixtures``     deterministic derivation of the interleaved-span corpus,
                   gazetteer, and relation-pattern tables (FIXTURES.md).
- ``operators/``   extract / link / canonicalize / graph / materialize plus
                   training-data ops (dedup, similarity, textstats, multimodal).
- ``models/``      kbgen statistical models M1/M2/M3/eMi: learners + emitter.
- ``plans/``       snapshot/lineage store (resume), skew/salting helpers.
- ``streaming/``   Structured Streaming surface (windows, incremental ingest).
- ``pipeline``     end-to-end extract→link→canonicalize→materialize flow.

Everything is DataFrame-first: no RDD API, no per-row Python UDFs
(`BASELINE.json:15`). Data crosses the JVM boundary through Arrow: rows go
to Python workers only in pandas UDFs and ``mapInPandas``, and the
pipeline's driver-built tables (relation patterns, canon's driver-local
surfaces and map, local connected components) travel once as Arrow streams
into JVM local relations (``io.local_frame``), so a pipeline run starts no
Python worker for them. ``createDataFrame(<python list>)``, which scans a
``PythonRDD``, remains only off the pipeline path.
"""

__version__ = "0.1.0"
