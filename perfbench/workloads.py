"""Workload definitions: which registry ops each workload runs, and why.

Each module likely to be optimised does most of its work in one workload
and little in the other:

- ``curate``: LLM-curation operators on a small corpus. Builders run many
  Spark jobs of their own, so operator builders and driver job latency
  dominate; lineage extraction, the listener and streaming sit idle.
- ``sql_audit``: relational, TPC-DS and streaming queries with the
  reference's audit mode on: a file-sink ``functions.listener`` on the
  session, the listener bus drained after each query, then the query's
  expanded and contracted lineage rendered to DOT (``api.extract`` and the
  GraphViz sink, as ``api.to_sql_flow_string`` does). Each pass also runs
  catalog-mode lineage (``api.extract(spark)``) over the tracked views of
  ``examples/llm_curation_pipeline.py``. The only workload that exercises
  ``plans``, ``sinks``, ``functions.listener`` and ``streaming``.
"""

from __future__ import annotations

#: builders that run Spark jobs of their own (BPE merges and PageRank
#: iterate), single-plan text, quality and dedup operators, and two that run
#: Python workers (a pandas UDF and a ``mapInPandas`` sketch)
CURATE_OPS = (
    "text_normalize_nfc",
    "bpe_train_merges",
    "quality_gopher_rules",
    "dedup_exact",
    "freq_heavy_hitters",
    "graph_pagerank_centrality",
    "curate_corpus",
)

#: ``sessionize_gaps`` is left out: its builder compares whole-second
#: ``CAST(ts AS LONG)`` differences with the 1800 s gap while the oracle
#: compares exact intervals, so a gap in (1800 s, 1801 s) splits a session
#: in DuckDB but not in Spark, and some inputs fail verification.
#: ``stream_click_purchase_join`` (3 s a run, nearly all streaming
#: machinery), ``tpcds_q4``/``q23a``/``q98`` and ``q3_shipping_priority``
#: (a join like ``q5``, with a smaller plan) are left out to keep a pass
#: short enough for several passes a run. ``op_p50_s`` is the latency of
#: the middle op, so the op set keeps a steady op in the middle:
#: ``tpcds_q67`` varies 30% from run to run, the others about 10%, and the
#: light ``q6_forecast_revenue``, ``win_ranking`` and
#: ``events_hourly_rollup`` would put ``tpcds_q67`` in the middle
SQL_AUDIT_OPS = (
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "tpcds_q67",
    "stream_user_totals",
)

#: the catalog-mode lineage op of ``sql_audit`` (not a registry op)
CATALOG_OP = "llm_pipeline_catalog"

#: ops that start a streaming query; their empty-source twins give the
#: per-batch machinery estimate (same method as bench.py)
STREAM_OPS = ("stream_user_totals",)

#: TPC-DS shim tables materialized in set-up; the workload's TPC-DS queries
#: read no other materialized shim table (``tpcds_q4`` and ``tpcds_q23a``
#: would add three more, about 5 s of set-up per run)
SHIM_TABLES = ("date_dim", "store_sales")

#: scale factor of the generated inputs
SF = {"curate": 0.01, "sql_audit": 0.01}

#: untimed passes after the verification pass: the first passes after it
#: are still 20-30% slower (JIT)
WARMUP_PASSES = 1

#: fewest timed passes of a run: pass times keep falling for a few passes
#: after the warm-up, so ``pass_s``, their median, needs at least three
MIN_PASSES = 3

#: seed of the generated inputs. Fixed, so that every run measures the same
#: data; ``--seed`` only permutes the op order
DATA_SEED = 20240101

#: per-layer metric prefixes a workload leaves idle; reported as 0 there
IDLE = {
    "curate": ("streaming.", "plans.", "sinks.", "listener.", "audit."),
    "sql_audit": (),
}

#: which end-to-end metric each per-layer metric should move, on which
#: workload (printed with every traced run)
SHOULD_MOVE = {
    "session.start_s": "setup_s on every workload",
    "setup.datagen_s": "setup_s on every workload",
    "tpcds.shim_etl_s": "setup_s on sql_audit",
    "setup.views_s": "setup_s on sql_audit",
    "operators.build_s": "pass_s on curate (most), a little on sql_audit",
    "operators.build_jobs": "pass_s on curate (most), a little on sql_audit",
    "exec.*": "exec.idle_s moves pass_s on curate; CPU and shuffle move pass_s on sql_audit",
    "catalyst.plan_s": "op_p50_s on sql_audit",
    "pyworker.udf_s": "pass_s on curate",
    "streaming.*": "pass_s on sql_audit",
    "plans.*": "op_p50_s on sql_audit and audit.lineage_lag_p50_s; none on curate",
    "sinks.*": "op_p50_s on sql_audit and audit.lineage_lag_p50_s; none on curate",
    "listener.*": "audit.lineage_lag_p50_s and audit.capture_ratio on sql_audit",
    "audit.*": "pass_s on sql_audit (capturing more actions costs time)",
    "memory.peak_rss_mb": "nothing end to end (too noisy to bound); memory of the driver tree",
    "host.*": "nothing: host drift shown beside the results, never used to normalise",
}
