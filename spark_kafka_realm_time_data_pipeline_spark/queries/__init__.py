"""Query registry — the driver-facing operator inventory.

Every implemented operator from SURVEY.md §2 is registered here as a
``QuerySpec``: a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) the ANSI-SQL twin DuckDB runs as the correctness oracle.
Column names/aliases are identical on both sides (driver hashes values after
sorting columns by name).

Numeric-parity discipline (SURVEY.md §7 "hard parts"):
- money/maths aggregates go through exact DECIMAL arithmetic and are cast to
  DOUBLE only at the end — bit-identical in Spark and DuckDB;
- timestamps are pinned to UTC (session.py) and emitted as strings or
  date_trunc'd values, never raw zone-dependent renderings;
- only IEEE-exact scalar functions (abs/floor/ceil/sqrt/arithmetic) are
  hash-compared; libm-dependent ones (ln/exp) are rounded.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


class QuerySpec(NamedTuple):
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str = ""


def registry() -> dict[str, QuerySpec]:
    from . import curation, llm, reference, relational, streaming, tpch, udfs

    merged: dict[str, QuerySpec] = {}
    # Order decides which entries land in the driver's bounded CORRECTNESS
    # window (first ~50): rotate the round-2-unchecked LLM/streaming/UDF
    # families to the front; the relational/reference entries (all green in
    # CORRECTNESS_r02) rotate behind them.
    for mod in (llm, streaming, udfs, reference, relational, tpch, curation):
        for name, spec in mod.QUERIES.items():
            if name in merged:
                raise ValueError(f"duplicate query name: {name}")
            merged[name] = spec
    # Correctness-window rotation (the driver checks the first ~50).  The
    # composition is MECHANICAL — `python tools/proof_ledger.py queue 50`:
    # (a) the STALE head, grouped by theme — every query whose code-closure
    #     fingerprint differs from its at-proof fingerprint in
    #     PROOF_LEDGER.json; tests/test_proof_freshness.py fails if one sits
    #     outside the window.  The multimodal block re-proves the feature
    #     queries now served by the shared batch builder
    #     (operators/multimodal.py: _feature_batch + one row fn per format);
    #     the foreachBatch block re-proves the streaming twins now driven
    #     by streaming/runner.py:run_foreach_batch;
    # (b) the oldest-proof fill (alphabetical within a round).  Additions
    #     displace names from the fill TAIL, never from the stale head.
    front = [
        n
        for n in (
            # (a) stale: pair tier + repeat / bigram filters
            "dedup_agreement_report",
            "dedup_containment",
            "dedup_jaccard_prefix",
            "dedup_keep_containment",
            "lm_perplexity_filter",
            "substring_dup_spans",
            # (a) stale: staged-index ingest / curation funnel
            "column_profile_approx",
            "curation_admission_e2e",
            "ingest_admission",
            "ingest_admission_day2",
            "ingest_index_merge",
            "streaming_ingest_admission",
            "streaming_ingest_admission_day2",
            # (a) stale: multimodal feature queries (shared batch builder)
            "multimodal_audio",
            "multimodal_features",
            "multimodal_fusion",
            "multimodal_jpeg_color",
            "multimodal_jpeg_dri",
            "multimodal_jpeg_progressive",
            "multimodal_jpeg_progressive_color",
            "multimodal_jpeg_sampling",
            "multimodal_jpeg_stats",
            "multimodal_png_stats",
            # (a) stale: foreachBatch replay twins (shared replay driver)
            "streaming_dedup_containment",
            "streaming_dedup_incremental",
            "streaming_foreachbatch_topk",
            "streaming_idempotent_sink",
            "streaming_mv_update",
            "streaming_ppl_gate",
            "streaming_quality_drift",
            "streaming_sim_topk",
            "streaming_sim_topk_day2",
            # (b) oldest-proof fill
            "streaming_outer_join",
            "streaming_session_window",
            "streaming_stateful_count",
            "tfidf_top_terms",
            "time_gapfill",
            "topk_per_group",
            "tpch_q3_shipping",
            "tpch_q4_order_priority",
            "tpch_q5_local_supplier",
            "tpch_q6_forecast",
            "tpch_q7_volume",
            "try_arithmetic",
            "window_range_frame",
            "window_rank",
            "window_running",
            "ann_pq_codes",
            "anomaly_zscore",
            "avro_pyds_roundtrip",
        )
        if n in merged  # ordering hint only — a renamed query must not break registry()
    ]
    rest = [n for n in merged if n not in front]
    ordered = front + rest
    return {n: merged[n] for n in ordered}
