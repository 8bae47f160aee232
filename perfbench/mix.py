"""``analytics_mix``: one closed-loop client running a fixed mix of
registry queries (``__spark_entry__.queries()[name]``) in a seeded order,
each timed through the noop sink.

The mix uses ``operators.dedup`` and ``operators.similarity`` the other way
round from ``curation_ingest`` (full-corpus builds, not delta probes
against staged indexes), so a funnel gain that costs the builds shows
here.  It is the only workload that runs ``operators.multimodal``.
"""

from __future__ import annotations

import importlib.util
import os
import time
from concurrent.futures import ThreadPoolExecutor

from . import gen
from .harness import ROOT, Timer, median, quantile

FAMILIES = {
    "relational": (
        "tpch_q9_profit",
        "pricing_summary",
        "nation_revenue",
        "topk_join",
        "sessionize",
        "window_running",
        "asof_join",
    ),
    "text": ("text_quality", "bm25_term_scores"),
    "dedup_build": ("dedup_minhash_lsh", "dedup_containment"),
    "similarity": ("sim_ivf_topk",),
    "multimodal": ("multimodal_features", "multimodal_jpeg_stats"),
    "stream_replay": ("streaming_window_tumbling", "streaming_dedup_watermark"),
}
MIX = tuple(q for qs in FAMILIES.values() for q in qs)
FAMILY_OF = {q: f for f, qs in FAMILIES.items() for q in qs}
SETUP_REPS = 3
MAX_PASSES = 20


def _check_module():
    """``tools/check.py`` of the checkout (not a package): its value_hash
    is the definition of a matching result."""
    spec = importlib.util.spec_from_file_location("_repo_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def pass_order(seed: int, p: int) -> list[str]:
    return [MIX[i] for i in gen.rng(seed, f"mix_pass{p}").permutation(len(MIX))]


def run_workload(run, tracer, progress) -> dict:
    import __spark_entry__ as entry

    spark = run.spark
    reps = []
    for rep in range(SETUP_REPS):
        sf_dir = run.path("data", f"rep{rep}")
        with Timer() as t:
            gen.write_corpus(run.seed, sf_dir)
        reps.append(t.s)
    queries = entry.queries()
    check = _check_module()

    # warm-up pass, which also collects each query's result for the check.
    # The batch queries warm up from a small thread pool; the streaming
    # replays run alone, because they swap session confs while they run.
    got: dict[str, tuple] = {}
    problems: list[str] = []

    def collect(q: str) -> None:
        try:
            df = queries[q](spark, sf_dir)
            got[q] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as exc:  # noqa: BLE001 — a failing query is a failed op
            problems.append(f"{q}: {type(exc).__name__}: {str(exc)[:200]}")

    with Timer() as t_warm:
        for q in FAMILIES["stream_replay"]:
            collect(q)
        batch = [q for q in pass_order(run.seed, -1) if FAMILY_OF[q] != "stream_replay"]
        with ThreadPoolExecutor(max_workers=spark.sparkContext.defaultParallelism) as pool:
            list(pool.map(collect, batch))
    setup_extra = median(reps) + t_warm.s

    pinned0 = tracer.persistent_rdds() if tracer.enabled else 0
    lat: dict[str, list[float]] = {q: [] for q in MIX}
    failed = attempted = passes = 0
    t_meas0 = time.time()
    with tracer.span("measure"):
        while passes < MAX_PASSES and (passes == 0 or time.time() - t_meas0 < run.seconds):
            with tracer.span("mix.pass", p=passes):
                for q in pass_order(run.seed, passes):
                    attempted += 1
                    try:
                        with tracer.span("mix.query", query=q, family=FAMILY_OF[q]), Timer() as t:
                            queries[q](spark, sf_dir).write.format("noop").mode("overwrite").save()
                        lat[q].append(t.s)
                    except Exception as exc:  # noqa: BLE001
                        failed += 1
                        problems.append(f"{q} pass {passes}: {type(exc).__name__}: {str(exc)[:200]}")
            passes += 1
    t_meas1 = time.time()
    pinned1 = tracer.persistent_rdds() if tracer.enabled else 0
    busy = sum(sum(v) for v in lat.values())
    done = sum(len(v) for v in lat.values())

    # oracle check of the warm-up pass, outside the timed window
    import duckdb

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    from spark_kafka_realm_time_data_pipeline_spark.schemas import TABLES

    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    wrong = 0
    for q, (cols, rows) in got.items():
        rel = con.sql(oracles[q])
        ora_rows = rel.fetchall()
        if len(rows) != len(ora_rows):
            problems.append(f"{q}: {len(rows)} rows, oracle {len(ora_rows)}")
            wrong += 1
        elif check.value_hash(rows, cols) != check.value_hash(ora_rows, list(rel.columns)):
            problems.append(f"{q}: value hash differs from the DuckDB oracle")
            wrong += 1
    con.close()

    all_lat = [x for v in lat.values() for x in v]
    detail = {
        "passes": passes,
        "mix_queries_per_s": done / busy,
        "mix_latency_p50_s": quantile(all_lat, 0.5),
        "mix_latency_p90_s": quantile(all_lat, 0.9),
        "samples": len(all_lat),
        "query_p50_s": {q: round(median(v), 4) for q, v in lat.items() if v},
        "setup_gen_s": reps,
        "warmup_s": t_warm.s,
    }
    e2e = {
        "p50_ms": (detail["mix_latency_p50_s"] * 1000.0, "ms"),
        "tail_ms": (detail["mix_latency_p90_s"] * 1000.0, "ms"),
        "rate_per_s": (done / busy, "1/s"),
    }
    layers = {}
    if tracer.enabled:
        by_span = tracer.attribute()
        spans = [tracer.spans[i] for i in tracer.named("mix.query")]
        per_family = {f: 0.0 for f in FAMILIES}
        for s in spans:
            per_family[s["family"]] += s["end"] - s["start"]
        m = tracer.span_metrics([s["id"] for s in spans], by_span)
        layers.update({f"mix.{f}_s": v / passes for f, v in per_family.items()})
        layers["mix.jobs"] = m.get("jobs", 0) / passes
        layers["mix.driver_gap_s"] = m.get("driver_gap_s", 0.0) / passes
    return {
        "setup_extra_s": setup_extra,
        "window": (t_meas0, t_meas1),
        "pinned": (pinned0, pinned1),
        "problems": problems,
        "attempted": attempted + len(MIX),
        # the warm-up pass's ops fail when a query raises or its result
        # differs from the oracle's
        "failed": failed + len(MIX) - len(got) + wrong,
        "e2e": e2e,
        "layers": layers,
        "detail": detail,
    }
