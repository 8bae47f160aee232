"""``curation_ingest``: the daily ingest job, closed loop, one day at a time.

Set-up stages the exact-hash, containment, band and IVF indexes into the
run's private scratch (four independent jobs, staged concurrently).  Each
day then runs, in one long-lived session:

1. ``operators.ingest.ingest_admission_batch`` on the day's delta, with the
   decisions written out;
2. ``operators.ingest.merge_admitted_into_indexes`` from the written
   decisions, its extension files then appended into the index dirs (what
   the function's docstring says production does);
3. the vector gate ``operators.similarity.ann_vs_base_batch`` (k=1), its
   top-1 written out, and ``merge_admitted_into_ivf``, appended likewise.

Each delta plants copies of the previous day's fresh docs and vectors, so
day N probes what day N-1 admitted and the merge is on the critical path.
Pins leaked by a day show up as slower later days.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from . import gen
from .harness import Timer, median, quantile

N_DAYS_MAX = 4
MIN_DAYS = 2
SETUP_REPS = 3
DUP_COSINE = 0.99


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def append_extension(ext_dir: str, index_dir: str) -> None:
    """Move the extension's part files into the index table: a file-level
    ``mode("append")``, partition dirs included."""
    for src in glob.glob(os.path.join(ext_dir, "**", "*"), recursive=True):
        name = os.path.basename(src)
        if os.path.isdir(src) or "_SUCCESS" in name:
            continue
        rel = os.path.relpath(src, ext_dir)
        dst = os.path.join(index_dir, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)


STAGE_GROUP = "perfbench.stage."


def stage_indexes(spark, data: str, root: str) -> dict:
    """Stage the four indexes concurrently: they are independent
    maintenance jobs.  Each index's jobs carry its name as job group, so
    the traced run can sum each one's own executor time."""
    from spark_kafka_realm_time_data_pipeline_spark.operators import dedup as D
    from spark_kafka_realm_time_data_pipeline_spark.operators import ingest as I
    from spark_kafka_realm_time_data_pipeline_spark.operators import similarity as S

    base = spark.read.parquet(os.path.join(data, "base_docs.parquet")).select("doc_id", "text")
    vecs = spark.read.parquet(os.path.join(data, "base_vecs.parquet"))
    idx = {k: os.path.join(root, k) for k in ("hash", "band", "containment", "ivf")}
    jobs = {
        "hash": lambda: I.stage_hash_index(base, idx["hash"]),
        "band": lambda: D.stage_base_index(base, idx["band"]),
        "containment": lambda: D.stage_containment_index(base, idx["containment"]),
        "ivf": lambda: S.stage_ivf_index(vecs, idx["ivf"]),
    }

    def stage(name: str) -> None:
        spark.sparkContext.setJobGroup(STAGE_GROUP + name, name)
        jobs[name]()

    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        list(pool.map(stage, jobs))
    return idx


def run_day(run, tracer, idx: dict, data: str, day: int, tag: str) -> dict:
    """One day's three steps; returns the merge reports."""
    from pyspark.sql import functions as F

    from spark_kafka_realm_time_data_pipeline_spark.operators import ingest as I
    from spark_kafka_realm_time_data_pipeline_spark.operators import similarity as S

    spark = run.spark
    out = run.path("out", tag)
    delta = spark.read.parquet(os.path.join(data, f"delta_docs_{day}.parquet")).select("doc_id", "text")
    vdelta = spark.read.parquet(os.path.join(data, f"delta_vecs_{day}.parquet")).select("vec_id", "embedding")
    dec_path = os.path.join(out, f"decisions_{day}")
    vdec_path = os.path.join(out, f"vec_top1_{day}")
    ext = os.path.join(out, f"ext_{day}")
    vext = os.path.join(out, f"vext_{day}")
    with tracer.span("ingest.admission", day=day):
        decisions = I.ingest_admission_batch(spark, idx["containment"], idx["hash"], idx["band"], delta)
        decisions.write.mode("overwrite").parquet(dec_path)
    with tracer.span("ingest.merge", day=day):
        admitted = spark.read.parquet(dec_path).filter("admitted").select("doc_id")
        report = I.merge_admitted_into_indexes(spark, idx["hash"], idx["band"], delta, admitted, ext).collect()
        append_extension(os.path.join(ext, "bh"), os.path.join(idx["hash"], "bh"))
        for sub in ("bands", "sizes", "toks_arr"):
            append_extension(os.path.join(ext, sub), os.path.join(idx["band"], sub))
    ivf_bytes = _dir_bytes(os.path.join(idx["ivf"], "vecs"))
    with tracer.span("similarity.ann_probe", day=day) as s_probe:
        S.ann_vs_base_batch(spark, idx["ivf"], vdelta, k=1).write.mode("overwrite").parquet(vdec_path)
    with tracer.span("similarity.ivf_merge", day=day):
        vadm = (
            spark.read.parquet(vdec_path)
            .filter(F.col("cosine") < DUP_COSINE)
            .select(F.col("query_id").alias("vec_id"))
        )
        vreport = S.merge_admitted_into_ivf(spark, idx["ivf"], vdelta, vadm, vext).collect()
        append_extension(os.path.join(vext, "vecs"), os.path.join(idx["ivf"], "vecs"))
    shutil.rmtree(ext, ignore_errors=True)
    shutil.rmtree(vext, ignore_errors=True)
    return {
        "report": [r.asDict() for r in report],
        "vreport": [r.asDict() for r in vreport],
        "ivf_bytes": ivf_bytes,
        "probe_span": s_probe["id"] if s_probe else None,
    }


# --- checks ---------------------------------------------------------------------


def check_days(spark, data: str, out: str, days: list[dict]) -> tuple[list[str], int, int, dict]:
    """Planted exact copies are flagged ``is_exact``; copies of the previous
    day's admitted docs and vectors are rejected through the appended index
    rows; each merge report's ``rows_appended`` matches that day's admitted
    count.  Every delta doc, delta vector and merge is one op; returns the
    problems, the ops attempted and failed, and the funnel's useful-work
    ratios."""
    import pyarrow.parquet as pq

    problems = []
    attempted = failed = 0
    prev_adm: set[int] = set()
    prev_vadm: set[int] = set()
    n_docs = n_gate3 = n_adm = 0

    def fail(msg: str) -> None:
        nonlocal failed
        failed += 1
        problems.append(msg)

    for day, res in enumerate(days):
        arms = dict(
            zip(*pq.read_table(os.path.join(data, f"delta_docs_{day}.parquet"), columns=["doc_id", "arm"]).to_pydict().values())
        )
        dec = {r["doc_id"]: r for r in spark.read.parquet(os.path.join(out, f"decisions_{day}")).collect()}
        if set(dec) - set(arms):
            problems.append(f"day {day}: {len(set(dec) - set(arms))} decisions for docs not in the delta")
        adm = {d for d, r in dec.items() if r["admitted"]}
        attempted += len(arms) + 2
        for d, arm in arms.items():
            r = dec.get(d)
            if r is None:
                fail(f"day {day}: no decision for delta doc {d}")
            elif arm == "exact" and not r["is_exact"]:
                fail(f"day {day}: planted exact copy {d} not flagged is_exact")
            elif arm == "carry" and gen.carry_source(d) in prev_adm and (not r["is_exact"] or r["admitted"]):
                fail(f"day {day}: copy {d} of yesterday's admitted doc not rejected as exact")
        sizes = [r for r in res["report"] if r["index_table"] == "sizes"]
        if not sizes or sizes[0]["rows_appended"] != len(adm):
            fail(f"day {day}: sizes rows_appended {sizes and sizes[0]['rows_appended']} != admitted {len(adm)}")
        n_docs += len(dec)
        n_adm += len(adm)
        n_gate3 += sum(1 for r in dec.values() if not r["is_exact"] and not r["is_contained"])
        prev_adm = adm

        varms = dict(
            zip(*pq.read_table(os.path.join(data, f"delta_vecs_{day}.parquet"), columns=["vec_id", "arm"]).to_pydict().values())
        )
        top1 = {r["query_id"]: r["cosine"] for r in spark.read.parquet(os.path.join(out, f"vec_top1_{day}")).collect()}
        vadm = {q for q, c in top1.items() if c < DUP_COSINE}
        attempted += len(varms)
        for v, arm in varms.items():
            c = top1.get(v)
            if c is None:
                fail(f"day {day}: vector {v} has no top-1 neighbour")
            elif arm == "copy" and c < DUP_COSINE:
                fail(f"day {day}: planted vector copy {v} admitted (cosine {c})")
            elif arm == "carry" and gen.carry_source(v) in prev_vadm and c < DUP_COSINE:
                fail(f"day {day}: copy {v} of yesterday's admitted vector admitted")
        appended = sum(r["rows_appended"] for r in res["vreport"])
        if appended != len(vadm):
            fail(f"day {day}: IVF rows_appended {appended} != admitted {len(vadm)}")
        prev_vadm = vadm
    ratios = {
        "ingest.gate3_share": n_gate3 / n_docs if n_docs else 0.0,
        "ingest.admitted_share": n_adm / n_docs if n_docs else 0.0,
    }
    return problems, attempted, failed, ratios


def run_workload(run, tracer, progress) -> dict:
    import pyarrow.parquet as pq

    from spark_kafka_realm_time_data_pipeline_spark.operators import ingest as I

    spark = run.spark
    data = run.path("data", "curation")
    gen_s = []
    for _ in range(SETUP_REPS):
        with Timer() as t:
            gen.write_curation(run.seed, data, N_DAYS_MAX)
        gen_s.append(t.s)
    # staging runs the shingle, MinHash and parquet machinery the days use,
    # and is the only warm-up: a warm-up day costs as much as a measured
    # one, more than the run's time allows
    with tracer.span("curation.stage"), Timer() as t_stage:
        idx = stage_indexes(spark, data, run.path("scratch", "idx"))
    setup_extra = median(gen_s) + t_stage.s

    undo = [
        tracer.wrap(I, "containment_vs_base_batch", "dedup.containment_probe"),
        tracer.wrap(I, "incremental_near_dup_batch", "dedup.near_dup_probe"),
        tracer.wrap(I, "quality_logit_score", "text.quality_score"),
    ]
    pinned0 = tracer.persistent_rdds() if tracer.enabled else 0
    days, day_s = [], []
    t_meas0 = time.time()
    with tracer.span("measure"):
        while len(days) < N_DAYS_MAX and (len(day_s) < MIN_DAYS or time.time() - t_meas0 < run.seconds):
            d = len(days)
            with tracer.span("curation.day", day=d), Timer() as t:
                days.append(run_day(run, tracer, idx, data, d, "days"))
            day_s.append(t.s)
    t_meas1 = time.time()
    pinned1 = tracer.persistent_rdds() if tracer.enabled else 0
    for u in undo:
        u()

    problems, attempted, failed, ratios = check_days(spark, data, run.path("out", "days"), days)
    docs = sum(
        pq.ParquetFile(os.path.join(data, f"delta_docs_{d}.parquet")).metadata.num_rows
        for d in range(len(days))
    )
    detail = {
        "days": len(day_s),
        "day_s": day_s,
        "ingest_day_p50_s": median(day_s),
        "ingest_docs_per_s": docs / sum(day_s),
        "delta_docs": docs,
        "stage_s": t_stage.s,
    }
    e2e = {
        "p50_ms": (median(day_s) * 1000.0, "ms"),
        "tail_ms": (quantile(day_s, 0.9) * 1000.0, "ms"),
        "rate_per_s": (docs / sum(day_s), "1/s"),
    }
    layers = {}
    if tracer.enabled:
        by_span = tracer.attribute()

        def per_day(name: str) -> list[dict]:
            return [tracer.span_metrics([sid], by_span) for sid in tracer.named(name)]

        def med(rows: list[dict], key: str) -> float:
            return median([r.get(key, 0) for r in rows]) if rows else 0.0

        adm, mrg = per_day("ingest.admission"), per_day("ingest.merge")
        cprobe, nprobe = per_day("dedup.containment_probe"), per_day("dedup.near_dup_probe")
        aprobe, vmerge = per_day("similarity.ann_probe"), per_day("similarity.ivf_merge")
        scan = [
            tracer.span_metrics([d["probe_span"]], by_span)["input_bytes"] / d["ivf_bytes"]
            for d in days
            if d["probe_span"] is not None and d["ivf_bytes"]
        ]
        def stage_exec_s(*names: str) -> float:
            """Executor run time of the named indexes' staging jobs: their
            own cost, though the four were staged concurrently."""
            groups = {STAGE_GROUP + n for n in names}
            own = [j for j in tracer.jobs.values() if j.get("jobGroup") in groups]
            return tracer.job_metrics(own)["exec_run_s"]

        layers.update(
            {
                "dedup.stage_s": stage_exec_s("hash", "band", "containment"),
                "similarity.stage_s": stage_exec_s("ivf"),
                "ingest.admission_s": med(adm, "wall_s"),
                "ingest.admission_jobs": med(adm, "jobs"),
                "ingest.admission_tasks": med(adm, "tasks"),
                "ingest.admission_driver_gap_s": med(adm, "driver_gap_s"),
                "ingest.merge_s": med(mrg, "wall_s"),
                "ingest.merge_jobs": med(mrg, "jobs"),
                "ingest.merge_tasks": med(mrg, "tasks"),
                "ingest.merge_driver_gap_s": med(mrg, "driver_gap_s"),
                **ratios,
                "dedup.containment_probe_s": med(cprobe, "wall_s"),
                "dedup.containment_probe_jobs": med(cprobe, "jobs"),
                "dedup.near_dup_probe_s": med(nprobe, "wall_s"),
                "dedup.near_dup_probe_jobs": med(nprobe, "jobs"),
                "text.quality_score_s": med(per_day("text.quality_score"), "wall_s"),
                "similarity.ann_probe_s": med(aprobe, "wall_s"),
                "similarity.ann_probe_jobs": med(aprobe, "jobs"),
                "similarity.ivf_merge_s": med(vmerge, "wall_s"),
                "similarity.ivf_merge_jobs": med(vmerge, "jobs"),
                "similarity.ann_scan_fraction": median(scan) if scan else 0.0,
            }
        )
        detail["jobs_per_day"] = {
            "admission": [r["jobs"] for r in adm],
            "merge": [r["jobs"] for r in mrg],
            "ann_probe": [r["jobs"] for r in aprobe],
            "ivf_merge": [r["jobs"] for r in vmerge],
        }
        detail["tasks_per_day"] = {"admission": [r["tasks"] for r in adm], "merge": [r["tasks"] for r in mrg]}
    return {
        "setup_extra_s": setup_extra,
        "window": (t_meas0, t_meas1),
        "pinned": (pinned0, pinned1),
        "problems": problems,
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "layers": layers,
        "detail": detail,
    }
