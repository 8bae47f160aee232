"""Per-STAGE sf1 scale proof for the r15/r16 JPEG decode queries.

The whole-query sf1 ratios (BENCH_sf1.json: dri 3.03, progressive 2.11,
progressive_color 3.13, sampling 2.36) bundle Spark job overhead with the
mapInPandas decode stage.  VERDICT r15 item 7 asks for the DECODER stage's
own ratio, closing the loop on the "Arrow-batched and amortized" claim: if
the pure decode work scales linearly, the whole-query ratios' sub-linear
remainder is fixed per-query overhead, not a hidden blow-up.

This measures exactly the per-batch pandas work the queries run
(``multimodal._feature_batch`` over each query's row function: encode +
decode round-trip per payload, identical code path to the mapInPandas
stage) over the REAL documents corpus at sf0.1 and at the 10x
gen_scale corpus, single-threaded — no Spark session, so the number is the
per-row codec cost itself.  Appends a "jpeg_decoder_stage" section to
BENCH_sf1.json.

Usage: python tools/jpeg_stage_profile.py [sf01_dir] [sf1_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# query -> (row function, schema) it passes to multimodal.extract_features
STAGES = {
    "multimodal_jpeg_dri": ("_jpeg_dri_row", "DRI_SCHEMA"),
    "multimodal_jpeg_progressive": ("_jpeg_progressive_row", "PROG_SCHEMA"),
    "multimodal_jpeg_progressive_color": (
        "_jpeg_progressive_color_row",
        "PROG_COLOR_SCHEMA",
    ),
    "multimodal_jpeg_sampling": ("_jpeg_sampling_row", "SAMPLING_SCHEMA"),
}


def main() -> None:
    import duckdb
    import pandas as pd

    from spark_kafka_realm_time_data_pipeline_spark.operators import multimodal as M

    sf01 = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sf1 = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, ".scale/sf1")
    out: dict = {"rows": {}, "secs": {}, "ratio": {}}
    frames = {}
    for tag, d in (("sf0.1", sf01), ("sf1", sf1)):
        pdf = duckdb.sql(
            f"SELECT doc_id, encode(text) AS payload FROM "
            f"'{d}/documents.parquet'"
        ).df()
        pdf["payload"] = pdf["payload"].map(bytes)
        frames[tag] = pdf
        out["rows"][tag] = len(pdf)
    for name, (row_name, schema_name) in STAGES.items():
        row_fn, schema = getattr(M, row_name), getattr(M, schema_name)
        secs = {}
        for tag, pdf in frames.items():
            t0 = time.time()
            M._feature_batch(pdf, schema, row_fn)
            secs[tag] = round(time.time() - t0, 3)
        out["secs"][name] = secs
        out["ratio"][name] = round(secs["sf1"] / secs["sf0.1"], 2)
        print(name, secs, "ratio", out["ratio"][name])
    path = os.path.join(ROOT, "BENCH_sf1.json")
    data = json.load(open(path))
    data["jpeg_decoder_stage"] = out
    with open(path, "w") as fh:
        json.dump(data, fh)
    print("appended jpeg_decoder_stage to BENCH_sf1.json")


if __name__ == "__main__":
    main()
