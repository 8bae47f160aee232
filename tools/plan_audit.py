"""Automated physical-plan anti-pattern audit over the whole registry.

The per-round VERDICT audits the most expensive bench lines by hand; this
tool makes the same audit exhaustive and repeatable: it builds every BATCH
registry query at a small SF, reads the physical plan, and flags the
shapes that do not survive a 100 TB cluster:

- ``CartesianProduct``      — an unconstrained cross product of two
                              non-broadcast sides (always a defect);
- ``BatchEvalPython``       — a row-at-a-time Python UDF in the plan (the
                              pickling slow path; only the documented
                              inventory-parity query may carry one);
- ``BroadcastNestedLoopJoin`` — legitimate ONLY against a provably tiny
                              broadcast side (k-row centroid/total frames);
                              every occurrence must be on the reviewed
                              allowlist below or it is a new non-equi join
                              that would OOM/loop at scale.

Exchange / scan / Python-eval node counts are recorded per query as
informational context (they vary with stats and AQE, so they are reported,
not asserted).

STREAMING CAPTURE (r19, VERDICT r18 item 4): streaming queries are no
longer skipped.  Their registry fn EXECUTES the stream and returns a
memory-sink scan — nothing batch-plan-shaped comes back — so audit_one
additionally wraps ``StreamingQuery.stop`` and records each stream's LAST
micro-batch executed plan (``explainInternal``) before the runner tears it
down; foreachBatch bodies' real work (probe joins, parquet writes) was
already visible through the localCheckpoint/writer captures.  The
registry-wide anti-pattern sweep therefore sees a cartesian or row-UDF
inside a micro-batch or a foreachBatch body, which previously shipped
unseen behind the ``skipped`` list (41 names in r18).

SERIAL-ONLY ASSUMPTION: all three captures are process-global
monkeypatches — concurrent Spark work in this process during an audit
would be mis-attributed to the query under audit.  The tool is built to
run alone (the round protocol runs it serially); do not embed audit_one
in concurrent harnesses.

BARRIER-STAGE CAPTURE (r18, VERDICT r17 item 4): a staged-probe query's
final frame is often a localCheckpoint barrier (a local relation), so the
intermediate jobs where its real joins/shuffles run used to escape this
sweep entirely — five queries audited as all-zero counts, and a future
cartesian/row-UDF inside a staged pipeline would have shipped unseen.
audit_one now wraps DataFrame.localCheckpoint during the build and records
each pre-barrier frame's executed plan: stage counts are summed into
``stage_counts``, and the FLAG nodes are checked across every stage plan,
not just the final one.  A query that hit a barrier on the first build is
built a second time, so one-time index staging (fingerprint-keyed, cached
on scratch) drops out and the captured stage plans are the steady
per-batch work a production trigger repeats.  The plan ``fingerprint``
stays final-plan-only (stage plans can legitimately vary with scratch
warmth).

Output: PLAN_AUDIT.json — {"queries": {name: {counts, flags,
fingerprint}}, "flagged": {flag: [names]}, "skipped": [names]}.
tests/test_plan_audit.py pins the flagged sets against the reviewed
allowlists so a re-run that surfaces a NEW cartesian/row-UDF/BNLJ fails
CI, while count drift does not.  The per-query ``fingerprint`` is a
normalized plan-shape hash kept for diffing two audits; no gate reads it
(the proof-freshness gate keys on code-closure fingerprints,
tools/closure_fp.py).

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_kafka_realm_time_data_pipeline_spark.queries import registry
from spark_kafka_realm_time_data_pipeline_spark.session import get_spark

# Nothing is skipped since r19 — streaming queries are audited through the
# StreamingQuery.stop capture.  Kept as an (empty) escape hatch for a
# future query whose execution model defeats every capture path; any name
# added here must carry a per-name justification comment.
EXECUTING_SKIP: set[str] = set()

FLAG_NODES = (
    "CartesianProduct",
    "BatchEvalPython",
    "BroadcastNestedLoopJoin",
)

COUNT_NODES = (
    "Exchange",
    "BroadcastExchange",
    "Scan parquet",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "BatchEvalPythonUDTF",
)


_FP_STRIP = [
    (r"#\d+[A-Za-z]*", "#"),          # expression ids (#123, #45L)
    # higher-order-function lambda variables carry a SESSION-monotonic
    # counter (lambda x_1, x_2, ...) — order-of-execution noise, not shape
    (r"\blambda x_\d+", "lambda x_"),
    # session-staged catalog tables (bucketed-join staging) carry a
    # per-session hex tag in the table name
    (r"\b(spark_catalog\.[A-Za-z_.]+?)_[0-9a-f]{6,}", r"\1_"),
    (r"plan_id=\d+", "plan_id="),
    (r"@[0-9a-fA-F]{6,}", "@"),        # object identity hashes
    (r"file:[^\],\s]+", "file:"),      # staged temp paths
    (r"/[^\s,\]]*testdata[^\s,\]]*", "<sf>"),  # corpus paths
    (r"/tmp/[^\s,\]]*", "<tmp>"),
    (r"\d+(\.\d+)?\s*(B|KiB|MiB|GiB|TiB)\b", "<sz>"),  # size stats
    (r"Statistics\([^)]*\)", "Statistics()"),
    (r"paths?=\[[^\]]*\]", "paths=[]"),
    (r", \d+ entries", ""),
]


def plan_fingerprint(plan: str) -> str:
    """Normalized hash of a physical plan string: expression ids, object
    hashes, file paths, and size statistics are stripped so the
    fingerprint tracks plan SHAPE — it flips on operator/strategy/config
    changes and stays put across corpus regenerations.  Complements the
    code-closure fingerprint (tools/closure_fp.py): closure catches
    Python-side churn that leaves the plan identical (the r15 jpeg
    incident); this catches session/config-driven plan changes that touch
    no query-reachable code."""
    import hashlib
    import re

    for pat, rep in _FP_STRIP:
        plan = re.sub(pat, rep, plan)
    return hashlib.sha256(plan.encode()).hexdigest()[:16]


def _plan_counts(plan: str) -> dict:
    counts = {n: plan.count(n) for n in COUNT_NODES}
    # "Exchange" substring-matches BroadcastExchange too; report shuffle
    # exchanges separately.
    counts["Exchange"] -= counts["BroadcastExchange"]
    return counts


def _plan_flags(plan: str, counts: dict) -> list[str]:
    flags = [n for n in FLAG_NODES if n in plan]
    # BatchEvalPythonUDTF is the standard (row-based) Python UDTF executor
    # node, a first-class inventory surface — not the row-at-a-time scalar
    # UDF slow path this flag exists to catch.  Only flag a plain
    # BatchEvalPython occurrence that is NOT a UDTF node.
    if "BatchEvalPython" in flags and plan.count("BatchEvalPython") == counts[
        "BatchEvalPythonUDTF"
    ]:
        flags.remove("BatchEvalPython")
    return flags


def audit_one(spark, name: str, fn, sf_dir: str) -> dict:
    # patch the CLASSIC DataFrame class — pyspark.sql.DataFrame is the
    # abstract parent in Spark 4 and instances resolve the method on the
    # classic subclass, so patching the parent intercepts nothing
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _DF
    except ImportError:  # pre-4.0 layout
        from pyspark.sql import DataFrame as _DF
    from pyspark.sql.readwriter import DataFrameWriter as _DFW
    from pyspark.sql.streaming.query import StreamingQuery as _SQ

    import spark_kafka_realm_time_data_pipeline_spark.queries.curation as _cur
    import spark_kafka_realm_time_data_pipeline_spark.queries.llm as _llm

    captured: list[str] = []
    staged_fresh: list[str] = []  # fingerprint-staged index BUILT this run
    orig_lcp = _DF.localCheckpoint
    orig_parquet = _DFW.parquet
    orig_stop = _SQ.stop
    orig_staged = _llm._staged_index

    def capturing_lcp(self, *args, **kwargs):
        captured.append(self._jdf.queryExecution().executedPlan().toString())
        return orig_lcp(self, *args, **kwargs)

    def capturing_parquet(self, *args, **kwargs):
        # write-path jobs are where merge/maintenance queries do their real
        # probe/assignment work — capture the written frame's plan too
        captured.append(
            self._df._jdf.queryExecution().executedPlan().toString()
        )
        return orig_parquet(self, *args, **kwargs)

    def capturing_stop(self, *args, **kwargs):
        # the LAST micro-batch's executed plan, read before the runner
        # tears the stream down — the only moment the registry contract
        # exposes a streaming query's physical plan
        try:
            captured.append(self._jsq.explainInternal(False))
        except Exception:  # noqa: BLE001 — a stream that never ran a batch
            pass
        return orig_stop(self, *args, **kwargs)

    def counting_staged(spark_, sf_dir_, src_table, prefix, subdir, build):
        def counting_build(path):
            staged_fresh.append(prefix)
            return build(path)

        return orig_staged(spark_, sf_dir_, src_table, prefix, subdir, counting_build)

    _DF.localCheckpoint = capturing_lcp
    _DFW.parquet = capturing_parquet
    _SQ.stop = capturing_stop
    _llm._staged_index = counting_staged
    try:
        ppl_before = len(_cur._PPL_MODEL_DIRS)
        df = fn(spark, sf_dir)
        if captured and (staged_fresh or len(_cur._PPL_MODEL_DIRS) > ppl_before):
            # one-time staging (fingerprint-keyed index / session ppl
            # model) polluted the captured plans — rebuild so the stage
            # plans are the steady per-batch work only.  When nothing
            # staged fresh (the warm case), the first run IS steady state
            # and the rebuild is skipped (ADVICE r18: the unconditional
            # rebuild doubled audit wall for the heaviest lines).
            captured.clear()
            df = fn(spark, sf_dir)
    finally:
        _DF.localCheckpoint = orig_lcp
        _DFW.parquet = orig_parquet
        _SQ.stop = orig_stop
        _llm._staged_index = orig_staged
    plan = df._jdf.queryExecution().executedPlan().toString()
    counts = _plan_counts(plan)
    flags = set(_plan_flags(plan, counts))
    row = {"counts": counts, "fingerprint": plan_fingerprint(plan)}
    if captured:
        stage_counts: dict[str, int] = {}
        for sp in captured:
            sc = _plan_counts(sp)
            flags.update(_plan_flags(sp, sc))
            for k, v in sc.items():
                stage_counts[k] = stage_counts.get(k, 0) + v
        row["stage_counts"] = stage_counts
        row["n_stage_plans"] = len(captured)
    row["flags"] = sorted(flags)
    return row


def source_hash(root: str) -> str:
    """Fingerprint of every .py under the package: a plan can only change
    if some source file changed, so tests/test_plan_audit.py asserting the
    artifact's hash equals the working tree's proves the committed audit
    was run against the CURRENT plans (an edit without a tool re-run fails
    CI instead of silently keeping the stale audit green)."""
    import hashlib

    pkg = os.path.join(root, "spark_kafka_realm_time_data_pipeline_spark")
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(pkg)):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark()
    reg = registry()
    out: dict = {"sf_dir": sf_dir, "queries": {}, "skipped": [], "errors": {}}
    t0 = time.time()
    for name, spec in reg.items():
        if only and name not in only:
            continue
        if name in EXECUTING_SKIP:
            out["skipped"].append(name)
            continue
        try:
            out["queries"][name] = audit_one(spark, name, spec.fn, sf_dir)
        except Exception:
            out["errors"][name] = traceback.format_exc(limit=3)
    flagged: dict[str, list[str]] = {n: [] for n in FLAG_NODES}
    for name, row in sorted(out["queries"].items()):
        for f in row["flags"]:
            flagged[f].append(name)
    out["flagged"] = flagged
    out["elapsed_s"] = round(time.time() - t0, 1)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out["source_hash"] = source_hash(root)
    path = os.path.join(root, "PLAN_AUDIT.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(f"{len(out['queries'])} audited, {len(out['skipped'])} skipped, "
          f"{len(out['errors'])} errors in {out['elapsed_s']}s")
    for f, names in flagged.items():
        print(f"{f}: {len(names)}" + (f" -> {names}" if names else ""))
    if out["errors"]:
        print("errors:", sorted(out["errors"]))


if __name__ == "__main__":
    main()
