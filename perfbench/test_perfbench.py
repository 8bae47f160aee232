"""The benchmark's own tests: no Spark session, a few seconds in all.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import glob
import json
import os
import re
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, harness  # noqa: E402
from perfbench.trace import Tracer, self_time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def _spec() -> dict:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _write_all(seed: int, out: str) -> list[str]:
    gen.write_corpus(seed, os.path.join(out, "corpus"))
    gen.write_curation(seed, os.path.join(out, "curation"), 3)
    import pyarrow.parquet as pq

    pq.write_table(gen.stedi_customer_table(seed, 200, 1_700_000_000_000_000), os.path.join(out, "customers.parquet"))
    pq.write_table(gen.stedi_backlog_table(seed, 200, 500, 1_700_000_000_000), os.path.join(out, "backlog.parquet"))
    return sorted(os.path.relpath(p, out) for p in glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    files = _write_all(7, str(a))
    assert files == _write_all(7, str(b))
    assert len(files) > 10
    for f in files:
        assert filecmp.cmp(a / f, b / f, shallow=False), f


def test_other_seed_gives_other_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    files = _write_all(7, str(a))
    _write_all(8, str(b))
    same = [f for f in files if filecmp.cmp(a / f, b / f, shallow=False)]
    # only the fixed dimension tables may repeat across seeds
    assert sorted(same) == ["corpus/nation.parquet", "corpus/region.parquet"]


def test_declared_names_are_well_formed_and_unique():
    spec = _spec()
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME_RE.fullmatch(n) and len(n) <= 64, n
    assert {"setup_s", "mem_retained_mb"} <= {m["name"] for m in spec["end_to_end"]}


def test_every_printed_metric_is_declared():
    """Every metric-name literal in the benchmark's sources is declared."""
    spec = _spec()
    declared = {m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]}
    layer = re.compile(
        r'"((?:session|gen|sources|codec|streaming|sinks|ingest|dedup|text|similarity|mix|spark|trace)\.[a-z0-9_]+)"'
    )
    found = set()
    for path in glob.glob(os.path.join(HERE, "*.py")):
        if path.endswith("test_perfbench.py"):
            continue
        with open(path) as f:
            src = f.read()
        found |= set(layer.findall(src))
        found |= set(re.findall(r'"(p50_ms|tail_ms|rate_per_s|setup_s|mem_retained_mb)":', src))
    # span names share the dotted style; only metric names must be declared
    spans = {"ingest.admission", "ingest.merge", "similarity.ann_probe", "similarity.ivf_merge",
             "dedup.containment_probe", "dedup.near_dup_probe", "text.quality_score",
             "mix.pass", "mix.query", "curation.day", "stedi.drain"}
    missing = sorted(found - declared - spans)
    assert not missing, missing
    for n in found:
        assert NAME_RE.fullmatch(n), n


def test_tail_line_parses_and_stays_small():
    spec = _spec()
    metrics = {m["name"]: (123456.789012345678, m["unit"]) for m in spec["end_to_end"]}
    line = harness.result_line(True, 10**9, 0, metrics)
    assert len(line.encode()) < harness.TAIL_MAX_BYTES
    got = json.loads(line)
    assert set(got) == {"correct", "attempted", "failed", "metrics"}
    assert set(got["metrics"]) == set(metrics)
    # the traced line carries every per-layer metric; it must still parse
    layers = {m["name"]: (1.5, m["unit"]) for m in spec["per_layer"]}
    assert set(json.loads(harness.result_line(True, 1, 0, layers))["metrics"]) == set(layers)


def test_spans_nest_and_self_times_are_non_negative():
    tr = Tracer(None, True, workload="t")
    with tr.span("measure"):
        with tr.span("day", day=0):
            with tr.span("step"):
                pass
            with tr.span("step"):
                pass
        with tr.span("day", day=1):
            pass
    assert tr.check_nesting() == []
    for s in tr.spans:
        assert s["workload"] == "t"
        assert self_time(tr.spans, s["id"]) >= 0
        if s["parent"] is not None:
            p = tr.spans[s["parent"]]
            assert p["start"] <= s["start"] <= s["end"] <= p["end"]
    assert [s["depth"] for s in tr.spans] == [0, 1, 2, 2, 1]
    assert [s.get("day") for s in tr.spans] == [None, 0, 0, 0, 1]


def test_jobs_go_to_the_innermost_open_span():
    tr = Tracer(None, True)
    tr.spans = [
        {"id": 0, "name": "measure", "parent": None, "depth": 0, "start": 10.0, "end": 20.0},
        {"id": 1, "name": "ingest.merge", "parent": 0, "depth": 1, "start": 11.0, "end": 15.0},
    ]

    def job(i, t0, t1):
        return {"jobId": i, "submissionTime": t0 * 1000, "completionTime": t1 * 1000, "stageIds": [],
                "numCompletedTasks": 2, "numFailedTasks": 0, "numKilledTasks": 0}

    tr.jobs = {0: job(0, 12, 13), 1: job(1, 16, 17), 2: job(2, 25, 26)}
    by = tr.attribute()
    assert [j["jobId"] for j in by[1]] == [0]
    assert [j["jobId"] for j in by[0]] == [1]
    assert [j["jobId"] for j in by[-1]] == [2]
    m = tr.span_metrics([0], by)
    assert m["jobs"] == 2 and m["tasks"] == 4
    assert m["driver_gap_s"] == pytest.approx(10.0 - 2.0)


def test_quantile_matches_statistics():
    vals = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0]
    q4 = statistics.quantiles(vals, n=4)
    assert harness.quantile(vals, 0.25) == pytest.approx(q4[0])
    assert harness.quantile(vals, 0.5) == pytest.approx(statistics.median(vals))
    assert harness.quantile(vals, 0.75) == pytest.approx(q4[2])
    assert harness.quantile([4.0], 0.99) == 4.0


def test_curation_arms_and_carry_sources():
    base, vecs, days = gen.curation_inputs(3, 3)
    assert base.num_rows == gen.CUR_BASE_DOCS and vecs.num_rows == gen.CUR_BASE_VECS
    d0, d1 = days[0][0].to_pydict(), days[1][0].to_pydict()
    assert "carry" not in d0["arm"]
    fresh0 = dict(zip(d0["doc_id"], d0["text"]))
    for i, arm, text in zip(d1["doc_id"], d1["arm"], d1["text"]):
        if arm == "carry":
            assert fresh0[gen.carry_source(i)] == text
    ids = [i for d, _v in days for i in d.column("doc_id").to_pylist()]
    assert len(ids) == len(set(ids))


def test_stedi_events_match_registry_keys():
    a, b = gen.stedi_affine(5)
    assert gen.stedi_key(5, 3) == (a * 3 + b) % gen.STEDI_P
    assert len({gen.stedi_key(5, i) for i in range(1000)}) == 1000
    registry = {gen.stedi_email(gen.stedi_key(5, i)) for i in range(50)}
    assert set(gen.stedi_event_emails(5, 50, 500, "t")) <= registry
    line = json.loads(gen.stedi_event_line("x@test.com", 1_700_000_000_123, 4321))
    assert line["score"] // 1000 == 1_700_000_000_123
    assert line["riskDate"] == "2023-11-14T22:13:20.123Z"


def test_stedi_window_counts_follow_the_scored_due_times():
    """The events a latency window expects are exactly those whose scored
    (whole-ms) due time falls inside it, at any window edge."""
    from perfbench.stedi import EventServer

    srv = EventServer(5, "t", 200)
    try:
        srv.t0 = 1_700_000_000.1234
        for w0, w1 in ((srv.t0 + 1.0003, srv.t0 + 7.0001), (srv.t0 + 0.25, srv.t0 + 6.5)):
            want = sum(
                1 for j in range(len(srv.emails)) if w0 * 1000.0 <= srv.due_ms(j) < w1 * 1000.0
            )
            assert srv.scored_before(w1) - srv.scored_before(w0) == want
    finally:
        srv.close()
