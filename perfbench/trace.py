"""Spans, Spark job attribution and streaming progress for the traced run.

Spans are recorded from the benchmark's side only, around its calls into
the engine's public functions; nothing inside the engine changes.  After
each span closes, the driver's status store (``AppStatusStore``, readable
with ``spark.ui.enabled=false``) is read back, because it keeps only the
last 1,000 jobs and stages.  At the end, each job is attributed to the
innermost span open at its submission time: the benchmark is a single
client, so this also catches jobs submitted from helper threads (the merge's
thread pool, streaming micro-batches) that a job group would miss.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, spark, enabled: bool, **attrs):
        self.spark = spark
        self.enabled = enabled
        self.attrs = attrs
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict[int, dict]] = {}
        self.overhead_s = 0.0
        if enabled and spark is not None:
            t0 = time.perf_counter()
            jvm = spark.sparkContext._jvm
            self._store = spark.sparkContext._jsc.sc().statusStore()
            self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
            self._mapper.registerModule(scala.__getattr__("MODULE$"))
            self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
            self.harvest()
            self.overhead_s += time.perf_counter() - t0

    # --- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else {}
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent.get("id"),
            "depth": len(self._stack),
            **self.attrs,
            # a span inside a day or a query belongs to it too
            **{k: parent[k] for k in ("day", "query") if k in parent},
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        self.overhead_s += time.perf_counter() - t0
        s["start"] = time.time()
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            t1 = time.perf_counter()
            self.harvest()
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, module, fn_name: str, span_name: str):
        """Replace ``module.fn_name`` with a spanned twin (traced runs only);
        returns an undo callable."""
        orig = getattr(module, fn_name)
        if not self.enabled:
            return lambda: None

        @functools.wraps(orig)
        def spanned(*a, **kw):
            with self.span(span_name):
                return orig(*a, **kw)

        setattr(module, fn_name, spanned)
        return lambda: setattr(module, fn_name, orig)

    # --- status store ----------------------------------------------------------

    def _json(self, jobj):
        return json.loads(self._mapper.writeValueAsString(jobj))

    def harvest(self) -> None:
        """Copy every job and stage the status store still retains."""
        if not self.enabled or self.spark is None:
            return
        for j in self._json(self._store.jobsList(None)):
            self.jobs[j["jobId"]] = j
        for st in self._json(self._store.stageList(None, False, False, self._no_quantiles, None)):
            self.stages.setdefault(st["stageId"], {})[st["attemptId"]] = st

    def persistent_rdds(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    # --- attribution -------------------------------------------------------------

    def attribute(self) -> dict[int, list[dict]]:
        """Jobs of each span's own (innermost) interval, by span id; jobs
        submitted outside every span land under key -1."""
        by_span: dict[int, list[dict]] = {}
        closed = [s for s in self.spans if "end" in s]
        for j in self.jobs.values():
            t = (j.get("submissionTime") or 0) / 1000.0
            owner = -1
            depth = -1
            for s in closed:
                if s["start"] <= t <= s["end"] and s["depth"] > depth:
                    owner, depth = s["id"], s["depth"]
            by_span.setdefault(owner, []).append(j)
        return by_span

    def subtree(self, span_id: int) -> list[int]:
        out = [span_id]
        for s in self.spans:
            if s["parent"] in out:
                out.append(s["id"])
        return out

    def job_metrics(self, jobs: list[dict], window=None) -> dict:
        """Engine counters over a set of jobs: jobs, tasks, executor run and
        CPU time, shuffle write, spill, failed tasks, skipped stages, input
        bytes and (given the wall window) the driver gap: wall time during
        which none of the jobs ran."""
        out = dict.fromkeys(
            (
                "jobs",
                "tasks",
                "exec_run_s",
                "exec_cpu_s",
                "shuffle_write_bytes",
                "spill_bytes",
                "failed_tasks",
                "stages",
                "stages_skipped",
                "input_bytes",
            ),
            0,
        )
        out["jobs"] = len(jobs)
        for j in jobs:
            out["tasks"] += j["numCompletedTasks"] + j["numFailedTasks"] + j["numKilledTasks"]
            out["failed_tasks"] += j["numFailedTasks"]
            for sid in j["stageIds"]:
                attempts = list(self.stages.get(sid, {}).values())
                out["stages"] += 1
                if not attempts or all(a["status"] == "SKIPPED" for a in attempts):
                    out["stages_skipped"] += 1
                    continue
                for a in attempts:
                    out["exec_run_s"] += a["executorRunTime"] / 1000.0
                    out["exec_cpu_s"] += a["executorCpuTime"] / 1e9
                    out["shuffle_write_bytes"] += a["shuffleWriteBytes"]
                    out["spill_bytes"] += a["memoryBytesSpilled"] + a["diskBytesSpilled"]
                    out["input_bytes"] += a["inputBytes"]
        if window is not None:
            w0, w1 = window
            busy = _union(
                [
                    (
                        max(w0, j["submissionTime"] / 1000.0),
                        min(w1, (j.get("completionTime") or j["submissionTime"]) / 1000.0),
                    )
                    for j in jobs
                    if j.get("submissionTime")
                ]
            )
            out["driver_gap_s"] = max(0.0, (w1 - w0) - busy)
        return out

    def span_metrics(self, span_ids: list[int], by_span=None) -> dict:
        """job_metrics over the union of the given spans' subtrees, with the
        driver gap summed span by span over their own windows."""
        by_span = self.attribute() if by_span is None else by_span
        total = None
        for sid in span_ids:
            s = self.spans[sid]
            jobs = [j for x in self.subtree(sid) for j in by_span.get(x, [])]
            m = self.job_metrics(jobs, window=(s["start"], s["end"]))
            m["wall_s"] = s["end"] - s["start"]
            total = m if total is None else {k: total[k] + m[k] for k in m}
        return total or {}

    def named(self, name: str) -> list[int]:
        return [s["id"] for s in self.spans if s["name"] == name and "end" in s]

    def check_nesting(self) -> list[str]:
        """Problems with the span tree: a child outside its parent, or a
        negative self time."""
        problems = []
        for s in self.spans:
            if "end" not in s:
                problems.append(f"span {s['name']} never closed")
                continue
            if s["parent"] is not None:
                p = self.spans[s["parent"]]
                if s["start"] < p["start"] or s["end"] > p["end"]:
                    problems.append(f"span {s['name']} escapes {p['name']}")
            if self_time(self.spans, s["id"]) < 0:
                problems.append(f"span {s['name']} has negative self time")
        return problems

    def dump(self, path: str, by_span=None) -> None:
        by_span = self.attribute() if by_span is None else by_span
        rows = []
        for s in self.spans:
            if "end" not in s:
                continue
            own = self.job_metrics(by_span.get(s["id"], []))
            rows.append(
                {
                    **s,
                    "self_s": self_time(self.spans, s["id"]),
                    "own_jobs": own["jobs"],
                    "own_tasks": own["tasks"],
                }
            )
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def self_time(spans: list[dict], span_id: int) -> float:
    """A span's duration minus the part of it its children cover."""
    s = spans[span_id]
    kids = [(c["start"], c["end"]) for c in spans if c["parent"] == span_id and "end" in c]
    covered = _union([(max(a, s["start"]), min(b, s["end"])) for a, b in kids])
    return (s["end"] - s["start"]) - covered


def _union(intervals) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class ProgressLog(StreamingQueryListener):
    """Every progress event of every streaming query, kept in memory
    (``query.recentProgress`` keeps only the last 100 by default)."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def for_query(self, query_id: str) -> list[dict]:
        return [e for e in self.events if e["id"] == query_id]

    def wait_for(self, query_id: str, batch_id: int, timeout_s: float = 10.0) -> None:
        """Listener events arrive on a bus thread; wait until batch_id's
        progress has been delivered."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if any(e["batchId"] >= batch_id for e in self.for_query(query_id)):
                return
            time.sleep(0.02)
