"""``stedi_stream``: the paper's pipeline, open loop.

All customers are registered up front as a backlog of Redis-CDC envelope
rows (as ``dump.rdb`` seeds the ``Customer`` set).  Risk events then arrive
at a low and a high offered rate from ``EventServer``, a localhost socket
that writes seeded stedi-events lines on a fixed schedule whatever Spark is
doing; Spark's ``socket`` source takes in whatever has arrived at each
trigger.  Each event carries its due time in ``score``, which the join
passes through; its latency is sink completion minus due time.  The program
path is ``streaming.pipeline.assemble_stedi_stream`` ->
``streaming.sinks.foreach_batch_sink(..., available_now=False)``.  A last
phase drains a fixed pre-written event backlog to give the capacity figure.
"""

from __future__ import annotations

import bisect
import json
import os
import socket
import threading
import time

from . import gen
from .harness import Timer, median, quantile

# The registry size is the reference's demo scale, ~30-150 customers
# (BASELINE.md, "Data scale": the ``Customer`` set of ``dump.rdb``).
N_CUSTOMERS = 150
# The low rate keeps micro-batches at the reference's steady-state size of
# 1-5 rows (BASELINE.md, "Observed micro-batch sizes"): with the ~0.8 s
# triggers this phase measures on 4 cores, a batch holds about 4 events
# (``low_rows_per_batch_p50`` and ``low_trigger_ms_p50`` in the info line).
RATE_LOW = 5
# The high rate is the one the pipeline was prototyped at: p50 ~1.2 s and
# triggers of ~0.7 s on 4 cores with customers preloaded.
RATE_HIGH = 2_000
# Each backlog file is 6 s of the high rate, drained one file per batch:
# about eight times the ~1,400 events a high-rate batch takes in (~0.7 s
# triggers), so the drain measures throughput, not per-batch fixed cost.
# The first batch also loads the registry, so four files leave three
# batches for the capacity median.
DRAIN_FILES = 4
DRAIN_EVENTS_PER_FILE = RATE_HIGH * 6
PHASE_TIMEOUT_S = 40.0
TICK_S = 0.01  # the generator's send interval
MAX_PHASE_S = 60  # longest schedule a phase may need
SETUP_REPS = 3


def _kafka_schema():
    from pyspark.sql.types import BinaryType, StructField, StructType, TimestampType

    return StructType(
        [
            StructField("key", BinaryType()),
            StructField("value", BinaryType()),
            StructField("timestamp", TimestampType()),
        ]
    )


def write_inputs(seed: int, out: str) -> None:
    """The customer registry and the drain backlog, as parquet files of
    Kafka-shaped rows."""
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    now_ms = int(time.time() * 1000)
    cust = gen.stedi_customer_table(seed, N_CUSTOMERS, now_ms * 1000)
    os.makedirs(os.path.join(out, "customers"), exist_ok=True)
    pq.write_table(cust, os.path.join(out, "customers", "part-0.parquet"))
    d = os.path.join(out, "backlog")
    os.makedirs(d, exist_ok=True)
    table = gen.stedi_backlog_table(seed, N_CUSTOMERS, DRAIN_FILES * DRAIN_EVENTS_PER_FILE, now_ms)
    for f in range(DRAIN_FILES):
        pq.write_table(
            table.slice(f * DRAIN_EVENTS_PER_FILE, DRAIN_EVENTS_PER_FILE),
            os.path.join(d, f"part-{f:03d}.parquet"),
        )


class EventServer:
    """Open-loop event generator: a localhost TCP server that, once Spark's
    socket source connects, writes the events due by each tick (event j is
    due ``j / rate`` seconds after the connection) and records how late
    each tick was sent."""

    def __init__(self, seed: int, name: str, rate: int):
        self.rate = rate
        self.emails = gen.stedi_event_emails(seed, N_CUSTOMERS, rate * MAX_PHASE_S, f"stedi_{name}")
        self.srv = socket.create_server(("127.0.0.1", 0))
        self.port = self.srv.getsockname()[1]
        self.t0 = None
        self.sent = 0
        self.late_ms: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    def due_by(self, t: float) -> int:
        """Events due before wall time ``t``."""
        return max(0, min(len(self.emails), int((t - self.t0) * self.rate)))

    def due_ms(self, j: int) -> int:
        """Event j's due time in whole ms, as its ``score`` carries it."""
        return int(self.t0 * 1000.0 + j * 1000.0 / self.rate)

    def scored_before(self, t: float) -> int:
        """Events whose scored due time is before wall time ``t``: the
        count the latency windows use, which whole-ms rounding can make
        differ from ``due_by`` at a window's edge."""
        return bisect.bisect_left(range(len(self.emails)), t * 1000.0, key=self.due_ms)

    def _serve(self) -> None:
        try:
            conn, _ = self.srv.accept()
        except OSError:  # closed before Spark connected
            return
        with conn:
            self.t0 = time.time()
            tick = 1
            while not self._stop.is_set():
                due = self.t0 + tick * TICK_S
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                n = self.due_by(due)
                if n >= len(self.emails):
                    break
                lines = "".join(
                    gen.stedi_event_line(self.emails[j], self.due_ms(j), j) + "\n"
                    for j in range(self.sent, n)
                )
                try:
                    conn.sendall(lines.encode())
                except OSError:
                    break
                self.late_ms.append((time.time() - due) * 1000.0)
                self.sent = n
                tick += 1

    def close(self) -> None:
        self._stop.set()
        try:  # wakes an accept() still waiting for Spark to connect
            self.srv.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.srv.close()
        self._thread.join(timeout=10)


class Phase:
    """One streaming query of the pipeline with a timing foreachBatch sink."""

    def __init__(self, run, name: str, progress):
        self.run, self.name, self.progress = run, name, progress
        self.values: dict[int, list[str]] = {}
        self.emitted = 0
        self.emit: dict[int, float] = {}
        self.fn_ms: list[float] = []

    def sink(self, df, batch_id: int) -> None:
        """The risk-score topic's stand-in: each batch's serialized
        (key, value) rows land in driver memory, read back after the phase."""
        t0 = time.time()
        self.values[batch_id] = [r[0] for r in df.select("value").collect()]
        self.emitted += len(self.values[batch_id])
        t1 = time.time()
        self.emit[batch_id] = t1
        self.fn_ms.append((t1 - t0) * 1000.0)

    def start(self, events_raw, available_now: bool):
        from spark_kafka_realm_time_data_pipeline_spark.streaming.pipeline import assemble_stedi_stream
        from spark_kafka_realm_time_data_pipeline_spark.streaming.sinks import foreach_batch_sink

        spark = self.run.spark
        customers_raw = (
            spark.readStream.schema(_kafka_schema())
            .parquet(self.run.path("data", "stedi", "customers"))
        )
        out = assemble_stedi_stream(spark, customers_raw, events_raw)
        self.t_start = time.time()
        self.query = foreach_batch_sink(out, self.sink, available_now=available_now)
        return self.query

    def batches(self) -> list[dict]:
        return sorted(self.progress.for_query(self.query.id), key=lambda e: e["batchId"])

    def output(self) -> list[dict]:
        """Every emitted event as {b, score, customer, email, birthYear}."""
        return [
            {"b": b, **json.loads(v)} for b, vals in sorted(self.values.items()) for v in vals
        ]


def _socket_source(progress_batch: dict) -> dict | None:
    for s in progress_batch.get("sources", []):
        if "socket" in s["description"].lower():
            return s
    return None


def rate_phase(run, progress, name: str, rate: int, window_s: float, tracer):
    """Run the pipeline on ``rate`` events/s; measure the events due in a
    window of ``window_s`` seconds that opens when the second batch (which
    takes in what queued while the first loaded the registry) has been
    emitted.  Returns the phase, the window, the generator and the events
    due by the window's end that the stream had not yet emitted then."""
    spark = run.spark
    srv = EventServer(run.seed, name, rate)
    events_raw = (
        spark.readStream.format("socket")
        .option("host", "127.0.0.1")
        .option("port", srv.port)
        .option("includeTimestamp", True)
        .load()
        .selectExpr("cast(null as binary) as key", "cast(value as binary) as value", "timestamp")
    )
    ph = Phase(run, name, progress)
    try:
        with tracer.span(f"stedi.phase_{name}", rate=rate):
            q = ph.start(events_raw, available_now=False)
            deadline = ph.t_start + PHASE_TIMEOUT_S
            while 1 not in ph.emit and q.exception() is None and time.time() < deadline:
                time.sleep(0.02)
            if 1 not in ph.emit:
                raise RuntimeError(f"{name} phase: no second batch within {PHASE_TIMEOUT_S}s: {q.exception()}")
            w0 = ph.emit[1]
            w1 = w0 + window_s
            need = srv.scored_before(w1)
            backlog_end = None
            deadline = w1 + PHASE_TIMEOUT_S
            # events arrive in order, so once as many have been emitted as
            # were due by w1, every event of the window has been emitted;
            # the last batch's progress must be in before the query stops
            while q.exception() is None and time.time() < deadline:
                if backlog_end is None and time.time() >= w1:
                    backlog_end = need - ph.emitted
                if ph.emitted >= need and ph.batches() and ph.batches()[-1]["batchId"] >= max(ph.emit):
                    break
                time.sleep(0.02)
            exc = q.exception()
            q.stop()
    finally:
        srv.close()
    if exc is not None:
        raise RuntimeError(f"{name} phase failed: {exc}")
    progress.wait_for(q.id, max(ph.emit))
    return ph, (w0, w1), srv, max(0, backlog_end or 0)


def drain_phase(run, progress, tracer):
    """Drain the pre-written backlog, one file per micro-batch (the first
    batch also carries the whole customer registry)."""
    spark = run.spark
    events_raw = (
        spark.readStream.schema(_kafka_schema())
        .option("maxFilesPerTrigger", 1)
        .parquet(run.path("data", "stedi", "backlog"))
    )
    ph = Phase(run, "drain", progress)
    with tracer.span("stedi.drain"):
        q = ph.start(events_raw, available_now=True)
        q.awaitTermination(PHASE_TIMEOUT_S * 3)
        exc = q.exception()
        q.stop()
    if exc is not None:
        raise RuntimeError(f"drain phase failed: {exc}")
    progress.wait_for(q.id, max(ph.emit))
    return ph


def decode_rate(run) -> float:
    """The codec decode chain over the generated wire backlog, as a batch:
    rows decoded per second."""
    from spark_kafka_realm_time_data_pipeline_spark.functions import codec

    spark = run.spark
    cust = spark.read.parquet(run.path("data", "stedi", "customers"))
    ev = spark.read.parquet(run.path("data", "stedi", "backlog"))
    n = N_CUSTOMERS + DRAIN_FILES * DRAIN_EVENTS_PER_FILE
    times = []
    for _ in range(3):
        with Timer() as t:
            codec.customer_birth_year(
                codec.decode_redis_envelope(cust.selectExpr("cast(value as string) as value"))
            ).write.format("noop").mode("overwrite").save()
            codec.parse_stedi_events(
                ev.selectExpr("cast(value as string) as value")
            ).write.format("noop").mode("overwrite").save()
        times.append(t.s)
    return n / median(times)


# --- checks -----------------------------------------------------------------------


def check_phase(ph, rows, rate: int | None) -> list[str]:
    """Every event joined exactly once, with the right birthYear under the
    BIRTHDAY_SQL law, and per batch as many outputs as events taken in."""
    problems = []
    scores = [r["score"] for r in rows]
    if len(set(scores)) != len(scores):
        problems.append(f"{ph.name}: {len(scores) - len(set(scores))} events joined more than once")
    for r in rows:
        if r["customer"] != r["email"]:
            problems.append(f"{ph.name}: customer {r['customer']} joined to {r['email']}")
            break
        k = int(r["email"][4:].split("@")[0])
        if r["birthYear"] != gen.stedi_birth_year(k):
            problems.append(f"{ph.name}: wrong birthYear {r['birthYear']} for key {k}")
            break
    out_by_batch: dict[int, int] = {}
    for r in rows:
        out_by_batch[r["b"]] = out_by_batch.get(r["b"], 0) + 1
    for b in ph.batches():
        if b["batchId"] not in ph.emit:
            continue
        if rate is not None:
            src = _socket_source(b)
            want = src["numInputRows"] if src else 0
        else:
            want = sum(s["numInputRows"] for s in b["sources"]) - (N_CUSTOMERS if b["batchId"] == 0 else 0)
        got = out_by_batch.get(b["batchId"], 0)
        if got != want:
            problems.append(f"{ph.name}: batch {b['batchId']} took {want} events, emitted {got}")
    return problems


def phase_latencies(ph, rows, window) -> list[float]:
    """Latency (ms) of each emitted event due inside the window."""
    w0, w1 = (w * 1000.0 for w in window)
    lat = []
    for r in rows:
        due_ms = r["score"] // 1000
        if w0 <= due_ms < w1:
            lat.append(ph.emit[r["b"]] * 1000.0 - due_ms)
    return lat


def run_workload(run, tracer, progress) -> dict:
    data = run.path("data", "stedi")
    gen_s = []
    for _ in range(SETUP_REPS):
        with Timer() as t:
            write_inputs(run.seed, data)
        gen_s.append(t.s)

    pinned0 = tracer.persistent_rdds() if tracer.enabled else 0
    # the high rate feeds the end-to-end metrics and gets the run's seconds;
    # the low rate's figures are reported beside them from half of that
    high_s = float(run.seconds)
    low_s = run.seconds / 2.0
    t_meas0 = time.time()
    walls = {}
    # the low phase is the first query of the session: its time to first
    # emission (registry load on a cold JVM) is the workload's warm-up
    with tracer.span("measure"):
        with Timer() as t:
            low, low_w, low_gen, _ = rate_phase(run, progress, "low", RATE_LOW, low_s, tracer)
        walls["low"] = t.s
        warm_s = low.emit[0] - low.t_start
        with Timer() as t:
            high, high_w, high_gen, backlog_end = rate_phase(run, progress, "high", RATE_HIGH, high_s, tracer)
        walls["high"] = t.s
        with Timer() as t:
            drain = drain_phase(run, progress, tracer)
        walls["drain"] = t.s
    t_meas1 = time.time()
    pinned1 = tracer.persistent_rdds() if tracer.enabled else 0
    setup_extra = median(gen_s) + warm_s

    # --- checks and figures, outside the timed windows ---
    problems = []
    lat = {}
    attempted = failed = 0
    for ph, rate, w, srv in ((low, RATE_LOW, low_w, low_gen), (high, RATE_HIGH, high_w, high_gen)):
        rows = ph.output()
        problems += check_phase(ph, rows, rate)
        lat[ph.name] = phase_latencies(ph, rows, w)
        # an event due in the window that never reached the sink missed any
        # latency limit: it counts as failed
        expected = srv.scored_before(w[1]) - srv.scored_before(w[0])
        attempted += expected
        failed += max(0, expected - len(lat[ph.name]))
        if len(lat[ph.name]) > expected:
            problems.append(f"{ph.name}: {len(lat[ph.name])} window events, schedule gives {expected}")
    drows = drain.output()
    problems += check_phase(drain, drows, None)
    n_backlog = DRAIN_FILES * DRAIN_EVENTS_PER_FILE
    attempted += n_backlog
    failed += max(0, n_backlog - len(drows))
    # capacity: the median over the batches after the registry batch of
    # events taken in over the time since the previous batch was emitted
    dprog = {b["batchId"]: b for b in drain.batches()}
    dbatches = sorted(drain.emit)
    per_batch = [
        sum(s["numInputRows"] for s in dprog[b]["sources"]) / (drain.emit[b] - drain.emit[a])
        for a, b in zip(dbatches, dbatches[1:])
        if b in dprog
    ]
    drain_eps = median(per_batch)

    # batch 0 loads the registry and batch 1 takes in what queued meanwhile
    steady_low = [b for b in low.batches() if b["batchId"] > 1 and _socket_source(b)]
    low_rows = [_socket_source(b)["numInputRows"] for b in steady_low]
    low_trig = [b["durationMs"].get("triggerExecution", 0) for b in steady_low]
    detail = {
        "stedi_p50_ms_low": quantile(lat["low"], 0.5),
        "stedi_p99_ms_low": quantile(lat["low"], 0.99),
        "stedi_p50_ms_high": quantile(lat["high"], 0.5),
        "stedi_p99_ms_high": quantile(lat["high"], 0.99),
        "samples_low": len(lat["low"]),
        "samples_high": len(lat["high"]),
        "low_rows_per_batch_p50": quantile(low_rows or [0], 0.5),
        "low_trigger_ms_p50": quantile(low_trig or [0], 0.5),
        "stedi_drain_eps": drain_eps,
        "drain_batches": len(per_batch),
        "phase_wall_s": walls,
        "setup_gen_s": gen_s,
        "warmup_s": warm_s,
    }
    e2e = {
        "p50_ms": (detail["stedi_p50_ms_high"], "ms"),
        "tail_ms": (detail["stedi_p99_ms_high"], "ms"),
        "rate_per_s": (drain_eps, "1/s"),
    }

    layers = {}
    if tracer.enabled:
        batches = {"low": low.batches(), "high": high.batches()}

        def dur(phase: str, key: str) -> list[float]:
            return [b["durationMs"].get(key, 0) for b in batches[phase] if b["batchId"] > 0]

        high_last = batches["high"][-1] if batches["high"] else {"stateOperators": []}
        layers.update(
            {
                "gen.lateness_ms_p99": quantile(low_gen.late_ms + high_gen.late_ms, 0.99),
                "codec.decode_rows_per_s": decode_rate(run),
                "streaming.query_planning_ms_p50": quantile(dur("low", "queryPlanning"), 0.5),
                "streaming.wal_commit_ms_p50": quantile(dur("low", "walCommit"), 0.5),
                "streaming.trigger_ms_p50": quantile(dur("high", "triggerExecution"), 0.5),
                "streaming.add_batch_ms_p50": quantile(dur("high", "addBatch"), 0.5),
                "sinks.batch_fn_ms_p50": quantile(high.fn_ms[1:] or high.fn_ms, 0.5),
                "streaming.state_rows": sum(o.get("numRowsTotal", 0) for o in high_last["stateOperators"]),
                "streaming.state_mem_bytes": sum(o.get("memoryUsedBytes", 0) for o in high_last["stateOperators"]),
                "streaming.state_commit_ms_p50": quantile(
                    [
                        sum(o.get("commitTimeMs", 0) for o in b["stateOperators"])
                        for b in batches["high"]
                        if b["batchId"] > 0
                    ],
                    0.5,
                ),
                "streaming.backlog_rows_end": backlog_end,
                "streaming.batches": sum(len(v) for v in batches.values()) + len(drain.batches()),
            }
        )
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
