"""``replicate``: the reference's own job, exactly-once.

Generated KafkaMessage envelope files go through
``start_exactly_once_kafka_replication`` — a file-envelope
``source_df``, the regex topic filter, per-partition transactional
producers (the in-process broker stand-in) behind the control-topic
ledger.

- backfill: drain the pre-generated backlog with ``availableNow``,
  ``MAX_FILES_PER_TRIGGER`` files (one task each) per trigger;
  ``throughput_per_s`` is the median over the drain's triggers after
  its first (which still pays JIT warm-up) of delivered records ÷ the
  trigger's ``triggerExecution`` wall. ``cold_s`` runs from the start
  call to the end of that first trigger: the cold cost of a fresh
  replication job (planning, codegen, Python worker start).
- mirror (open loop, ``--seconds`` × ``MIRROR_SHARE`` long whatever the
  backfill took): one generator thread writes envelope files at a
  fixed offered rate while the query — resumed on the backfill's
  checkpoint, with no per-trigger file cap, as a Kafka source without
  ``maxOffsetsPerTrigger`` — runs a processingTime trigger at the
  reference's 1 s checkpoint interval. Files are due at a fixed phase of that
  wall-clock-aligned trigger grid, so the queueing delay a record sees
  does not depend on when the run happened to start.
  ``latency_p50_ms``/``latency_p90_ms`` are per record, from the
  generator's scheduled creation time to the producer's
  ``commit_transaction``.

Correct when the delivered multiset (count + digest) equals the
regex-filtered input: no loss, no duplicates.
"""

from __future__ import annotations

import os
import re
import threading
import time
from datetime import datetime

import numpy as np

from perfbench import gen
from perfbench.broker import LogTail, TxnLogFactory, TxnLogReader
from perfbench.measure import median, percentile

CONTROL_TOPIC = "__perfbench_commits"
FILE_RECORDS = 1000
BACKLOG_FILES = 48
MAX_FILES_PER_TRIGGER = 4
# mirror input records per second over all topics (about half match the
# regex): about half the backfill's input rate on a 4-core box (6.4k/s);
# the detail line reports the two side by side
OFFERED_PER_S = 3000
FILE_PERIOD_S = 0.2
MIRROR_SHARE = 1 / 3
# fixed creation stamp for backlog records: same seed, same bytes
BACKLOG_CREATED_NS = 1_700_000_000 * 10**9
_BATCH = re.compile(r"-b(\d+)-p\d+$")


def make_inputs(ctx) -> dict:
    backlog = gen.EnvelopeGen(ctx.seed, ctx.path("in"))
    for _ in range(6 if ctx.smoke else BACKLOG_FILES):
        backlog.write_file(FILE_RECORDS, np.full(FILE_RECORDS, BACKLOG_CREATED_NS))
    os.makedirs(ctx.path("log"), exist_ok=True)
    return {"gen": backlog}


def setup(ctx, spark, state) -> None:
    """Nothing beyond the session: the replication job is ready once a
    session exists."""


def _start(ctx, spark, src: str, ck: str, log: str, available_now: bool, max_files=None):
    from flink_kafka_replicator_spark.sources.files import envelope_stream
    from flink_kafka_replicator_spark.streaming.exactly_once import (
        start_exactly_once_kafka_replication,
    )
    from flink_kafka_replicator_spark.streaming.replicate import ReplicateConfig

    with ctx.tracer.span("sources.envelope_stream"):
        source = envelope_stream(spark, src, max_files_per_trigger=max_files)
    with ctx.tracer.span("exactly_once.start_exactly_once_kafka_replication"):
        return start_exactly_once_kafka_replication(
            spark,
            ReplicateConfig(topics=gen.TOPIC_REGEX, exactly_once=True),
            checkpoint_location=ck,
            producer_factory=TxnLogFactory(log, CONTROL_TOPIC),
            source_df=source,
            available_now=available_now,
            control_topic=CONTROL_TOPIC,
            committed_reader=TxnLogReader(log),
        )


def _drain(ctx, q) -> None:
    with ctx.tracer.span("streaming.await_termination"):
        q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"replication query failed: {q.exception()}")


class _Generator(threading.Thread):
    """Open-loop envelope writer: one file every FILE_PERIOD_S, each
    record stamped with the file's scheduled creation time."""

    def __init__(self, g: gen.EnvelopeGen, t0_ns: int, records_per_file: int):
        super().__init__(daemon=True)
        self.g, self.t0_ns, self.n = g, t0_ns, records_per_file
        self.stop_flag = threading.Event()
        self.late_ms: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        k = 0
        try:
            while not self.stop_flag.is_set():
                due = self.t0_ns + int(k * FILE_PERIOD_S * 1e9)
                wait = (due - time.time_ns()) / 1e9
                if wait > 0 and self.stop_flag.wait(wait):
                    break
                self.g.write_file(self.n, np.full(self.n, due))
                self.late_ms.append((time.time_ns() - due) / 1e6)
                k += 1
        except BaseException as e:  # surfaced by the main thread
            self.error = e


def run(ctx, spark, state) -> dict:
    g: gen.EnvelopeGen = state["gen"]
    tr = ctx.tracer

    # backfill: drain the backlog
    ck, log = ctx.path("ck"), ctx.path("log")
    tail = LogTail(log)
    t_start = time.time()
    t_window = time.perf_counter()
    q = _start(ctx, spark, ctx.path("in"), ck, log, True, MAX_FILES_PER_TRIGGER)
    _drain(ctx, q)
    tail.poll()
    backfill_delivered = tail.delivered
    backfill = [p for p in q.recentProgress if p.numInputRows > 0]
    progress = list(backfill)
    first_start = datetime.fromisoformat(backfill[0].timestamp.replace("Z", "+00:00")).timestamp()
    cold_s = first_start - t_start + backfill[0].durationMs["triggerExecution"] / 1000.0
    backfill_s = sum(p.durationMs["triggerExecution"] for p in backfill) / 1000.0

    # mirror: open-loop generator + processingTime trigger on the same checkpoint
    mirror_s = 2.0 if ctx.smoke else MIRROR_SHARE * ctx.seconds
    records_per_file = int(OFFERED_PER_S * FILE_PERIOD_S)
    q = _start(ctx, spark, ctx.path("in"), ck, log, False)
    # first file due 0.1 s past a whole second (triggers fire on whole seconds)
    t_mirror_ns = (time.time_ns() // 10**9 + 1) * 10**9 + 10**8
    gen_thread = _Generator(g, t_mirror_ns, records_per_file)
    gen_thread.start()
    lag_max, last_batch = 0, None
    deadline = time.perf_counter() + mirror_s
    with tr.span("streaming.mirror"):
        while True:
            now = time.perf_counter()
            if now >= deadline and not gen_thread.stop_flag.is_set():
                gen_thread.stop_flag.set()
                gen_thread.join()
                drain_deadline = now + 60.0
            if gen_thread.stop_flag.is_set():
                tail.poll()
                if tail.delivered >= g.expected or now > drain_deadline:
                    break
            lp = q.lastProgress
            if lp is not None and lp["batchId"] != last_batch:
                last_batch = lp["batchId"]
                tail.poll()
                lag_max = max(lag_max, g.expected - tail.delivered)
            if q.exception() is not None:
                raise RuntimeError(f"replication query failed: {q.exception()}")
            time.sleep(0.05)
    window_s = time.perf_counter() - t_window
    progress += [p for p in q.recentProgress if p.numInputRows > 0]
    with tr.span("streaming.stop"):
        q.stop()
    if gen_thread.error is not None:
        raise gen_thread.error
    tail.poll()

    # correctness: delivered multiset == regex-filtered input
    digest = sum(t["digest"] for t in tail.txns) % (1 << 64)
    failed = abs(tail.delivered - g.expected)
    if failed == 0 and digest != g.expected_digest:
        failed = 1

    txns_per_batch: dict[int, int] = {}
    rows_per_batch: dict[int, int] = {}
    for t in tail.txns:
        b = int(_BATCH.search(t["txn"]).group(1))
        txns_per_batch[b] = txns_per_batch.get(b, 0) + 1
        rows_per_batch[b] = rows_per_batch.get(b, 0) + t["n"]

    lat_ms = [
        (t["commit_ns"] - c) / 1e6
        for t in tail.txns
        for c in t["created"]
        if c >= t_mirror_ns
    ]
    # the first trigger still pays JIT warm-up
    steady = backfill[1:] or backfill
    trigger_rates = [
        1000.0 * rows_per_batch.get(p.batchId, 0) / p.durationMs["triggerExecution"]
        for p in steady
    ]
    e2e = {
        "throughput_per_s": median(trigger_rates),
        "latency_p50_ms": percentile(lat_ms, 50),
        "latency_p90_ms": percentile(lat_ms, 90),
        "cold_s": cold_s,
    }
    detail = {
        "backfill_records_per_s": e2e["throughput_per_s"],
        "mirror_latency_p50_ms": e2e["latency_p50_ms"],
        "mirror_latency_p90_ms": e2e["latency_p90_ms"],
        "latency_samples": len(lat_ms),
        "first_trigger_s": cold_s,
        "backfill_records": backfill_delivered,
        "backfill_s": backfill_s,
        "backfill_trigger_ms": [p.durationMs["triggerExecution"] for p in backfill],
        # capacity against offered load, both in input records per second
        "backfill_input_per_s": sum(p.numInputRows for p in backfill) / backfill_s,
        "mirror_offered_input_per_s": OFFERED_PER_S,
        "mirror_s": mirror_s,
        "generated": g.generated,
        "expected": g.expected,
        "delivered": tail.delivered,
        "digest_ok": digest == g.expected_digest,
        "window_s": window_s,
    }

    def dur(key: str) -> float:
        return median(p.durationMs.get(key, 0) for p in progress)

    ledger = {
        int(n.split("-")[1])
        for n in os.listdir(os.path.join(ck, "_ledger"))
        if n.startswith("committed-")
    }
    layer = {
        "sources.latest_offset_ms": dur("latestOffset"),
        "sources.get_batch_ms": dur("getBatch"),
        "sources.lag_records_max": lag_max,
        "sources.gen_late_ms_max": max(gen_thread.late_ms, default=0.0),
        "streaming.triggers": len(progress),
        "streaming.rows_per_trigger": median(p.numInputRows for p in progress),
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "exactly_once.add_batch_ms": dur("addBatch"),
        "exactly_once.tasks_per_trigger": median(txns_per_batch.values()),
        "exactly_once.task_busy_s": sum(t["commit_ns"] - t["open_ns"] for t in tail.txns) / 1e9,
        "exactly_once.txns": len(tail.txns),
        "exactly_once.records_per_txn": median(t["n"] for t in tail.txns),
        "exactly_once.ledger_skips": len(ledger - set(txns_per_batch)),
        # replicate only records spans around a handful of driver calls
        "trace.overhead_s": tr.bookkeeping_s,
    }
    return {
        "attempted": g.expected,
        "failed": failed,
        "e2e": e2e,
        "layer": layer,
        "detail": detail,
    }
