"""In-process broker stand-in for the exactly-once replication path.

``start_exactly_once_kafka_replication`` takes a ``producer_factory``
(called inside each Spark task, so it must be a top-level picklable
object) and a ``committed_reader`` (called on the driver at each batch
start). The objects here implement the confluent-kafka transactional
surface the engine calls and publish each committed transaction as one
JSON file, written atomically, into a log directory:

    {"txn", "n", "digest", "open_ns", "commit_ns", "created"}

``n`` counts data records, ``digest`` is their order-insensitive
multiset digest (:func:`record_digest` summed mod 2**64),
``created`` the per-record creation stamps from the ``created`` header,
``open_ns``/``commit_ns`` the producer's init and commit wall times.
A transaction that carried a control-topic ledger marker is published
as ``<txn>.ctl.json``; the committed reader returns those markers.
Aborted transactions publish nothing — the read-committed view.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time

_MARKER = re.compile(r"(b\d+-p\d+)\.ctl\.json$")


def record_digest(topic: str, partition: int, key, value, headers) -> int:
    """64-bit hash of one delivered record's identity-relevant fields;
    summed mod 2**64 it is an order-insensitive multiset digest."""
    h = hashlib.blake2b(digest_size=8)
    for part in (topic.encode(), partition.to_bytes(4, "big", signed=True)):
        h.update(part)
    for b in (key, value):
        h.update(b"\x00" if b is None else b"\x01" + len(b).to_bytes(4, "big") + b)
    for hk, hv in headers or ():
        h.update(hk.encode() + b"\x00" + (hv or b""))
    return int.from_bytes(h.digest(), "big")


class TxnLogProducer:
    def __init__(self, log_dir: str, transactional_id: str, control_topic: str | None):
        self.log_dir = log_dir
        self.txn_id = transactional_id
        self.control_topic = control_topic
        self.state = "created"
        self.open_ns = 0
        self._reset()

    def _reset(self) -> None:
        self.n = 0
        self.digest = 0
        self.created: list[int] = []
        self.has_marker = False

    def init_transactions(self) -> None:
        self.state = "ready"
        self.open_ns = time.time_ns()

    def begin_transaction(self) -> None:
        if self.state != "ready":
            raise RuntimeError(f"begin_transaction in state {self.state}")
        self.state = "in_txn"

    def produce(self, topic, key=None, value=None, partition=-1, timestamp=0, headers=None):
        if self.state != "in_txn":
            raise RuntimeError("produce outside a transaction")
        if topic == self.control_topic:
            self.has_marker = True
            return
        self.n += 1
        self.digest += record_digest(topic, partition, key, value, headers)
        for hk, hv in headers or ():
            if hk == "created":
                self.created.append(int(hv))

    def poll(self, timeout=0) -> int:
        return 0

    def commit_transaction(self) -> None:
        if self.state != "in_txn":
            raise RuntimeError(f"commit_transaction in state {self.state}")
        commit_ns = time.time_ns()
        name = self.txn_id + (".ctl.json" if self.has_marker else ".json")
        tmp = os.path.join(self.log_dir, f".{name}.tmp")
        with open(tmp, "w") as f:
            json.dump(
                {
                    "txn": self.txn_id,
                    "n": self.n,
                    "digest": self.digest % (1 << 64),
                    "open_ns": self.open_ns,
                    "commit_ns": commit_ns,
                    "created": self.created,
                },
                f,
            )
        os.rename(tmp, os.path.join(self.log_dir, name))
        self.state = "committed"

    def abort_transaction(self) -> None:
        self._reset()
        self.state = "aborted"


class TxnLogFactory:
    """``producer_factory`` for the engine: one producer per task."""

    def __init__(self, log_dir: str, control_topic: str | None = None):
        self.log_dir = log_dir
        self.control_topic = control_topic

    def __call__(self, transactional_id: str) -> TxnLogProducer:
        return TxnLogProducer(self.log_dir, transactional_id, self.control_topic)


class TxnLogReader:
    """``committed_reader`` for the engine: the set of control-topic
    marker keys of every committed transaction."""

    def __init__(self, log_dir: str):
        self.log_dir = log_dir

    def __call__(self) -> set[str]:
        out = set()
        for name in os.listdir(self.log_dir):
            m = _MARKER.search(name)
            if m and not name.startswith("."):
                out.add(m.group(1))
        return out


class LogTail:
    """Incremental reader of the transaction log: each :meth:`poll`
    returns only the transactions committed since the previous one."""

    def __init__(self, log_dir: str):
        self.log_dir = log_dir
        self.seen: set[str] = set()
        self.txns: list[dict] = []
        self.delivered = 0

    def poll(self) -> list[dict]:
        new = []
        for name in sorted(set(os.listdir(self.log_dir)) - self.seen):
            if name.endswith(".json") and not name.startswith("."):
                with open(os.path.join(self.log_dir, name)) as f:
                    new.append(json.load(f))
                self.seen.add(name)
        self.txns.extend(new)
        self.delivered += sum(t["n"] for t in new)
        return new
