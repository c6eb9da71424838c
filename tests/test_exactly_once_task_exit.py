"""What an exactly-once sink task leaves behind in its Python worker,
and what its closure and the driver's shipped package cost — all
JVM-free.

A stand-in DataFrame runs the sink's partition function in-process
(``TaskContext.get()`` is None there, so the partition id is 0), which
is enough to drive every exit path of the task: commit, ledger-marker
skip and abort.
"""

from __future__ import annotations

import datetime as dt
import importlib
import os
import sys
import tempfile
import types
import zipfile
import zipimport

import pytest
from pyspark import TaskContext
from pyspark import cloudpickle

from flink_kafka_replicator_spark import session
from flink_kafka_replicator_spark.model import KAFKA_MESSAGE
from flink_kafka_replicator_spark.streaming.exactly_once import (
    KafkaTransactionalBatchWriter,
    _drop_zip_importers,
)

# -- stand-ins (top-level: pickled with the task closure) -------------------

COMMITTED: list = []


class MemProducer:
    def __init__(self, txn_id: str, poison_topic=None):
        self.txn_id = txn_id
        self.poison_topic = poison_topic
        self.buffer: list = []

    def init_transactions(self):
        pass

    def begin_transaction(self):
        pass

    def produce(self, topic, key, value, partition, timestamp, headers):
        if topic == self.poison_topic:
            raise RuntimeError(f"broker rejected {topic}")
        self.buffer.append((topic, key, value, partition, timestamp, headers))

    def commit_transaction(self):
        COMMITTED.append((self.txn_id, self.buffer))

    def abort_transaction(self):
        self.buffer = []


class MemFactory:
    def __init__(self, poison_topic=None):
        self.poison_topic = poison_topic
        self.calls: list = []

    def __call__(self, transactional_id: str):
        self.calls.append(transactional_id)
        return MemProducer(transactional_id, self.poison_topic)


class StandInDF:
    """``columns`` plus a ``foreachPartition`` that runs the partition
    function in this process and keeps it for inspection."""

    def __init__(self, rows):
        self.columns = [f.name for f in KAFKA_MESSAGE.fields]
        self.rows = rows
        self.fn = None

    def foreachPartition(self, f):
        self.fn = f
        f(iter(self.rows))


def _rows(topic="a", n=3):
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    return [
        {
            "topic": topic,
            "partition": i % 2,
            "offset": i,
            "timestamp": base + dt.timedelta(seconds=i),
            "key": f"k{i}".encode(),
            "value": f"v{i}".encode(),
            "headers": [{"key": "h", "value": b"x"}],
        }
        for i in range(n)
    ]


# -- fixtures ----------------------------------------------------------------


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A zip holding ``zpkg/sub/{a,b}.py`` on ``sys.path``, with a private
    copy of the importer cache; all three and ``sys.modules`` are
    restored."""
    archive = str(tmp_path / "zpkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/sub/__init__.py", "")
        z.writestr("zpkg/sub/a.py", "VALUE = 'a'\n")
        z.writestr("zpkg/sub/b.py", "VALUE = 'b'\n")
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(archive)
    COMMITTED.clear()
    yield archive
    for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
        del sys.modules[name]
    COMMITTED.clear()


def _zip_importers() -> list:
    return [
        p
        for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


def _count_directory_reads(monkeypatch) -> list:
    reads: list = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


# -- the helper --------------------------------------------------------------


def test_dropped_zip_importers_are_not_reread_and_imports_still_work(
    zip_pkg, monkeypatch
):
    assert importlib.import_module("zpkg.sub.a").VALUE == "a"
    assert _zip_importers(), "importing from the zip caches its importers"
    reads = _count_directory_reads(monkeypatch)
    importlib.invalidate_caches()
    # the cost a task start pays: one archive read per cached importer
    assert len(reads) == len(_zip_importers()) >= 2

    reads.clear()
    _drop_zip_importers()
    assert _zip_importers() == []
    importlib.invalidate_caches()
    assert importlib.import_module("zpkg.sub.b").VALUE == "b"
    # the new importers come from the process-wide directory cache
    assert reads == []


# -- every exit path of the sink task ---------------------------------------


def _plant_importer(archive):
    sys.path_importer_cache[archive] = zipimport.zipimporter(archive)
    assert _zip_importers()


def test_commit_exit_drops_zip_importers(zip_pkg):
    _plant_importer(zip_pkg)
    KafkaTransactionalBatchWriter(MemFactory(), txn_prefix="t").write(
        StandInDF(_rows()), 4
    )
    assert [txn for txn, _ in COMMITTED] == ["t-b4-p0"]
    assert _zip_importers() == []


def test_commit_produces_the_envelope_fields(zip_pkg):
    df = StandInDF(_rows(n=2))
    df.columns = [c for c in df.columns if c != "partition"]
    KafkaTransactionalBatchWriter(MemFactory()).write(df, 1)
    [(_, sent)] = COMMITTED
    assert sent[1] == (
        "a",
        b"k1",
        b"v1",
        -1,  # no partition column: the producer picks
        1704067201000,  # ms since the epoch
        [("h", b"x")],
    )


def test_marker_skip_exit_drops_zip_importers(zip_pkg):
    _plant_importer(zip_pkg)
    factory = MemFactory()
    KafkaTransactionalBatchWriter(
        factory, control_topic="__c", committed_reader=lambda: {"b4-p0"}
    ).write(StandInDF(_rows()), 4)
    assert factory.calls == [], "a committed partition opens no producer"
    assert _zip_importers() == []


def test_abort_exit_drops_zip_importers(zip_pkg):
    _plant_importer(zip_pkg)
    with pytest.raises(RuntimeError, match="broker rejected"):
        KafkaTransactionalBatchWriter(MemFactory(poison_topic="a")).write(
            StandInDF(_rows()), 4
        )
    assert COMMITTED == []
    assert _zip_importers() == []


# -- the task closure carries only this batch's markers ---------------------


def test_closure_holds_only_this_batch_markers(zip_pkg, monkeypatch):
    n = 10_000
    old = {f"b{b}-p{p}" for b in range(n) for p in (0, 1)}

    def closure_bytes(markers, pid):
        monkeypatch.setattr(
            TaskContext, "_taskContext", types.SimpleNamespace(partitionId=lambda: pid)
        )
        factory = MemFactory()
        df = StandInDF(_rows())
        KafkaTransactionalBatchWriter(
            factory, control_topic="__c", committed_reader=lambda: markers
        ).write(df, n)
        return factory.calls, len(cloudpickle.dumps(df.fn))

    calls, with_old = closure_bytes(old | {f"b{n}-p0"}, pid=0)
    assert calls == [], "p0 already committed: skipped"
    calls, _ = closure_bytes(old | {f"b{n}-p0"}, pid=1)
    assert calls == [f"fkr-eo-b{n}-p1"], "p1 not committed yet: commits"
    _, without_old = closure_bytes({f"b{n}-p0"}, pid=0)
    assert abs(with_old - without_old) < 64, (with_old, without_old)


# -- the shipped package zip -------------------------------------------------


def test_shipped_package_zip_is_removed_at_exit(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    registered: list = []
    monkeypatch.setattr(
        session.atexit, "register", lambda fn, *a: registered.append((fn, a))
    )
    shipped: list = []
    spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(addPyFile=shipped.append)
    )

    session._ship_package(spark)
    [path] = shipped
    assert path.startswith(str(tmp_path)) and zipfile.is_zipfile(path)
    for fn, args in registered:
        fn(*args)
    assert not os.path.exists(path)
