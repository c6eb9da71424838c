"""The artifact memo's rules (flink_kafka_replicator_spark/memo.py),
checked without a JVM: ``spark`` is a stand-in that carries only
``sparkContext.applicationId``."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from flink_kafka_replicator_spark import memo


def fake_spark(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture(autouse=True)
def empty_store(monkeypatch):
    monkeypatch.setattr(memo, "_STORE", {})


class Inputs:
    """A mutable input identity and a build that counts its calls."""

    def __init__(self):
        self.version = 0
        self.builds = 0

    def identity(self):
        return self.version

    def build(self):
        self.builds += 1
        return f"v{self.version}"


def test_changed_identity_rebuilds():
    spark, src = fake_spark("app-1"), Inputs()
    args = (spark, "kind", "key", src.identity, src.build)
    assert memo.get(*args) == "v0"
    assert memo.get(*args) == "v0"
    assert src.builds == 1
    src.version = 1
    assert memo.get(*args) == "v1"
    assert memo.get(*args) == "v1"
    assert src.builds == 2


def test_identity_moving_during_build_is_served_not_stored():
    spark, src = fake_spark("app-1"), Inputs()

    def moving_build():
        value = src.build()
        src.version += 1  # the inputs change while the value is built
        return value

    assert memo.get(spark, "kind", "key", src.identity, moving_build) == "v0"
    assert not memo._STORE["kind"]
    # the next call builds again, and now the identity holds still
    assert memo.get(spark, "kind", "key", src.identity, src.build) == "v1"
    assert memo.get(spark, "kind", "key", src.identity, src.build) == "v1"
    assert src.builds == 2


def test_full_kind_clears_only_itself():
    spark, src = fake_spark("app-1"), Inputs()
    memo.get(spark, "other", "key", src.identity, src.build)
    for i in range(memo.MAX_PER_KIND):
        memo.get(spark, "full", i, src.identity, src.build)
    assert len(memo._STORE["full"]) == memo.MAX_PER_KIND
    memo.get(spark, "full", "one more", src.identity, src.build)
    assert list(memo._STORE["full"]) == [("app-1", "one more")]
    assert len(memo._STORE["other"]) == 1
    # re-storing a key already present never clears the kind
    src.version = 1
    memo.get(spark, "full", "one more", src.identity, src.build)
    assert len(memo._STORE["full"]) == 1


def test_clear_kind_leaves_other_kinds_warm():
    spark, src = fake_spark("app-1"), Inputs()
    for kind in ("a", "b"):
        memo.get(spark, kind, "key", src.identity, src.build)
    memo.clear("a")
    assert src.builds == 2
    memo.get(spark, "b", "key", src.identity, src.build)
    assert src.builds == 2
    memo.get(spark, "a", "key", src.identity, src.build)
    assert src.builds == 3
    memo.clear()
    memo.get(spark, "b", "key", src.identity, src.build)
    assert src.builds == 4


def test_application_ids_never_share_an_entry():
    src = Inputs()
    one, two = fake_spark("app-1"), fake_spark("app-2")
    memo.get(one, "kind", "key", src.identity, src.build)
    memo.get(two, "kind", "key", src.identity, src.build)
    assert src.builds == 2
    memo.get(one, "kind", "key", src.identity, src.build)
    memo.get(two, "kind", "key", src.identity, src.build)
    assert src.builds == 2


def test_dataset_key_normalizes_dir_and_applies_defaults(tmp_path):
    spark, calls = fake_spark("app-1"), []

    @memo.dataset
    def artifact(spark, sf_dir, k=16):
        calls.append((sf_dir, k))
        return k

    d = str(tmp_path)
    assert artifact(spark, d) == 16
    assert artifact(spark, d + "/", 16) == 16
    assert artifact(spark, sf_dir=d, k=16) == 16
    assert calls == [(d, 16)]
    assert artifact(spark, d, 8) == 8
    assert len(calls) == 2
    # a table appearing under the dataset changes its identity
    (tmp_path / "orders.parquet").write_bytes(b"x")
    assert artifact(spark, d) == 16
    assert len(calls) == 3


def _rewrite(path, change) -> None:
    """Replace the parquet file at ``path`` with ``change`` applied to
    its rows, swapped in with ``os.replace`` (a new inode)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    new = pa.Table.from_pandas(
        change(table.to_pandas()), schema=table.schema, preserve_index=False
    )
    tmp = f"{path}.tmp"
    pq.write_table(new, tmp)
    os.replace(tmp, path)


def test_rewritten_dataset_invalidates_its_entries(spark, sf_dir, tmp_path):
    """A dataset rewritten within a session is rebuilt, never served
    stale: after replacing two tables, the same session's answers equal
    those of a build with the memo cleared."""
    import shutil

    from flink_kafka_replicator_spark.functions.pipeline_queries import (
        dedup_fuzzy_minhash,
    )
    from flink_kafka_replicator_spark.io import TABLES, table_path
    from flink_kafka_replicator_spark.operators.aggregates import agg_distinct

    data = str(tmp_path / "sf")
    (tmp_path / "sf").mkdir()
    for name in TABLES:
        shutil.copyfile(table_path(sf_dir, name), table_path(data, name))

    def answers():
        return [
            sorted(tuple(r) for r in q(spark, data).collect())
            for q in (dedup_fuzzy_minhash, agg_distinct)
        ]

    before = answers()

    def plant_duplicates(df):  # docs 100-119 copy docs 0-19, tail dropped
        df = df.sort_values("doc_id").reset_index(drop=True)
        df.loc[100:119, "text"] = df.loc[0:19, "text"].to_numpy()
        return df.iloc[:-50]

    _rewrite(table_path(data, "documents"), plant_duplicates)
    _rewrite(table_path(data, "orders"), lambda df: df[df.o_orderkey % 2 == 0])
    after = answers()
    memo.clear()
    assert after == answers()
    assert after[0] != before[0] and after[1] != before[1]
