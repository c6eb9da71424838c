"""Seeded input generators for the benchmark.

Everything the engine sees in a run comes from here, derived from the
run's ``--seed``: the same seed writes byte-identical inputs.

- :func:`write_tables` — the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` at a scale factor, with the column
  layout the engine's loaders expect (naive-UTC micros timestamps,
  ``array<float>`` unit-norm embeddings).
- :class:`EnvelopeGen` — KafkaMessage envelope files for ``replicate``:
  a topic mix with regex misses, Zipf-skewed keys, varied value sizes,
  null keys and values, and headers carrying a record id and the
  scheduled creation stamp. Files land atomically (dot-temp, rename).
- :class:`ServeGen` — query batches (terms plus a perturbed embedding)
  and ingest batches of fresh docs for ``serve``.

The traffic shape is an assumption, not a measurement; ``README.md``
lists each parameter with its basis.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.broker import record_digest

VOCAB = (
    "row the query stream fast spark line small customer group key agg "
    "scan slow table part a merge window order column join vector value "
    "hash batch sort data big filter"
).split()
LANGS = ("en", "es", "fr", "zh", "de")
LANG_P = (0.44, 0.14, 0.13, 0.15, 0.14)
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
DIM = 64
N_LABELS = 10
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00 in micros
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in micros
DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    """Atomic parquet publication: write a dot-file, rename into place
    (Spark's file sources ignore dot-prefixed names)."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)


def _unit_rows(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def embedding_array(vecs: np.ndarray) -> pa.Array:
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, DIM, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def cluster_centers(seed: int) -> np.ndarray:
    return _unit_rows(np.random.default_rng([seed, 7]).normal(size=(N_LABELS, DIM)))


def make_embeddings(rng, centers: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    labels = rng.integers(0, N_LABELS, n)
    vecs = _unit_rows(centers[labels] + rng.normal(size=(n, DIM)) * 0.12)
    return vecs, labels.astype(np.int32)


# near-duplicates are made only of documents this long: on a few-word
# document the engine's MinHash-LSH can miss a pair whose exact Jaccard
# clears its threshold, and the analytics oracle check would then fail
DUP_MIN_WORDS = 20


def make_texts(rng, n: int) -> list[str]:
    """Documents over a small vocabulary; ~5% are near-duplicates of an
    earlier document (a tail word changed, ``dup`` appended), so the
    fuzzy-dedup plans find real candidate pairs."""
    p = 1.0 / np.arange(1, len(VOCAB) + 1)
    p /= p.sum()
    lens = rng.integers(8, 90, n)
    texts = [" ".join(rng.choice(VOCAB, size=int(k), p=p)) for k in lens]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i == 0:
            continue
        words = texts[int(rng.integers(0, i))].split()
        tail = VOCAB[int(rng.integers(0, len(VOCAB)))]
        if len(words) < DUP_MIN_WORDS:
            continue
        texts[i] = " ".join(words[:-1] + [tail, "dup"])
    return texts


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten tables at scale ``sf``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = max(int(150_000 * sf), 50), max(int(10_000 * sf), 10)
    n_part, n_ord = max(int(200_000 * sf), 50), max(int(1_500_000 * sf), 200)
    n_line, n_ev = n_ord * 4, max(int(1_000_000 * sf), 500)
    n_docs = max(int(50_000 * sf), 100)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["small", "red", "blue", "hot", "old", "new", "big", "green"])
    noun = np.array(["ring", "widget", "bolt", "gear", "anvil", "rod", "nut", "pipe"])
    ptypes = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(adj[rng.integers(0, 8, n_part)], " "),
            noun[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    odate = EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    })
    lok = rng.integers(0, n_ord, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, n_line) * DAY_US),
    })
    ev_ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_ev))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = make_texts(rng, n_docs)
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs, labels = make_embeddings(rng, cluster_centers(seed), n_docs)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": embedding_array(vecs),
        "label": labels,
    })
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ------------------------------------------------------------ envelopes

ENVELOPE_SCHEMA = pa.schema([
    pa.field("topic", pa.string(), nullable=False),
    pa.field("partition", pa.int32(), nullable=False),
    pa.field("offset", pa.int64()),
    pa.field("timestamp", pa.timestamp("us", tz="UTC"), nullable=False),
    pa.field("key", pa.binary()),
    pa.field("value", pa.binary()),
    pa.field("headers", pa.list_(pa.struct([
        pa.field("key", pa.string(), nullable=False),
        pa.field("value", pa.binary()),
    ]))),
])

# half the traffic misses the subscription regex — the filter is real work
TOPICS = (
    "orders.v1", "orders.v2", "payments.eu", "payments.us",
    "audit.internal", "metrics.raw", "orders_archive", "clicks",
)
TOPIC_P = (0.2, 0.1, 0.12, 0.08, 0.15, 0.15, 0.1, 0.1)
TOPIC_REGEX = r"orders\.v\d|payments\..*"
N_PARTITIONS = 6
# value sizes: lognormal around a 100-byte median, the record size of the
# widely cited Kafka throughput benchmark (J. Kreps, "Benchmarking Apache
# Kafka: 2 Million Writes Per Second", LinkedIn Engineering, 2014)
VALUE_LOG_MEDIAN = float(np.log(100.0))


class EnvelopeGen:
    """Seeded envelope records, file by file. Tracks the expected
    delivery (count + digest of the regex-matching records)."""

    def __init__(self, seed: int, out_dir: str):
        self.rng = np.random.default_rng([seed, 2])
        self.out_dir = out_dir
        os.makedirs(out_dir, exist_ok=True)
        self.pattern = re.compile(f"^(?:{TOPIC_REGEX})$")
        self.next_offset = 0
        self.n_files = 0
        self.generated = 0
        self.expected = 0
        self.expected_digest = 0

    def write_file(self, n: int, created_ns: np.ndarray) -> str:
        """Write ``n`` records whose ``created`` header carries the given
        per-record creation stamps (epoch ns)."""
        rng = self.rng
        topics = np.array(TOPICS)[rng.choice(len(TOPICS), n, p=TOPIC_P)]
        parts = rng.integers(0, N_PARTITIONS, n).astype(np.int32)
        keys_z = np.minimum(rng.zipf(1.3, n), 100_000)
        null_key = rng.random(n) < 0.05
        null_val = rng.random(n) < 0.02
        sizes = np.clip(rng.lognormal(VALUE_LOG_MEDIAN, 1.0, n), 8, 4096).astype(int)
        blob = rng.integers(0, 256, int(sizes.sum()), dtype=np.uint8).tobytes()
        offs = np.concatenate([[0], np.cumsum(sizes)])
        keys, values, headers = [], [], []
        for i in range(n):
            keys.append(None if null_key[i] else b"user-%d" % keys_z[i])
            values.append(None if null_val[i] else blob[offs[i]:offs[i + 1]])
            rid = self.next_offset + i
            headers.append([
                ("rid", b"%d" % rid),
                ("created", b"%d" % int(created_ns[i])),
            ])
        ts_us = (created_ns // 1000).astype(np.int64)
        table = pa.table({
            "topic": pa.array(topics, pa.string()),
            "partition": pa.array(parts, pa.int32()),
            "offset": pa.array(np.arange(self.next_offset, self.next_offset + n)),
            "timestamp": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
            "key": pa.array(keys, pa.binary()),
            "value": pa.array(values, pa.binary()),
            "headers": pa.array(
                [[{"key": k, "value": v} for k, v in h] for h in headers],
                ENVELOPE_SCHEMA.field("headers").type,
            ),
        }, schema=ENVELOPE_SCHEMA)
        for i in range(n):
            if self.pattern.match(topics[i]):
                self.expected += 1
                self.expected_digest += record_digest(
                    str(topics[i]), int(parts[i]), keys[i], values[i], headers[i]
                )
        self.expected_digest %= 1 << 64
        self.next_offset += n
        self.generated += n
        path = os.path.join(self.out_dir, f"part-{self.n_files:06d}.parquet")
        self.n_files += 1
        _write(table, path)
        return path


# ---------------------------------------------------------------- serve


class ServeGen:
    """Query and ingest batches for ``serve``, drawn around the cluster
    centres of the corpus written with ``corpus_seed``. Ingest docs take
    fresh ids above the base corpus; every admitted vector also lands in
    the exact-vector table the re-rank stage point-fetches from."""

    def __init__(self, seed: int, corpus_seed: int, n_base: int, stream: int = 3):
        self.rng = np.random.default_rng([seed, stream])
        # ingests draw from their own stream: the docs a run admits do
        # not depend on how many queries it asked before
        self.ingest_rng = np.random.default_rng([seed, stream, 1])
        self.centers = cluster_centers(corpus_seed)
        self.next_id = n_base
        self.next_qid = 0

    def query_batch(self, n: int) -> list[tuple[int, list[str], list[float]]]:
        rng = self.rng
        vecs, _ = make_embeddings(rng, self.centers, n)
        out = []
        for v in vecs:
            terms = list(rng.choice(VOCAB[4:], size=int(rng.integers(1, 4)), replace=False))
            out.append((self.next_qid, terms, [float(x) for x in v]))
            self.next_qid += 1
        return out

    def ingest_batch(self, n: int) -> tuple[list[tuple[int, str]], np.ndarray, np.ndarray]:
        """(doc rows, vec ids, vectors) for ``n`` fresh documents."""
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        texts = make_texts(self.ingest_rng, n)
        vecs, _ = make_embeddings(self.ingest_rng, self.centers, n)
        return list(zip(ids.tolist(), texts)), ids, vecs
