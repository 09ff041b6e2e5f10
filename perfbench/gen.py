"""Seeded input generators: the batch tables and the two event streams.

Everything here is a pure function of its seed. The package under test only
ever sees the files these functions write.

The batch tables mirror the schema, types and value vocabularies of the
repository's TPC-H-style test data (FIXTURES.md part A), so every query in
the registry runs on them and its DuckDB oracle applies unchanged.
"""

from __future__ import annotations

import hashlib
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NATIONS = 25
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000
_D1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_D2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def batch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten registry tables at scale ``sf`` (row counts as in TESTDATA.md)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = max(int(15_000 * sf), 20), int(50_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(NATIONS)],
        "n_regionkey": pa.array([i % 5 for i in range(NATIONS)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, NATIONS, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, NATIONS, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_D1995 + rng.integers(0, 2405, n_ord) * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _ts(_D1995 + rng.integers(1, 2499, n_line) * _DAY_US),
    })
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(_D2024 + rng.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    lengths = rng.integers(10, 100, n_docs)
    words = np.asarray(WORDS, dtype=object)[rng.integers(0, len(WORDS), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # ~5% near-duplicates: an earlier document plus a marker word, so the
    # dedup family finds real clusters
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_docs, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_docs, dtype=np.int32),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """One parquet file per table, as the registry's loader expects; returns
    the total row count."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return sum(t.num_rows for t in tables.values())


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    """``n`` draws from a Zipf(s) law truncated to ``n_keys`` ranks; the rank
    order is shuffled so hot keys are not the small ids."""
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    ranks = rng.choice(n_keys, size=n, p=p / p.sum())
    return rng.permutation(n_keys)[ranks]


def sketch_events(seed: int, n: int, n_users: int, zipf_s: float) -> pa.Table:
    """The sketch stream: Zipf-skewed user ids under a handful of event types."""
    rng = np.random.default_rng([seed, 2])
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "user_id": zipf_keys(rng, n, n_users, zipf_s).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
    })


def md5_unit(v: int) -> float:
    """The q102 KMV hash of ``v``: first 8 md5 hex digits / 2^32."""
    return int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16) / 4294967296


def md5_word(v: int) -> int:
    """The q147 HLL hash of ``v``: first 8 md5 hex digits as an integer."""
    return int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)


# Confluent wire format (magic 0 + big-endian schema id) and the Avro binary
# encoding of the benchmark's fixed record, written independently of the
# package's codec so the stream inputs do not depend on the code under test.
KEY_SCHEMA_ID, VALUE_SCHEMA_ID, OUT_SCHEMA_ID = 1, 7, 9
TX_SCHEMA = {
    "type": "record",
    "name": "Tx",
    "fields": [
        {"name": "account", "type": "string"},
        {"name": "amount", "type": "double"},
        {"name": "seq", "type": "long"},
        {"name": "due_us", "type": "long"},
    ],
}
BALANCE_SCHEMA = {
    "type": "record",
    "name": "Balance",
    "fields": [
        {"name": "account", "type": "string"},
        {"name": "balance", "type": "double"},
        {"name": "seq", "type": "long"},
    ],
}


def _varint(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while z >= 0x80:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)
    return bytes(out)


def _avro_string(s: str) -> bytes:
    b = s.encode()
    return _varint(len(b)) + b


def frame(schema_id: int, body: bytes) -> bytes:
    return struct.pack(">bI", 0, schema_id) + body


class TxGenerator:
    """The ``stream_table`` topic: account transactions as framed Avro.

    Keys are ``acct<k>`` with ``k`` Zipf-skewed over ``n_keys`` accounts.
    Amounts are whole cents, so every per-key balance is an exact sum in
    any order.
    """

    def __init__(self, seed: int, n_keys: int, zipf_s: float, n_max: int):
        rng = np.random.default_rng([seed, 3])
        self.keys = zipf_keys(rng, n_max, n_keys, zipf_s)
        self.cents = rng.integers(-5_000, 10_001, n_max)

    def account(self, seq: int) -> str:
        return f"acct{self.keys[seq]}"

    def amount(self, seq: int) -> float:
        return float(self.cents[seq]) / 100.0

    def table(self, seqs: range, due_us: list[int]) -> pa.Table:
        """Messages ``seqs`` with their generator due times, as a topic file."""
        keys, values = [], []
        for seq, due in zip(seqs, due_us):
            acct = _avro_string(self.account(seq))
            keys.append(frame(KEY_SCHEMA_ID, acct))
            values.append(frame(
                VALUE_SCHEMA_ID,
                acct + struct.pack("<d", self.amount(seq)) + _varint(seq) + _varint(due),
            ))
        return pa.table({
            "key": pa.array(keys, pa.binary()),
            "value": pa.array(values, pa.binary()),
        })


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = acc = 0
    while True:
        b = buf[i]
        i += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return (acc >> 1) ^ -(acc & 1), i
        shift += 7


def read_balance(payload: bytes) -> tuple[str, float, int]:
    """Decode one framed ``Balance`` record: (account, balance, seq)."""
    if payload[0] != 0 or struct.unpack(">I", payload[1:5])[0] != OUT_SCHEMA_ID:
        raise ValueError("not a framed Balance record")
    n, i = _read_varint(payload, 5)
    account = payload[i:i + n].decode()
    (balance,) = struct.unpack("<d", payload[i + n:i + n + 8])
    seq, _ = _read_varint(payload, i + n + 8)
    return account, balance, seq
