"""Seeded input generation for every workload.

Everything the engine sees is generated here from the workload seed with
NumPy's ``default_rng``: the same seed gives byte-identical tables, change
batches and documents. Inputs are pyarrow tables; timestamps are naive
microsecond instants meant as UTC (the benchmark pins ``TZ=UTC`` and the
Spark session time zone to UTC).
"""

from __future__ import annotations

import datetime as dt
import hashlib
from decimal import Decimal

import numpy as np
import pyarrow as pa

EVENT_TYPES = (
    "page_view", "click", "search", "add_to_cart", "purchase",
    "login", "logout", "share", "error", "signup",
)
#: Zipf-like weights: page views dominate, signups are rare
EVENT_WEIGHTS = np.array([30, 20, 12, 9, 6, 6, 5, 5, 4, 3], dtype=float)
EVENT_WEIGHTS /= EVENT_WEIGHTS.sum()
EVENT_BASE = dt.datetime(2024, 3, 1)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
ORDER_BASE = dt.date(1992, 1, 1)
ORDER_DAYS = 2400  # 1992-01-01 .. ~1998-07


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream…) so inputs do not shift
    when another stream draws more numbers."""
    return np.random.default_rng([int(seed), *map(int, stream)])


def _cents(values: np.ndarray, precision: int = 12) -> pa.Array:
    return pa.array(
        [Decimal(int(v)).scaleb(-2) for v in values], pa.decimal128(precision, 2)
    )


def _ts(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(epoch + offsets_us.astype(np.int64), pa.timestamp("us"))


# -- event_stream -----------------------------------------------------------


def events(rng: np.random.Generator, n: int, start_us: int, span_us: int,
           id_prefix: str) -> pa.Table:
    """``n`` events in the ``event_stream`` template shape, spread over
    ``[start_us, start_us + span_us)`` after :data:`EVENT_BASE`."""
    users = rng.integers(0, max(n // 8, 50), n)
    sessions = users * 16 + rng.integers(0, 16, n)
    kinds = rng.choice(len(EVENT_TYPES), n, p=EVENT_WEIGHTS)
    offs = start_us + rng.integers(0, span_us, n)
    lag = rng.integers(1_000_000, 120_000_000, n)
    amounts = rng.integers(1, 50_000, n)
    return pa.table({
        "event_id": [f"{id_prefix}-{i:07d}" for i in range(n)],
        "event_type": [EVENT_TYPES[k] for k in kinds],
        "event_timestamp": _ts(EVENT_BASE, offs),
        "user_id": [f"u{u:06d}" for u in users],
        "session_id": [f"s{s:08d}" for s in sessions],
        "ip_address": [f"10.{u % 250}.{(u // 250) % 250}.{k + 1}" for u, k in zip(users, kinds)],
        "user_agent": [("mobile", "desktop", "tablet")[u % 3] for u in users],
        "payload": [f'{{"amount":{a},"kind":{k}}}' for a, k in zip(amounts, kinds)],
        "ingested_at": _ts(EVENT_BASE, offs + lag),
    })


# -- TPC-H-shaped star ------------------------------------------------------


def customers(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(1, n + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, len(SEGMENTS), n)],
        "c_acctbal": _cents(rng.integers(-99_999, 999_999, n)),
    })


def orders(rng: np.random.Generator, n: int, n_cust: int, first_key: int = 1) -> pa.Table:
    days = rng.integers(0, ORDER_DAYS, n)
    status = rng.choice(3, n, p=[0.49, 0.49, 0.02])
    return pa.table({
        "o_orderkey": pa.array(np.arange(first_key, first_key + n), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in status],
        "o_totalprice": _cents(rng.integers(100_000, 50_000_000, n)),
        "o_orderdate": pa.array(
            [ORDER_BASE + dt.timedelta(days=int(d)) for d in days], pa.date32()
        ),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, n)],
    })


def lineitems(rng: np.random.Generator, orders_tbl: pa.Table) -> pa.Table:
    keys = orders_tbl.column("o_orderkey").to_numpy()
    odates = orders_tbl.column("o_orderdate").to_pylist()
    per = rng.integers(1, 8, len(keys))
    okey = np.repeat(keys, per)
    odate = [d for d, k in zip(odates, per) for _ in range(k)]
    lnum = np.concatenate([np.arange(1, k + 1) for k in per])
    m = len(okey)
    ship = rng.integers(1, 122, m)
    shipdate = [d + dt.timedelta(days=int(s)) for d, s in zip(odate, ship)]
    cutoff = dt.date(1995, 6, 17)
    return pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, m), pa.int64()),
        "l_extendedprice": _cents(rng.integers(90_000, 10_500_000, m)),
        "l_discount": _cents(rng.integers(0, 11, m), precision=4),
        "l_returnflag": [
            ("R", "A")[int(r)] if s <= cutoff else "N"
            for r, s in zip(rng.integers(0, 2, m), shipdate)
        ],
        "l_linestatus": ["F" if s <= cutoff else "O" for s in shipdate],
        "l_shipdate": pa.array(shipdate, pa.date32()),
    })


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def changelog(rng: np.random.Generator, n_changes: int, key_pool: np.ndarray,
              weights: np.ndarray, next_key: int, n_cust: int) -> pa.Table:
    """One CDC batch over ``orders``: skewed U/D keys drawn without
    replacement from ``key_pool`` (hot keys first), fresh I keys from
    ``next_key`` on. Keys are unique within a batch (a key appearing twice
    in one batch is a cardinality violation the engine rejects)."""
    n_ins = n_changes // 5
    n_del = n_changes // 5
    n_upd = n_changes - n_ins - n_del
    touched = rng.choice(key_pool, n_upd + n_del, replace=False, p=weights)
    keys = np.concatenate([touched, np.arange(next_key, next_key + n_ins)])
    ops = ["U"] * n_upd + ["D"] * n_del + ["I"] * n_ins
    body = orders(rng, len(keys), n_cust)
    body = body.set_column(0, "o_orderkey", pa.array(keys, pa.int64()))
    return body.append_column("op", pa.array(ops, pa.string()))


# -- documents --------------------------------------------------------------


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, n)
    return ["".join(rng.choice(letters, k)) for k in lens]


def documents(rng: np.random.Generator, vocab: list[str], n: int) -> list[str]:
    w = zipf_weights(len(vocab), 0.9)
    lens = rng.integers(40, 90, n)
    return [" ".join(vocab[i] for i in rng.choice(len(vocab), k, p=w)) for k in lens]


def rewrite(rng: np.random.Generator, vocab: list[str], text: str, share: float) -> str:
    """A near-duplicate: replace ``share`` of the words at random."""
    words = text.split(" ")
    for i in rng.choice(len(words), max(1, int(len(words) * share)), replace=False):
        words[i] = vocab[int(rng.integers(0, len(vocab)))]
    return " ".join(words)


def fingerprint(*tables: pa.Table) -> str:
    """Short content hash of generated inputs: two runs that print the
    same fingerprint fed the engine the same data."""
    h = hashlib.sha256()
    for t in tables:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as writer:
            writer.write_table(t.combine_chunks())
        h.update(sink.getvalue())
    return h.hexdigest()[:16]
