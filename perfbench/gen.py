"""Seeded input generators and their exact expected answers.

Two input shapes, both written as one parquet file:

* ``events``: the driver's ``events`` table (event_id, ts, user_id,
  event_type, value, props). Timestamps, event types and values follow
  the committed fixtures (see FIXTURE below). Users and props come in two
  forms: the fixtures' own (uniform users, short ``{"k": N}`` props), or
  hot (Zipf users, long random printable ASCII props, which compress
  poorly).
* ``records``: the engine's record-log shape (partition, offset,
  timestamp, key, value). Keys are 36 bytes drawn uniformly from a space
  twice the record count, so most keys are written once.

Each generator also computes, with numpy and without Spark, the answer
the engine must give: the per-partition report rows, the topic summary
and the alive-key count. For ``events`` the answer follows the
``EventsAsRecords`` mapping: ``user_id % 8`` partitions, ``user_id % 19``
null keys, ``event_id % 13`` tombstones, offsets by ``event_id`` order.
"""

import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The committed events fixtures (sf0.001, sf0.01 and sf0.1 alike), read
# with DuckDB: ts is TIMESTAMP_NTZ in microseconds, increasing with
# event_id, with exponential gaps that span 30 days from 2024-01-01 at
# every scale (sf0.1: mean gap 25.9 s, median 17.8 s); event_type uniform
# over five values; value exponential with mean 50, two decimals (sf0.1:
# mean 49.9, median 34.8); user_id uniform over 15 users per 1000 events
# (sf0.1: 1500 users, 45..99 events each); props '{"k": N}' with N
# uniform over 0..99 (8 or 9 bytes).
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400 * 1_000_000
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
VALUE_MEAN = 50.0
PROPS_K = 100
# hot users: a bounded Zipf over user ranks
ZIPF_S = 1.1
# the record-shaped topic: 16 partitions, values of 20..1000 random
# bytes, 10% tombstones, 2% null keys
N_PARTS = 16
VALUE_BYTES = (20, 1000)
TOMB_SHARE = 0.10
NULL_KEY_SHARE = 0.02


def _strings(rng, n, lo, hi, binary=False):
    """n random values of lo..hi bytes (inclusive) as one arrow array."""
    lens = rng.integers(lo, hi + 1, size=n, dtype=np.int64)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    if binary:
        data = rng.integers(0, 256, size=int(offsets[-1]), dtype=np.uint8)
    else:
        # printable ASCII without '"' and '\\': one byte per char
        alphabet = np.frombuffer(
            bytes(c for c in range(33, 127) if c not in (34, 92)), dtype=np.uint8)
        data = alphabet[rng.integers(0, len(alphabet), size=int(offsets[-1]))]
    typ = pa.large_binary() if binary else pa.large_string()
    arr = pa.Array.from_buffers(
        typ, n, [None, pa.py_buffer(offsets), pa.py_buffer(data.tobytes())])
    return arr, lens


def _timestamps(rng, n):
    """n increasing epoch micros: exponential gaps over SPAN_US."""
    return BASE_US + np.cumsum(rng.exponential(SPAN_US / n, size=n).astype(np.int64))


def _with_nulls(arr, null_mask):
    return pa.Array.from_buffers(
        arr.type, len(arr),
        [pa.py_buffer(np.packbits(~null_mask, bitorder="little").tobytes())]
        + arr.buffers()[1:],
        null_count=int(null_mask.sum()))


def java_4f(x):
    """``x`` as Java's ``String.format("%.4f")`` prints it: half-up on the
    shortest decimal form (Python's "%.4f" rounds 10.15625 half-even)."""
    return str(Decimal(repr(float(x))).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _decimal_digits(x):
    return np.floor(np.log10(np.maximum(x, 1))).astype(np.int64) + 1


def _answer(partition, n_parts, key_null, key_len, tomb, val_len, ts_us,
            last_write_alive):
    """The report the engine must produce, from per-record columns."""
    key_len = np.where(key_null, 0, key_len)
    val_len = np.where(tomb, 0, val_len)

    def per_part(weights=None):
        return np.bincount(partition, weights=weights, minlength=n_parts)

    total = per_part().astype(np.int64)
    tombstones = per_part(tomb).astype(np.int64)
    alive = total - tombstones
    k_null = per_part(key_null).astype(np.int64)
    # integer sums: bincount weights go through float64, exact below 2^53
    key_bytes = per_part(key_len).astype(np.int64)
    value_bytes = per_part(val_len).astype(np.int64)
    rows = []
    for p in range(n_parts):
        if total[p] == 0:
            continue
        pb = int(key_bytes[p] + value_bytes[p])

        def avg(b):
            return int(b) // int(alive[p]) if alive[p] > 0 and b > 0 else 0

        rows.append({
            "partition": p, "start_offset": 0, "end_offset": int(total[p]),
            "total": int(total[p]), "alive": int(alive[p]),
            "tombstones": int(tombstones[p]),
            "dirty_ratio": java_4f(tombstones[p] * 100.0 / total[p]
                                   if tombstones[p] > 0 else 0.0),
            "key_null": int(k_null[p]), "key_non_null": int(total[p] - k_null[p]),
            "p_bytes": pb, "key_bytes": int(key_bytes[p]),
            "value_bytes": int(value_bytes[p]),
            "avg_key_size": avg(key_bytes[p]), "avg_value_size": avg(value_bytes[p]),
            "avg_msg_size": avg(pb),
        })
    msg = (key_len + val_len)[~tomb]
    return {
        "partitions": rows,
        "summary": {
            "overall_count": int(total.sum()),
            "overall_bytes": int(key_bytes.sum() + value_bytes.sum()),
            "smallest_msg": int(msg.min()) if len(msg) else 0,
            "largest_msg": int(msg.max()) if len(msg) else 0,
            "earliest_us": int(ts_us.min()), "latest_us": int(ts_us.max()),
        },
        "alive_keys": int(last_write_alive),
    }


def _last_write_alive(key_id, order, tomb):
    """Keys whose last write (greatest ``order``) is not a tombstone."""
    idx = np.lexsort((order, key_id))
    k = key_id[idx]
    last = np.ones(len(k), dtype=bool)
    last[:-1] = k[1:] != k[:-1]
    return int((~tomb[idx][last]).sum())


def events(out_dir, seed, n_rows, n_users, hot_props=None):
    """Write ``out_dir/events.parquet`` and return its expected answer.

    With ``hot_props=None`` users and props take the fixtures' form. With
    ``hot_props=(lo, hi)`` users are Zipf-distributed, so keys are hot,
    and props are lo..hi random printable ASCII bytes."""
    rng = np.random.default_rng(seed)
    if hot_props is None:
        user_id = rng.integers(0, n_users, size=n_rows, dtype=np.int64)
    else:
        cdf = np.cumsum(1.0 / np.arange(1, n_users + 1) ** ZIPF_S)
        rank = np.searchsorted(cdf / cdf[-1], rng.random(n_rows), side="right")
        # Ranks map to ids by a shuffle that is the same for every seed:
        # which users are hot sets the skew across the user_id % 8
        # partitions, and that skew must not vary by seed.
        ids = np.random.default_rng(0).permutation(n_users)
        user_id = ids[np.minimum(rank, n_users - 1)].astype(np.int64)
    event_id = np.arange(n_rows, dtype=np.int64)
    ts_us = _timestamps(rng, n_rows)
    if hot_props is None:
        k = rng.integers(0, PROPS_K, size=n_rows)
        props = pa.array(np.char.add(np.char.add('{"k": ', k.astype("U2")), "}"))
        prop_len = np.where(k < 10, 8, 9)
    else:
        props, prop_len = _strings(rng, n_rows, hot_props[0], hot_props[1])
        props = props.cast(pa.string())
    table = pa.table({
        "event_id": event_id,
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
        "user_id": user_id,
        "event_type": pa.array(np.array(EVENT_TYPES)[
            rng.integers(0, len(EVENT_TYPES), size=n_rows)]),
        "value": np.round(rng.exponential(VALUE_MEAN, size=n_rows), 2),
        "props": props,
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"),
                   row_group_size=128 * 1024)
    key_null = user_id % 19 == 0
    tomb = event_id % 13 == 0
    keyed = ~key_null
    return _answer((user_id % 8).astype(np.int64), 8, key_null,
                   _decimal_digits(user_id), tomb, prop_len, ts_us,
                   _last_write_alive(user_id[keyed], event_id[keyed], tomb[keyed]))


def records(out_path, seed, n_rows):
    """Write a RecordSchema-shaped parquet file and return its answer."""
    rng = np.random.default_rng(seed)
    key_id = rng.integers(0, 2 * n_rows, size=n_rows, dtype=np.int64)
    key_null = rng.random(n_rows) < NULL_KEY_SHARE
    tomb = rng.random(n_rows) < TOMB_SHARE
    # keyed records land on their key's partition, as Kafka's default
    # partitioner does; null-key records spread uniformly
    partition = np.where(key_null, rng.integers(0, N_PARTS, size=n_rows),
                         key_id % N_PARTS).astype(np.int64)
    offset = np.empty(n_rows, dtype=np.int64)
    for p in range(N_PARTS):
        m = partition == p
        offset[m] = np.arange(int(m.sum()), dtype=np.int64)
    ts_us = _timestamps(rng, n_rows)
    # 36-byte keys: "key-" and the id as 32 zero-padded digits
    key_bytes = np.char.add(b"key-", np.char.zfill(key_id.astype("S32"), 32))
    keys = pa.Array.from_buffers(
        pa.binary(), n_rows,
        [None, pa.py_buffer(np.arange(0, 36 * (n_rows + 1), 36, dtype=np.int32)),
         pa.py_buffer(key_bytes.astype("S36").tobytes())])
    vals, val_len = _strings(rng, n_rows, *VALUE_BYTES, binary=True)
    table = pa.table({
        "partition": pa.array(partition.astype(np.int32)),
        "offset": offset,
        "timestamp": pa.array(ts_us, type=pa.timestamp("us", tz="UTC")),
        "key": _with_nulls(keys, key_null),
        "value": _with_nulls(vals, tomb).cast(pa.binary()),
    })
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    pq.write_table(table, out_path, row_group_size=128 * 1024)
    keyed = ~key_null
    # a key's records share one partition, so (partition, offset) order is
    # record order within it
    return _answer(partition, N_PARTS, key_null, np.full(n_rows, 36), tomb,
                   val_len, ts_us,
                   _last_write_alive(key_id[keyed], np.arange(n_rows)[keyed],
                                     tomb[keyed]))

