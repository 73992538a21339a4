"""Seeded input generators for the benchmark.

Everything the engine sees is produced here from a ``numpy`` seed, so one
seed gives byte-identical inputs:

- ``trades``: a columnar trade set (Zipf symbol popularity, per-symbol
  geometric random walk prices, timestamps at microsecond precision);
- ``write_events``: that set as an ``events`` parquet file in the
  physical schema of the test fixtures (``event_id`` int64, ``ts``
  timestamp[us], ``user_id`` int64, ``event_type``, ``value``,
  ``props`` = ``{"k": n}``), so ``load_table`` -> ``trades_from_events``
  runs unchanged;
- ``trade_record`` / ``malformed_line``: JSON-lines records matching
  ``streaming.jobs.TRADE_JSON_SCHEMA``, and lines the parser must reject;
- ``publish``: an atomic (temp file + rename) topic-file write.

The trade mapping mirrors ``schema.trades_from_events``: symbol =
event_type, price = value, volume = 1 + k, trade_id = str(event_id),
side from user_id % 3, bid/ask = price -/+ (1 + k % 10) / 200 unless
k % 7 == 0.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def to_datetime(us: int) -> dt.datetime:
    """Naive UTC datetime of an epoch-microsecond value."""
    return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))


def symbol_names(n_symbols: int) -> np.ndarray:
    return np.array([f"S{i:04d}" for i in range(n_symbols)], dtype=object)


def zipf_draw(rng: np.random.Generator, n_keys: int, skew: float, size: int) -> np.ndarray:
    """``size`` key indices in [0, n_keys) with P(i) ~ 1 / (i + 1) ** skew."""
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** skew
    return rng.choice(n_keys, size=size, p=w / w.sum())


def trades(
    rng: np.random.Generator,
    n: int,
    n_symbols: int,
    skew: float,
    start_us: int = EPOCH_2024_US,
    span_s: float = 86_400.0,
    first_id: int = 0,
) -> dict[str, np.ndarray]:
    """``n`` trades over ``span_s`` seconds from ``start_us``, sorted by time.

    Returns columns: event_id, ts_us, user_id, sym (index), value, k.
    """
    sym = zipf_draw(rng, n_symbols, skew, n)
    ts_us = np.sort(start_us + rng.integers(0, int(span_s * 1e6), size=n))
    # per-symbol geometric random walk around a per-symbol base price
    base = 20.0 + 180.0 * np.random.default_rng(n_symbols).random(n_symbols)
    steps = rng.normal(0.0, 0.002, size=n)
    order = np.lexsort((np.arange(n), sym))
    walk = np.empty(n)
    s_sorted = sym[order]
    c = np.cumsum(steps[order])
    first = np.r_[0, np.flatnonzero(np.diff(s_sorted)) + 1]
    offset = np.repeat(c[first] - steps[order][first], np.diff(np.r_[first, n]))
    walk[order] = c - offset
    value = np.round(base[sym] * np.exp(walk), 2)
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts_us": ts_us.astype(np.int64),
        "user_id": rng.integers(0, 1000, size=n).astype(np.int64),
        "sym": sym,
        "value": value,
        "k": rng.integers(0, 100, size=n).astype(np.int64),
    }


def events_table(t: dict[str, np.ndarray], names: np.ndarray) -> pa.Table:
    props = np.char.add(np.char.add('{"k": ', t["k"].astype(str)), "}")
    return pa.table(
        {
            "event_id": pa.array(t["event_id"], pa.int64()),
            "ts": pa.array(t["ts_us"], pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(t["user_id"], pa.int64()),
            "event_type": pa.array(names[t["sym"]].tolist(), pa.string()),
            "value": pa.array(t["value"], pa.float64()),
            "props": pa.array(props.tolist(), pa.string()),
        },
        schema=EVENTS_SCHEMA,
    )


def write_events(path: str, table: pa.Table) -> None:
    """Write ``table`` as ``events.parquet``-shaped data (atomic rename)."""
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy", row_group_size=1 << 20)
    os.replace(tmp, path)


def trade_record(t: dict[str, np.ndarray], i: int, names: np.ndarray) -> dict:
    """Row ``i`` of ``t`` as a TRADE_JSON_SCHEMA record (epoch-ms time,
    stringified decimals)."""
    k = int(t["k"][i])
    price = float(t["value"][i])
    side = ("buy", "sell", None)[int(t["user_id"][i]) % 3]
    rec = {
        "time": int(t["ts_us"][i] // 1000),
        "symbol": str(names[t["sym"][i]]),
        "price": repr(price),
        "volume": repr(float(1 + k)),
        "trade_id": str(int(t["event_id"][i])),
        "side": side,
        "bid": None,
        "ask": None,
        "source": "bench",
    }
    if k % 7:
        half = (1 + k % 10) / 200.0
        rec["bid"] = repr(price - half)
        rec["ask"] = repr(price + half)
    return rec


def malformed_line(rng: np.random.Generator, i: int) -> str:
    """A line the parser must route to the DLQ: broken JSON or a record
    missing a contract-required field."""
    if rng.random() < 0.5:
        return '{"time": %d, "symbol": "S0000", "price": ' % i
    return json.dumps({"time": i, "symbol": None, "price": "1.0", "volume": "1"})


def publish(topic_dir: str, name: str, lines: list[str]) -> str:
    """Atomically publish one topic file: write a dot-temp file (the file
    source skips hidden files), then rename it into place."""
    tmp = os.path.join(topic_dir, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    final = os.path.join(topic_dir, name)
    os.replace(tmp, final)
    return final
