"""DuckDB correctness checks, run outside every timed region.

Result tables are compared as multisets after rounding every DOUBLE
column to 6 places on both sides (the repository's ROUND(x, 6)
convention): ``diff`` returns the number of rows present on one side
and not the other, so 0 means equal.
"""

from __future__ import annotations

import duckdb

# registry feature name -> oracle name in __spark_entry__.ORACLES
FEATURE_ORACLES = {
    "ohlc_1m": "ohlc_1m",
    "sma_20": "sma_20",
    "ewm_12": "ewm_12",
    "volatility_1h": "volatility_1h",
    "vwap_5m": "vwap_5m",
    "large_trade_flag": "large_trade_flags",
    "bidask_spread": "bidask_spreads",
    "trade_imbalance_5m": "trade_imbalance_5m",
    "regime_tag": "regime_tags",
}


def connect(threads: int = 4) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _rounded(con, rel: str, cols: list[str]) -> str:
    types = {r[0]: r[1] for r in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()}
    sel = []
    for c in cols:
        t = types[c]
        if t == "DOUBLE":
            sel.append(f'ROUND("{c}", 6) AS "{c}"')
        elif t.startswith("TIMESTAMP"):
            sel.append(f'CAST("{c}" AS TIMESTAMP) AS "{c}"')
        else:
            sel.append(f'"{c}"')
    return f"SELECT {', '.join(sel)} FROM {rel}"


def diff(con, got: str, exp: str) -> int:
    """Rows in the symmetric multiset difference of two relations
    (table names or parenthesised queries), over ``exp``'s columns."""
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {exp}").fetchall()]
    g, e = _rounded(con, got, cols), _rounded(con, exp, cols)
    n = con.execute(
        f"SELECT (SELECT count(*) FROM ({g} EXCEPT ALL {e})) + "
        f"(SELECT count(*) FROM ({e} EXCEPT ALL {g}))"
    ).fetchone()[0]
    return int(n)


def parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning=false)"


def backfill_features(con, events_path: str, out_dir: str) -> dict[str, int]:
    """Per registry feature: rows differing between the materialized
    parquet and the feature's oracle SQL over the generated events."""
    import __spark_entry__ as E

    con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
    out = {}
    for feature, oname in FEATURE_ORACLES.items():
        got = parquet(f"{out_dir}/{feature}")
        if feature == "ewm_12":
            out[feature] = ewm_recurrence_diff(con, got)
            continue
        con.execute(f"CREATE OR REPLACE TEMP TABLE exp AS {E.ORACLES[oname]}")
        if feature == "regime_tag":
            got, exp = _tie_tagged(got), _tie_tagged("exp")
        else:
            exp = "exp"
        out[feature] = diff(con, got, exp)
    return out


def ewm_recurrence_diff(con, got: str, alpha: float = 0.15) -> int:
    """ewm_12 without the O(n^2) ``list_reduce`` oracle (14 s at 1e5
    trades): the output rows must be exactly the trades (time, symbol,
    trade_id, price), the first value per symbol must equal its first
    price, and every later value must satisfy the recurrence
    y = a*x + (1-a)*y_prev against the previous output row within 1e-9.
    The recurrence contracts errors by (1-a) per step, so every value is
    then within 1e-9/a of the exact sequence, below the ROUND(x, 6)
    resolution the other checks use."""
    from open_source_financial_time_series_data_pipeline_architecture_spark.schema import (
        oracle as with_trades,
    )

    con.execute("CREATE OR REPLACE TEMP TABLE exp_trades AS "
                + with_trades("SELECT time, symbol, trade_id, price FROM trades"))
    bad = diff(con, f"(SELECT time, symbol, trade_id, price FROM {got})", "exp_trades")
    bad += con.execute(f"""
        SELECT count(*) FROM (
          SELECT price, ewm_12,
                 lag(ewm_12) OVER (PARTITION BY symbol ORDER BY time, trade_id) AS prev
          FROM {got})
        WHERE (prev IS NULL AND ewm_12 <> price)
           OR (prev IS NOT NULL AND abs(ewm_12 - ({alpha} * price + {1 - alpha} * prev)) > 1e-9)
    """).fetchone()[0]
    return int(bad)


def _tie_tagged(rel: str) -> str:
    """regime_tag is 'neutral' only when price equals sma_20 exactly, and
    Spark's and DuckDB's window averages of equal prices differ in the
    last bits; within 1e-9 of a tie either tag is accepted."""
    return (f"(SELECT * REPLACE (CASE WHEN abs(price - sma_20) <= 1e-9 THEN 'tie' "
            f"ELSE regime_tag END AS regime_tag) FROM {rel})")


def _cols(con, rel: str) -> list[str]:
    return [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()]


def latest_per_symbol(con, rels: dict[str, str]) -> str:
    """SQL for the online store's expected wide row per symbol: each
    feature view's latest row by ``bucket`` (``rels``: view -> relation)."""
    parts = []
    for v, rel in rels.items():
        sel = ", ".join(f'arg_max("{c}", bucket) AS "{v}__{c}"'
                        for c in _cols(con, rel) if c not in ("symbol", "bucket"))
        parts.append(f'(SELECT symbol, {sel}, max(bucket) AS "{v}__ts" '
                     f"FROM {rel} GROUP BY symbol)")
    sql = parts[0] + " AS v0"
    for i, p in enumerate(parts[1:], 1):
        sql += f" FULL OUTER JOIN {p} AS v{i} USING (symbol)"
    return f"(SELECT * FROM {sql})"


def rows_relation(con, name: str, rows: list[dict]) -> str:
    """Register Python result rows as a DuckDB relation."""
    import pandas as pd

    con.register(name, pd.DataFrame(rows))
    return name


ONLINE_VIEWS = ("ohlc_1m", "vwap_5m", "trade_imbalance_5m")


def online_store_diff(con, feature_dir: str, rows: list[dict]) -> int:
    exp = latest_per_symbol(con, {v: parquet(f"{feature_dir}/{v}") for v in ONLINE_VIEWS})
    return diff(con, rows_relation(con, "got_store", rows), exp)


def online_get_diff(con, base_events: str, batches: list[str], gets: list[tuple]) -> int:
    """``gets``: (kind, symbol, rows, version) where version is the number
    of refresh batches folded in before the lookup. Expected rows come
    from the feature oracles over the base events plus those batches."""
    import __spark_entry__ as E

    bad = 0
    for version in sorted({g[3] for g in gets}):
        files = ", ".join(f"'{f}'" for f in [base_events, *batches[:version]])
        con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet([{files}])")
        for v in ONLINE_VIEWS:
            con.execute(f"CREATE OR REPLACE TEMP TABLE exp_{v} AS {E.ORACLES[v]}")
        con.execute("CREATE OR REPLACE TEMP TABLE exp_store AS SELECT * FROM "
                    + latest_per_symbol(con, {v: f"exp_{v}" for v in ONLINE_VIEWS}))
        mine = [g for g in gets if g[3] == version]
        got = [row for g in mine for row in g[2]]
        rows_relation(con, "req_syms", [{"symbol": g[1]} for g in mine])
        exp = "(SELECT e.* FROM req_syms JOIN exp_store e USING (symbol))"
        bad += diff(con, rows_relation(con, "got_gets", got), exp)
    return bad


def _latest_asof(rel: str, time_cols: str, select: str) -> str:
    """Per request: the latest row of ``rel`` for the request's symbol at
    or before its as_of, ordered by ``time_cols`` descending."""
    order = ", ".join(f"f.{c} DESC" for c in time_cols.split(","))
    first = time_cols.split(",")[0]
    return (f"(SELECT req, {select} FROM (SELECT r.req, f.*, row_number() OVER "
            f"(PARTITION BY r.req ORDER BY {order}) AS rn FROM pit_reqs r JOIN {rel} f "
            f"ON f.symbol = r.symbol AND f.{first} <= r.as_of) WHERE rn = 1)")


def pit_diff(con, feature_dir: str, pits: list[tuple]) -> int:
    """``pits``: (kind, (symbol, as_of), rows, version). Expected: each
    feature's latest row at or before as_of, from the feature tables."""
    if not pits:
        return 0
    rows_relation(con, "pit_reqs", [{"req": i, "symbol": p[1][0], "as_of": p[1][1]}
                                    for i, p in enumerate(pits)])
    got = [{"req": i, **row} for i, p in enumerate(pits) for row in p[2]]
    f = lambda v: parquet(f"{feature_dir}/{v}")  # noqa: E731
    parts = {
        "o": _latest_asof(f("ohlc_1m"), "bucket", "open AS ohlc_open, high AS ohlc_high, "
                          "low AS ohlc_low, close AS ohlc_close, volume AS ohlc_volume"),
        "s": _latest_asof(f("sma_20"), "time,trade_id", "sma_20"),
        "v": _latest_asof(f("vwap_5m"), "bucket", "vwap AS vwap_5m"),
        "vl": _latest_asof(f("volatility_1h"), "bucket", "volatility AS volatility_1h"),
        "i": _latest_asof(f("trade_imbalance_5m"), "bucket",
                          "trade_imbalance AS trade_imbalance_5m"),
    }
    sql = "(SELECT r.req, r.symbol, r.as_of AS snapshot_time, o.* EXCLUDE (req), " \
          "s.* EXCLUDE (req), v.* EXCLUDE (req), vl.* EXCLUDE (req), i.* EXCLUDE (req) " \
          "FROM pit_reqs r " + " ".join(
              f"LEFT JOIN {q} AS {a} ON {a}.req = r.req" for a, q in parts.items()) + ")"
    return diff(con, rows_relation(con, "got_pit", got), sql)


def historical_diff(con, feature_dir: str, hists: list[tuple]) -> int:
    """``hists``: (kind, entity rows, rows, version). Expected: DuckDB
    ASOF joins of the entity rows against the ohlc_1m and vwap_5m tables."""
    if not hists:
        return 0
    ent = [{"entity_id": e[0], "symbol": e[1], "event_timestamp": e[2]}
           for h in hists for e in h[1]]
    rows_relation(con, "hist_ent", ent)
    got = [row for h in hists for row in h[2]]
    sel, joins = [], []
    for v in ("ohlc_1m", "vwap_5m"):
        rel = parquet(f"{feature_dir}/{v}")
        sel += [f'{v}."{c}" AS "{v}__{c}"' for c in _cols(con, rel) if c not in ("symbol", "bucket")]
        joins.append(f"ASOF LEFT JOIN {rel} AS {v} ON e.symbol = {v}.symbol "
                     f"AND e.event_timestamp >= {v}.bucket")
    sql = (f"(SELECT e.entity_id, e.symbol, e.event_timestamp, {', '.join(sel)} "
           f"FROM hist_ent e {' '.join(joins)})")
    return diff(con, rows_relation(con, "got_hist", got), sql)
