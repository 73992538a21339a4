"""Self-tests of the benchmark's own machinery (no Spark session needed).

    python3 perfbench/run.py --selftest

1. Generator determinism: the same seed gives byte-identical events
   parquet and topic files; a different seed gives different bytes.
2. Checks catch wrong results: feature tables computed by the DuckDB
   oracles pass the feature checks, and perturbing one value in any of
   them or in an online-store row makes the matching check fail and
   counts the operation as failed in a run's tally. (The serving, cagg
   and streaming checks compare through the same ``oracle.diff``.)
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import sys
import tempfile

import numpy as np

import gen
import oracle


def _events_bytes(seed: int, d: str) -> bytes:
    rng = np.random.default_rng(seed)
    names = gen.symbol_names(20)
    path = os.path.join(d, f"events-{seed}-{len(os.listdir(d))}.parquet")
    gen.write_events(path, gen.events_table(gen.trades(rng, 5000, 20, 1.1), names))
    with open(path, "rb") as fh:
        return fh.read()


def _topic_bytes(seed: int, d: str) -> bytes:
    from wl_stream import Feed, N_SYMBOLS, T0_US

    feed = Feed(np.random.default_rng(seed), gen.symbol_names(N_SYMBOLS))
    feed.add("A", 300, T0_US)
    sub = tempfile.mkdtemp(dir=d)
    f = feed.files[0]
    with open(gen.publish(sub, f["name"], f["lines"]), "rb") as fh:
        return fh.read()


def check_generators(d: str) -> list[str]:
    errors = []
    for name, fn in (("events parquet", _events_bytes), ("topic file", _topic_bytes)):
        a, b, c = fn(7, d), fn(7, d), fn(8, d)
        if a != b:
            errors.append(f"{name}: same seed gave different bytes")
        if a == c:
            errors.append(f"{name}: different seeds gave identical bytes")
        print(f"generator {name}: seed 7 md5 {hashlib.md5(a).hexdigest()} "
              f"x2 {'equal' if a == b else 'DIFFERENT'}; seed 8 "
              f"{'differs' if a != c else 'EQUAL'}")
    return errors


def _write_oracle_features(con, events: str, out_dir: str) -> None:
    """Feature tables as the engine would write them, computed by DuckDB."""
    import __spark_entry__ as E

    con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{events}')")
    for feature, oname in oracle.FEATURE_ORACLES.items():
        os.makedirs(f"{out_dir}/{feature}")
        sql = E.ORACLES[oname]
        if feature == "ewm_12":
            # the engine writes ewm_12 unrounded; the oracle rounds it
            sql = _ewm_unrounded(con, E.ORACLES["sma_20"])
        con.execute(f"COPY ({sql}) TO '{out_dir}/{feature}/part-0.parquet' (FORMAT PARQUET)")


def _ewm_unrounded(con, trades_sql: str, alpha: float = 0.15) -> str:
    """The engine's recurrence y = a*x + (1-a)*y_prev per symbol, in
    Python, registered as a relation."""
    df = con.execute(f"SELECT time, symbol, trade_id, price FROM ({trades_sql}) "
                     "ORDER BY symbol, time, trade_id").df()
    out, acc, prev_sym = [], None, None
    for sym, x in zip(df["symbol"], df["price"]):
        acc = x if sym != prev_sym else alpha * x + (1.0 - alpha) * acc
        prev_sym = sym
        out.append(acc)
    df["ewm_12"] = out
    con.register("ewm_df", df)
    return "SELECT * FROM ewm_df"


def _perturb(con, path: str, column: str) -> None:
    """Change ``column`` in the first row of a parquet file."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE p AS SELECT * FROM read_parquet('{path}')")
    con.execute("CREATE OR REPLACE TEMP TABLE p1 AS SELECT *, row_number() OVER () AS __rn FROM p")
    typ = dict((r[0], r[1]) for r in con.execute("DESCRIBE p").fetchall())[column]
    new = {"DOUBLE": f'"{column}" + 1.0', "BOOLEAN": f'NOT "{column}"',
           "VARCHAR": f"\"{column}\" || 'x'"}.get(typ, f'"{column}" + 1')
    con.execute(f"""COPY (SELECT * EXCLUDE (__rn) REPLACE (CASE WHEN __rn = 1 THEN {new}
                    ELSE "{column}" END AS "{column}") FROM p1) TO '{path}' (FORMAT PARQUET)""")


PERTURB_COLUMN = {
    "ohlc_1m": "close", "sma_20": "sma_20", "ewm_12": "ewm_12",
    "volatility_1h": "sample_count", "vwap_5m": "vwap", "large_trade_flag": "large_trade_flag",
    "bidask_spread": "bidask_spread", "trade_imbalance_5m": "buy_volume", "regime_tag": "price",
}


def check_checks(d: str) -> list[str]:
    from run import Run

    errors = []
    rng = np.random.default_rng(3)
    names = gen.symbol_names(20)
    events = os.path.join(d, "events.parquet")
    gen.write_events(events, gen.events_table(gen.trades(rng, 3000, 20, 1.1), names))
    con = oracle.connect()
    base = os.path.join(d, "features")
    _write_oracle_features(con, events, base)
    clean = oracle.backfill_features(con, events, base)
    if any(clean.values()):
        errors.append(f"oracle-computed features do not pass their own checks: {clean}")
    print(f"feature checks on oracle-computed tables: {clean}")

    run = Run(argparse.Namespace(workload="selftest", seed=0, seconds=1, trace=0), d)
    for feature, column in PERTURB_COLUMN.items():
        bad_dir = os.path.join(d, f"bad-{feature}")
        shutil.copytree(base, bad_dir)
        _perturb(con, f"{bad_dir}/{feature}/part-0.parquet", column)
        diffs = oracle.backfill_features(con, events, bad_dir)
        run.attempted += 1
        run.check(f"perturbed {feature}.{column}", lambda f=feature: diffs[f] == 0)
        others = {k: v for k, v in diffs.items() if k != feature and v}
        print(f"perturbed {feature}.{column}: diff {diffs[feature]} rows"
              + (f", other features {others}" if others else ""))
        if diffs[feature] == 0 or others:
            errors.append(f"perturbing {feature}.{column} was not caught exactly: {diffs}")

    # online store rows: latest per symbol of the oracle tables, one value changed
    exp = oracle.latest_per_symbol(con, {v: oracle.parquet(f"{base}/{v}") for v in oracle.ONLINE_VIEWS})
    rows = con.execute(f"SELECT * FROM {exp}").df().to_dict("records")
    ok_clean = oracle.online_store_diff(con, base, rows) == 0
    rows[0]["vwap_5m__vwap"] += 0.01
    run.attempted += 1
    caught = not run.check("perturbed online store row",
                           lambda: oracle.online_store_diff(con, base, rows) == 0)
    print(f"online store: clean rows pass {ok_clean}, perturbed row caught {caught}")
    if not (ok_clean and caught):
        errors.append("online store check did not separate clean and perturbed rows")

    expected_failed = len(PERTURB_COLUMN) + 1
    share = 1.0 - run.failed / run.attempted
    print(f"run tally after {run.attempted} perturbed operations: failed {run.failed}, "
          f"ok_share {share:.3f}")
    if run.failed != expected_failed:
        errors.append(f"tally counted {run.failed} failed, expected {expected_failed}")
    con.close()
    return errors


def main() -> int:
    scratch = os.path.join(os.getcwd(), ".perfbench_run")
    os.makedirs(scratch, exist_ok=True)
    d = tempfile.mkdtemp(prefix="selftest-", dir=scratch)
    try:
        errors = check_generators(d) + check_checks(d)
    finally:
        shutil.rmtree(d, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass
    for e in errors:
        print("FAIL:", e, file=sys.stderr)
    print("selftest:", "FAIL" if errors else "PASS")
    return 1 if errors else 0
