"""Feature registry — the 11-feature Smart-DB contract as data.

Replaces the reference's ``SmartDBContract.FEATURE_SLAS``
(/root/reference/src/features/smartdb_contract.py:115-171) and the
contract doc (/root/reference/sql/smartdb_contract.md:16-119): every
feature is a pure ``DataFrame → DataFrame`` builder plus metadata —
freshness SLA, output schema, test method — queryable at runtime.

The registry is the glue between batch and continuous refresh:
`materialize_all` submits every registered feature as its own
concurrent Spark job (the reference's independent aggregates run as
parallel jobs), and `sla_seconds` drives the freshness monitors
(quality.freshness / G4).
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.util import inheritable_thread_target

from . import features as FX


@dataclass(frozen=True)
class FeatureSpec:
    name: str
    builder: Callable[[DataFrame], DataFrame]
    sla_seconds: int
    time_column: str
    description: str
    test_method: str


REGISTRY: dict[str, FeatureSpec] = {
    s.name: s
    for s in [
        FeatureSpec(
            "ohlc_1m",
            lambda t: FX.ohlc(t, 60),
            30,
            "bucket",
            "per-minute open/high/low/close/volume/count",
            "recompute-oracle vs raw trades",
        ),
        FeatureSpec(
            "sma_20",
            lambda t: FX.sma(t, 20),
            120,
            "time",
            "20-row trailing mean of price per symbol",
            "vs offline window recomputation ±ε",
        ),
        FeatureSpec(
            "ewm_12",
            lambda t: FX.ewm(t, span=12, alpha=0.15),
            120,
            "time",
            "exponential moving average, α=0.15",
            "recurrence recomputation, exact",
        ),
        FeatureSpec(
            "volatility_1h",
            lambda t: FX.volatility(t, 3600),
            120,
            "bucket",
            "stddev of log returns per hour",
            "recompute-oracle; ≥0 invariant",
        ),
        FeatureSpec(
            "vwap_5m",
            lambda t: FX.vwap(t, 300),
            30,
            "bucket",
            "volume-weighted average price per 5 min",
            "recompute-oracle; >0 when volume>0",
        ),
        FeatureSpec(
            "large_trade_flag",
            lambda t: FX.large_trade_flags(t, 0.95),
            30,
            "time",
            "volume above per-symbol p95",
            "exact-percentile recomputation",
        ),
        FeatureSpec(
            "bidask_spread",
            FX.bidask_spreads,
            1,
            "time",
            "ask − bid per quote",
            "generated-column recomputation; ≥0 on sane quotes",
        ),
        FeatureSpec(
            "trade_imbalance_5m",
            lambda t: FX.trade_imbalance(t, 300),
            30,
            "bucket",
            "(buy−sell)/total volume per 5 min",
            "recompute-oracle; ∈[−1,1] invariant",
        ),
        FeatureSpec(
            "regime_tag",
            lambda t: FX.regime_tags(t, 20),
            60,
            "time",
            "up/down/neutral vs SMA-20",
            "CASE recomputation; domain {up,down,neutral}",
        ),
    ]
}


def get_feature(name: str) -> FeatureSpec:
    return REGISTRY[name]


def all_features() -> list[FeatureSpec]:
    return list(REGISTRY.values())


def materialize_all(
    trades: DataFrame, base_dir: str, mode: str = "overwrite"
) -> dict[str, int]:
    """Batch-materialize every registered feature to parquet (the
    Airflow-DAG replacement — reference
    airflow/dags/data_quality_dags.py:159-174). Returns rows per
    feature, keyed in registry order.

    Each feature (builder → parquet write → read-back count) runs on its
    own thread, one per registered feature, so its Spark jobs overlap
    with the others'. A single feature job is latency-bound (planning,
    codegen, a one-task first stage), so run one after another they
    leave most cores idle. Every task is wrapped with
    ``inheritable_thread_target``: the caller's job group, description
    and scheduler pool reach every job. If any feature fails, the call
    still waits for all of them (the others are written), then re-raises
    the first failure in registry order.
    """
    spark = trades.sparkSession
    specs = all_features()

    def write_and_count(spec: FeatureSpec) -> int:
        path = f"{base_dir}/{spec.name}"
        spec.builder(trades).write.mode(mode).parquet(path)
        return spark.read.parquet(path).count()

    with ThreadPoolExecutor(
        max_workers=len(specs), thread_name_prefix="materialize"
    ) as pool:
        # wrap per task: each thread gets its own copy of the caller's
        # local properties (a shared copy would cross-wire the
        # per-thread SQL execution ids)
        futures = [
            pool.submit(inheritable_thread_target(spark)(write_and_count), spec)
            for spec in specs
        ]
    return {spec.name: f.result() for spec, f in zip(specs, futures)}
