"""Inline job observability via ``df.observe`` (named Observations).

At 100 TB a separate "metrics job" re-scans the input and doubles the
cost; Spark's observation API instead evaluates aggregate expressions
INSIDE the job's own pass (accumulator-backed, zero extra scans or
shuffles) and surfaces them when the action completes. This module
wraps that surface for multi-point pipeline instrumentation: attach
metric points at several plan positions (post-scan, post-filter,
post-join, ...), run ONE action, read every point's metrics.

The reference has no analogue (its engine exposes no user-pluggable
in-flight metrics); this is Spark-native platform surface for the
quality/expectations family (`operators/quality.py`) — gates can be
driven from observed metrics without a second pass over the data.

Determinism: only use order-insensitive exact aggregates in metric
expressions (counts, integer sums, decimal sums, min/max) — the same
rule the query registry's oracle discipline imposes everywhere else.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession


class MetricPoint:
    """One named instrumentation point: wraps an Observation attached
    at a specific plan position."""

    def __init__(self, name: str):
        self.name = name
        self._obs = Observation(name)

    def attach(self, df: DataFrame, *metrics: Column) -> DataFrame:
        return df.observe(self._obs, *metrics)

    @property
    def metrics(self) -> dict:
        """Blocks until the observed action finished (Observation.get)."""
        return self._obs.get


def run_noop(df: DataFrame) -> None:
    """Drive the plan end-to-end with the built-in ``noop`` sink — a
    full distributed execution with zero output (the standard way to
    materialize observations / benchmark a plan without writing)."""
    df.write.format("noop").mode("overwrite").save()


def metrics_row(spark: SparkSession, *points: MetricPoint) -> DataFrame:
    """One-row DataFrame of every point's metrics, columns named
    ``<point>_<metric>`` in deterministic (point, metric-name) order."""
    names, vals = [], []
    for p in points:
        m = p.metrics
        for k in sorted(m):
            names.append(f"{p.name}_{k}")
            vals.append(m[k])
    return spark.createDataFrame([tuple(vals)], names)
