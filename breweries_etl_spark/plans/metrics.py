"""Observability (SURVEY.md §2.12 X4).

The reference defines per-stage duration histograms, byte gauges, and
record counters pushed to a Prometheus Pushgateway
(ref: U/metrics.py:23-126). Here:

- ``MetricsRegistry`` keeps the same metric-name surface in-process.
- Row-level counters ride the job itself via ``df.observe`` (zero extra
  pass — an ``.observe`` aggregates during the action that materializes
  the frame, unlike the reference's extra len()/nunique() passes).
- Pushgateway export is optional and gated behind an import-try: the
  engine never requires prometheus_client.

Deliberately NOT replicated: the reference's ``finally:`` blocks that
increment *failure* counters on every success
(ref: T/landing_to_bronze.py:156-157,201-202 — SURVEY.md §2.12 bug list).
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sanitize_metric_name(name: str) -> str:
    """Prometheus metric names are [a-zA-Z_:][a-zA-Z0-9_:]*."""
    out = "".join(c if c.isalnum() or c in "_:" else "_" for c in name)
    return out if not out[:1].isdigit() else "_" + out


@dataclass
class MetricsRegistry:
    counters: dict[str, float] = field(default_factory=dict)
    gauges: dict[str, float] = field(default_factory=dict)
    durations: dict[str, float] = field(default_factory=dict)

    def inc(self, name: str, value: float = 1.0) -> None:
        self.counters[name] = self.counters.get(name, 0.0) + value

    def set_gauge(self, name: str, value: float) -> None:
        self.gauges[name] = value

    @contextmanager
    def time_operation(self, operation: str, layer: str):
        """Duration histogram analog (ref: U/metrics.py:95-126): failure
        counters increment only on actual failure."""
        start = time.monotonic()
        try:
            yield self
        except Exception:
            self.inc(f"{layer}_{operation}_failures")
            raise
        finally:
            self.durations[f"{layer}_{operation}_seconds"] = time.monotonic() - start

    def exposition(self, prefix: str = "brewery_etl_") -> str:
        """Prometheus text exposition format (the surface the reference's
        Pushgateway + Grafana dashboards scrape, ref: U/metrics.py:23-126,
        monitoring/grafana/provisioning/dashboards/airflow_dashboard.json).
        Counters emit TYPE counter; gauges and durations emit TYPE gauge —
        name-compatible with the checked-in dashboard JSON
        (monitoring/grafana/dashboards/), so pointing a Pushgateway at
        ``push()`` or serving this text lights the same panels."""
        lines: list[str] = []
        for store, mtype in (
            (self.counters, "counter"),
            (self.gauges, "gauge"),
            (self.durations, "gauge"),
        ):
            for name in sorted(store):
                metric = prefix + _sanitize_metric_name(name)
                lines.append(f"# HELP {metric} {name}")
                lines.append(f"# TYPE {metric} {mtype}")
                lines.append(f"{metric} {store[name]}")
        return "\n".join(lines) + ("\n" if lines else "")

    def push(self, gateway_url: str | None = None, job: str = "breweries_etl_spark") -> bool:
        """Optional Pushgateway export (ref: U/metrics.py:66-73)."""
        if gateway_url is None:
            return False
        try:
            from prometheus_client import CollectorRegistry, Gauge, push_to_gateway
        except ImportError:
            return False
        registry = CollectorRegistry()
        for store in (self.counters, self.gauges, self.durations):
            for name, value in store.items():
                Gauge(name, name, registry=registry).set(value)
        push_to_gateway(gateway_url, job=job, registry=registry)
        return True


def observed(df: DataFrame, observation) -> DataFrame:
    """Attach a live ``pyspark.sql.Observation`` carrying the reference's
    record counter (ref: U/metrics.py:44-49 records_processed_total).
    The aggregate rides whatever single action materializes the frame —
    zero extra passes, unlike the reference's separate len() calls."""
    return df.observe(observation, F.count(F.lit(1)).alias("rows"))


def drain_observation(
    registry: MetricsRegistry, observation, operation: str
) -> None:
    """Pull the observed row count (blocks until the frame's action has
    run) into the registry under the reference's counter name."""
    try:
        rows = float(observation.get["rows"])
    except Exception:
        # Spark's Observation.get trips a JVM-side toPyRow assertion
        # when the observed frame materialized ZERO rows end-to-end (an
        # all-empty landing page — empty-table sweep r10). Zero rows is
        # exactly what the counter should record; the pipeline must not
        # die on an empty increment.
        rows = 0.0
    registry.inc(f"{operation}_records_processed_total", rows)
