"""Health / readiness semantics (A20).

Mirrors the reference's two probes and tri-state rollup (reference:
src/iceberg_explorer/api/routes/health.py:44-127, component checks at
query/engine.py:166-211):

- component checks: the ENGINE (``SELECT 1`` — DuckDB there, the
  SparkSession here) and the CATALOG (``information_schema.schemata LIMIT 1``
  there, ``listDatabases`` here);
- rollup: both healthy → ``healthy``/200; some healthy → ``degraded``/503;
  none → ``unhealthy``/503 (health.py:124-133);
- readiness: engine must be initialized AND fully healthy, else 503 with a
  reason (health.py:139-168).

Transport-agnostic: returns dataclasses + the HTTP status an API layer
should map them to, so the semantics are testable without a web framework.
Checks are injectable for fault-injection tests.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import SparkSession

from iceberg_explorer_spark.observability import observe_call

HEALTHY = "healthy"
DEGRADED = "degraded"
UNHEALTHY = "unhealthy"


@dataclass(frozen=True)
class ComponentHealth:
    healthy: bool
    error: Optional[str] = None


@dataclass(frozen=True)
class HealthReport:
    status: str  # healthy | degraded | unhealthy
    components: dict[str, ComponentHealth]
    http_status: int  # 200 or 503


@dataclass(frozen=True)
class ReadyReport:
    ready: bool
    reason: Optional[str] = None

    @property
    def http_status(self) -> int:
        return 200 if self.ready else 503


@dataclass
class HealthService:
    """Engine + catalog probes with the reference's rollup semantics."""

    spark: Optional[SparkSession]
    #: injectable component checks: name → zero-arg callable that raises on
    #: failure. Defaults probe the Spark engine and its catalog.
    checks: dict[str, Callable[[], None]] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if not self.checks:
            self.checks = {
                "engine": self._check_engine,
                "catalog": self._check_catalog,
            }

    def _check_engine(self) -> None:
        if self.spark is None:
            raise RuntimeError("engine not initialized")
        self.spark.sql("SELECT 1").collect()

    def _check_catalog(self) -> None:
        if self.spark is None:
            raise RuntimeError("engine not initialized")
        self.spark.catalog.listDatabases()

    def health(self) -> HealthReport:
        with observe_call("health.check"):
            return self._health()

    def _health(self) -> HealthReport:
        components: dict[str, ComponentHealth] = {}
        for name, check in self.checks.items():
            try:
                check()
                components[name] = ComponentHealth(healthy=True)
            except Exception as exc:
                components[name] = ComponentHealth(healthy=False, error=str(exc))
        n_ok = sum(1 for c in components.values() if c.healthy)
        if n_ok == len(components):
            status, http = HEALTHY, 200
        elif n_ok > 0:
            status, http = DEGRADED, 503
        else:
            status, http = UNHEALTHY, 503
        return HealthReport(status=status, components=components, http_status=http)

    def ready(self) -> ReadyReport:
        """Ready for traffic only when every component is healthy
        (reference health.py:139-168)."""
        if self.spark is None:
            return ReadyReport(ready=False, reason="Engine not initialized")
        report = self.health()
        if report.status != HEALTHY:
            bad = [
                f"{name}: {c.error}"
                for name, c in report.components.items()
                if not c.healthy
            ]
            return ReadyReport(ready=False, reason="; ".join(bad))
        return ReadyReport(ready=True)
