"""User-facing facade: one object that wires the session, the
warehouse, the SQL surface, the operator catalog, and scheduled
pipelines together — the switch-over surface for a user of the
reference stack, whose moving parts map 1:1:

- ClickHouse server/session   → ``Engine()`` (configured SparkSession)
- MergeTree warehouse tables  → ``attach_warehouse`` (parquet scans
                                 registered under the same names)
- SQL views (002_views_techno.sql) → ``register_track_views`` /
                                 plain ``sql()`` (Spark SQL dialect)
- Airflow DAG + schedule      → ``run_scheduled`` (Pipeline runner +
                                 schedule cadence + run ledger)
- ad-hoc analytics            → ``sql()`` / ``table()`` / ``query()``
                                 (the whole certified catalog by name)

Everything here is a thin composition of modules documented in their
own right; the facade adds discoverability, not behavior.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from ravelytics_spark.pipeline import Pipeline
from ravelytics_spark.schedule import RunLedger, interval_bounds, runs_to_do
from ravelytics_spark.session import configure_existing, get_spark


class Engine:
    def __init__(self, spark: SparkSession | None = None, **session_kwargs):
        self.spark = (
            configure_existing(spark) if spark is not None else get_spark(**session_kwargs)
        )
        self._warehouse_dir: str | None = None

    # -- warehouse ---------------------------------------------------------

    def attach_warehouse(self, sf_dir: str) -> "Engine":
        """Register every parquet table under ``sf_dir`` as a view (the
        same names the reference's SQL uses its tables by)."""
        from ravelytics_spark.sources.tables import load_tables

        load_tables(self.spark, sf_dir)
        self._warehouse_dir = sf_dir
        return self

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    # -- the reference's view stack ---------------------------------------

    def register_track_views(self, tracks: DataFrame, artists: DataFrame) -> "Engine":
        """The 4-deep techno view stack (ref 002_views_techno.sql:9-58),
        registered as temp views over ``tracks`` and ``artists``."""
        from ravelytics_spark.plans.views import register_views

        register_views(self.spark, tracks, artists)
        return self

    # -- certified operator catalog ---------------------------------------

    def catalog(self) -> dict[str, str]:
        """Every certified operator: name → one-line description."""
        from ravelytics_spark.plans.queries import REGISTRY

        return {name: entry.doc.split(". ")[0] for name, entry in REGISTRY.items()}

    def query(self, name: str, sf_dir: str | None = None) -> DataFrame:
        """Run a catalog entry against the attached warehouse (or an
        explicit sf_dir)."""
        from ravelytics_spark.plans.queries import REGISTRY

        target = sf_dir or self._warehouse_dir
        if target is None:
            raise ValueError("attach_warehouse first (or pass sf_dir)")
        return REGISTRY[name].spark(self.spark, target)

    # -- scheduled pipelines ----------------------------------------------

    def run_scheduled(
        self,
        job: str,
        pipeline: Pipeline,
        schedule: str,
        start_date: datetime,
        ledger: RunLedger,
        now: datetime | None = None,
        catchup: bool = True,
    ) -> dict[datetime, dict]:
        """Execute every due-and-unrecorded interval of ``pipeline``:
        the Airflow loop (schedule → due runs → run → record) without
        the Airflow dependency. Each run's context carries
        ``interval_start`` / ``interval_end`` (the incremental-extract
        bounds) plus ``engine``. A run is recorded only when no step
        FAILED (skips count as success, matching the reference's
        AirflowSkipException semantics); a failed interval is retried
        on the next invocation."""
        from ravelytics_spark.pipeline import Status

        now = now if now is not None else datetime.now()
        results: dict[datetime, dict] = {}
        for execution_date in runs_to_do(
            ledger, job, schedule, start_date, now, catchup
        ):
            bounds = interval_bounds(schedule, execution_date)
            ctx = {
                "engine": self,
                "execution_date": execution_date,
                "interval_start": bounds.start,
                "interval_end": bounds.end,
            }
            step_results = pipeline.run(ctx)
            results[execution_date] = step_results
            failed = any(
                r.status in (Status.FAILED, Status.UPSTREAM_FAILED)
                for r in step_results.values()
            )
            if not failed:
                ledger.record(job, execution_date)
        return results
