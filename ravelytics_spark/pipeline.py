"""Job runner: DAG-edge orchestration with the reference's skip
semantics (SURVEY OP-T4/OP-T5).

The reference runs Airflow DAGs with `preflight >> fetch` edges
(spotify_ingest.py:148-158) and uses AirflowSkipException so missing
credentials / empty inputs mark a run SKIPPED, not FAILED
(spotify_ingest.py:43,60,68,77,92,111,126). This is orchestration, not
query execution — a small deterministic runner reproduces it without an
Airflow dependency; production deployments can map Step 1:1 onto any
scheduler's task.
"""

from __future__ import annotations

import enum
import logging
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

log = logging.getLogger("ravelytics_spark.pipeline")


class SkipStep(Exception):
    """Raise inside a step to mark the run SKIPPED (the
    AirflowSkipException analog): preconditions unmet, empty input —
    not a failure."""


class Status(str, enum.Enum):
    SUCCESS = "success"
    SKIPPED = "skipped"
    FAILED = "failed"
    UPSTREAM_SKIPPED = "upstream_skipped"
    UPSTREAM_FAILED = "upstream_failed"


@dataclass
class Step:
    name: str
    fn: Callable[[dict], object]
    depends_on: Sequence[str] = ()
    retries: int = 0


@dataclass
class StepResult:
    status: Status
    value: object = None
    error: str | None = None


@dataclass
class Pipeline:
    """Sequential DAG executor. Steps share a context dict; each step's
    return value lands in ``context[name]`` (the XCom analog)."""

    steps: list[Step] = field(default_factory=list)

    def step(self, name: str, depends_on: Sequence[str] = (), retries: int = 0):
        """Decorator registration: @pipe.step("fetch", depends_on=["preflight"])."""

        def deco(fn):
            self.add(Step(name, fn, depends_on, retries))
            return fn

        return deco

    def add(self, step: Step) -> "Pipeline":
        known = {s.name for s in self.steps}
        missing = set(step.depends_on) - known
        if missing:
            raise ValueError(f"step {step.name!r} depends on unknown steps {missing}")
        self.steps.append(step)
        return self

    def run(self, context: dict | None = None) -> dict[str, StepResult]:
        context = context if context is not None else {}
        results: dict[str, StepResult] = {}
        for step in self.steps:  # insertion order is a valid topo order
            upstream = [results[d] for d in step.depends_on]
            if any(r.status in (Status.SKIPPED, Status.UPSTREAM_SKIPPED) for r in upstream):
                results[step.name] = StepResult(Status.UPSTREAM_SKIPPED)
                continue
            if any(r.status in (Status.FAILED, Status.UPSTREAM_FAILED) for r in upstream):
                results[step.name] = StepResult(Status.UPSTREAM_FAILED)
                continue
            results[step.name] = self._run_step(step, context)
        return results

    def _run_step(self, step: Step, context: dict) -> StepResult:
        for attempt in range(step.retries + 1):
            try:
                value = step.fn(context)
                context[step.name] = value
                return StepResult(Status.SUCCESS, value=value)
            except SkipStep as exc:
                log.info("step %s skipped: %s", step.name, exc)
                return StepResult(Status.SKIPPED, error=str(exc))
            except Exception as exc:  # noqa: BLE001 — runner must not die
                log.warning("step %s attempt %d failed: %s", step.name, attempt + 1, exc)
                error = f"{type(exc).__name__}: {exc}"
        return StepResult(Status.FAILED, error=error)
