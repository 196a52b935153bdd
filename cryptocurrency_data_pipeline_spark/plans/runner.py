"""Pipeline runner: the Step Function's orchestration semantics in-process.

Reference (Step Function/crypto-etl-pipeline.asl.json:3-96): a linear
4-state machine (ingestion → transform → quality → aggregation), each state
``glue:startJobRun.sync`` with a catch-all routing to an SNS failure
notification; success ends in a success notification.

Engine mapping (C1-C4):
* ordered stage list, try/except per stage (C1);
* a stage may return ``SKIPPED`` to short-circuit (C2 — the reference's
  ``if df.count()==0: sys.exit(0)`` guards, done with ``isEmpty``);
* DQ failures raise ``DQGateError`` and abort the pipeline (C4 —
  glue/data_quality_pydeequ.py:133);
* notifier hook receives success/failure events (the SNS topic, pluggable).
"""

from __future__ import annotations

import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field
from enum import Enum
from typing import Any


class StageStatus(Enum):
    SUCCEEDED = "SUCCEEDED"
    FAILED = "FAILED"
    SKIPPED = "SKIPPED"


#: Sentinel a stage returns to short-circuit the rest of the pipeline (C2).
SKIP = object()


@dataclass
class StageResult:
    name: str
    status: StageStatus
    seconds: float
    output: Any = None
    error: str | None = None


@dataclass
class Pipeline:
    """Linear stage runner with failure notification (C1).

    ``stages`` = [(name, fn)]; each fn receives the previous stage's output
    (None for the first).  ``notifier(event: dict)`` is the SNS stand-in —
    called once per failure and once on overall success
    (crypto-etl-pipeline.asl.json:77-96).
    """

    stages: list[tuple[str, Callable[[Any], Any]]] = field(default_factory=list)
    notifier: Callable[[dict], None] | None = None

    def add(self, name: str, fn: Callable[[Any], Any]) -> "Pipeline":
        self.stages.append((name, fn))
        return self

    def _notify(self, event: dict) -> None:
        if self.notifier:
            self.notifier(event)

    def run(self, initial: Any = None) -> list[StageResult]:
        # Composed stages invoke operators that persist (MinHash
        # shingles, SemDeDup assignments, ...) or checkpoint (connected
        # components) intermediates.  Release them when the plan ends —
        # success, skip, or failure — so long-lived pipeline processes
        # keep the block manager flat (operators/caching.py).  No stage
        # output is checkpoint-backed, so every result stays usable.
        from cryptocurrency_data_pipeline_spark.operators.caching import (
            release_all,
        )

        try:
            return self._run(initial)
        finally:
            release_all()

    def _run(self, initial: Any = None) -> list[StageResult]:
        results: list[StageResult] = []
        carry = initial
        for name, fn in self.stages:
            t0 = time.perf_counter()
            try:
                out = fn(carry)
            except Exception as exc:
                results.append(
                    StageResult(
                        name, StageStatus.FAILED, time.perf_counter() - t0,
                        error=f"{type(exc).__name__}: {exc}",
                    )
                )
                self._notify(
                    {
                        "status": "FAILED",
                        "stage": name,
                        "error": str(exc),
                        "traceback": traceback.format_exc(),
                    }
                )
                return results
            took = time.perf_counter() - t0
            if out is SKIP:
                results.append(StageResult(name, StageStatus.SKIPPED, took))
                break
            results.append(StageResult(name, StageStatus.SUCCEEDED, took, output=out))
            carry = out
        self._notify({"status": "SUCCEEDED", "stages": [r.name for r in results]})
        return results
