"""Runner: start all sinks, wait for completion.

Analog of ``pipe.Runner`` (ref: pipe/runner.go:18-36): ``start()`` launches
every sink's action, ``done()`` returns when all of them finished — the
reference closes its Done channel when every terminal node's input channel is
closed and drained (ref: pipe/node.go:114-125).

Spark mapping: each batch sink is one Spark action, run on its own driver
thread so multi-sink pipelines overlap their jobs (the scheduler interleaves
stages). A sink whose fn returns a ``StreamingQuery`` is awaited via
``awaitTermination`` inside ``done()``.
"""

from __future__ import annotations

import time
from concurrent.futures import Future, ThreadPoolExecutor, wait
from dataclasses import dataclass
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame

from .errors import PipelineError, RunError


@dataclass
class Sink:
    name: str
    fn: Callable[[DataFrame], Any]
    df: DataFrame


class Runner:
    def __init__(self, sinks: list[Sink], persisted: Optional[list[DataFrame]] = None):
        self._sinks = sinks
        self._persisted = persisted or []
        self._executor: Optional[ThreadPoolExecutor] = None
        self._futures: dict[str, Future] = {}
        self._results: dict[str, Any] = {}
        self._started = False
        self._done = False

    @property
    def sinks(self) -> list[str]:
        return [s.name for s in self._sinks]

    def start(self) -> "Runner":
        """Launch all sink actions (ref: pipe/runner.go:18-22). Idempotence:
        the reference panics on double-start; we raise.

        Single-pass fan-out: shared (persisted) subplans are materialized
        with one action BEFORE the concurrent sink actions launch, so the
        shared work runs exactly once and every sink reads cached blocks —
        the batch analog of pipes' forker pushing each computed element
        once to all receivers (ref: pipe/internal/connect/connectors.go:57-90).
        Without this, concurrent sinks race to populate the cache and
        serialize on per-block locks mid-job."""
        if self._started:
            raise PipelineError("runner already started")
        self._started = True
        for df in self._persisted:
            df.count()  # one pass fills the cache at the chosen storage level
        self._executor = ThreadPoolExecutor(
            max_workers=max(1, len(self._sinks)), thread_name_prefix="pipes-sink"
        )
        for s in self._sinks:
            self._futures[s.name] = self._executor.submit(s.fn, s.df)
        return self

    def done(self, timeout: Optional[float] = None) -> dict[str, Any]:
        """Block until every sink finished; return {sink_name: result}.

        Analog of ``<-runner.Done()`` (ref: pipe/runner.go:27-36). Streaming
        results (objects with ``awaitTermination``) are awaited too, so a
        finite (``availableNow``) streaming pipeline completes like a batch
        one — the analog of channel-close cascading to the sinks
        (ref: pipe/internal/connect/connectors.go:36-41).

        ``timeout`` is ONE deadline for all sinks, not a per-sink wait. When
        it passes, ``TimeoutError`` is raised and nothing is torn down: the
        sinks keep running, the shared fan-out caches stay persisted, and a
        later ``done()`` still collects every result.
        """
        if not self._started:
            raise PipelineError("runner not started; call start() first")
        deadline = None if timeout is None else time.monotonic() + timeout

        def left() -> Optional[float]:
            return None if deadline is None else max(0.0, deadline - time.monotonic())

        pending = wait(self._futures.values(), timeout=timeout).not_done
        if pending:
            names = sorted(n for n, f in self._futures.items() if f in pending)
            raise TimeoutError(f"sinks still running after {timeout}s: {names}")
        failures: dict[str, BaseException] = {}
        stalled: list[str] = []
        for name, fut in self._futures.items():
            try:
                res = fut.result()
                if hasattr(res, "awaitTermination"):  # StreamingQuery sink
                    rest = left()
                    if rest is not None and res.isActive and not (
                        rest > 0 and res.awaitTermination(rest)
                    ):
                        stalled.append(name)
                        continue
                    res.awaitTermination()  # raises the query's error, if any
                self._results[name] = res
            except Exception as e:  # noqa: BLE001 — aggregate all sink errors
                failures[name] = e
        if stalled:
            raise TimeoutError(f"streaming sinks still running after {timeout}s: {stalled}")
        if self._executor is not None:
            self._executor.shutdown(wait=False)
        for df in self._persisted:
            try:
                df.unpersist()
            except Exception:  # pragma: no cover — session already stopped
                pass
        self._done = True
        if failures:
            raise RunError(failures)
        return self._results

    @property
    def results(self) -> dict[str, Any]:
        if not self._done:
            raise PipelineError("results available after done()")
        return self._results

    # convenience: with Pipeline(...).build() as r: ... waits on exit
    def __enter__(self) -> "Runner":
        return self.start() if not self._started else self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            self.done()
