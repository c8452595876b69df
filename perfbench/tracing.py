"""Spans at the benchmark's calls into the engine, with per-span Spark
counters read from the status store.

A span records name (``<module>.<function>``), start, end, parent and a
trace id (one per benchmark operation). Its Spark counters cover every job
whose id the DAG scheduler handed out while the span was open, including
jobs of the pipeline's background-sink threads, and every stage created in
the same window (so a shuffle stage reused by a later job is counted once,
in the span that ran it). Spans stay in memory until the run writes them
out.
"""

from __future__ import annotations

import contextlib
import time

# Status-store retention for the traced session: the Spark default of 1000
# jobs / stages silently drops the oldest, which a traced run outgrows.
RETAIN = "200000"
TRACED_CONF = {
    "spark.ui.retainedJobs": RETAIN,
    "spark.ui.retainedStages": RETAIN,
}


class MissingJobError(RuntimeError):
    """A job id inside a span window is absent from the status store."""


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self._stage_cache: dict[int, dict] = {}
        self.harvest_s = 0.0

    def attach(self, spark) -> None:
        """Start reading counters from ``spark``'s context."""
        self._sc = spark.sparkContext._jsc.sc()

    def _ids(self) -> tuple[int, int]:
        """(next job id, next stage id) of the DAG scheduler."""
        dag = self._sc.dagScheduler()
        return dag.nextJobId(), dag.nextStageId()

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str, **attrs):
        """Record a span around the body; ``attrs`` and any keys the body
        adds to the yielded dict land in the span record."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "trace": trace_id,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        window = self._ids() if self._sc is not None else None
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if window is not None:
                h0 = time.perf_counter()
                rec.update(self._harvest(window, self._ids()))
                self.harvest_s += time.perf_counter() - h0

    def _stage(self, store, sid: int) -> dict:
        if sid not in self._stage_cache:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j: a stage that was planned but never ran
                self._stage_cache[sid] = {}
            else:
                self._stage_cache[sid] = {
                    "tasks": st.numCompleteTasks(),
                    "cpu_ns": st.executorCpuTime(),
                    "run_ms": st.executorRunTime(),
                    "input_records": st.inputRecords(),
                    "input_bytes": st.inputBytes(),
                    "shuffle_read_bytes": st.shuffleReadBytes(),
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                    "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                }
        return self._stage_cache[sid]

    def _harvest(self, start: tuple[int, int], end: tuple[int, int]) -> dict:
        self._sc.listenerBus().waitUntilEmpty(60_000)
        store = self._sc.statusStore()
        (j0, s0), (j1, s1) = start, end
        out = {
            "jobs": j1 - j0,
            "unlabeled_jobs": 0,
            "tasks": 0,
            "cpu_ns": 0,
            "run_ms": 0,
            "input_records": 0,
            "input_bytes": 0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        }
        for jid in range(j0, j1):
            try:
                job = store.job(jid)
            except Exception as exc:  # py4j wraps NoSuchElementException
                raise MissingJobError(
                    f"job {jid} missing from the status store"
                ) from exc
            if not job.description().isDefined():
                out["unlabeled_jobs"] += 1
        for sid in range(s0, s1):
            for key, val in self._stage(store, sid).items():
                out[key] += val
        return out
