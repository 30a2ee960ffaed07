"""Benchmark-side tracing: spans around the calls into each layer, one
Spark job group per span, and the event-log ledger that turns the job
groups back into per-stage task metrics.

Nothing here edits the program.  The pipeline's own call sites are
wrapped for the duration of one traced operation:

* ``DataFrameWriter.parquet`` — every stage table is written through it;
  the table is the last path component (``blocks`` → extract, ...).
* ``functions.barrier.reliable_ckpt`` — the diff-mode barrier that
  precedes the ``blocks`` write, which ends the resume span.
* ``plans.pipeline.link_stage`` — the link call.

Stage spans tile the pipeline's main thread: each span starts where the
previous one ended, so work between two writes (plan building, a
barrier, the prior-docs read) is charged to the table written next on
that thread.  Bookkeeping writes run on the pipeline's background
thread; their jobs carry the ``bookkeeping`` group while the
bookkeeping span's wall time is only what the main thread still waits
for after the ``triples`` write.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

STAGES = ("resume", "extract", "normalize", "dedup", "mill", "link",
          "materialize", "bookkeeping")
TABLE_STAGE = {
    "blocks": "extract", "processed": "normalize", "docs": "dedup",
    "raw_triples": "mill", "triples": "materialize",
    "manifest": "bookkeeping", "lineage": "bookkeeping",
    "prov": "bookkeeping", "stats": "bookkeeping",
}
FIELDS = ("wall_s", "task_cpu_s", "task_run_s", "gc_s", "shuffle_write_mb",
          "spill_mb", "rows_out", "files_out", "jobs", "failed_tasks")
GROUP = "perfbench:"
_GROUP_KEY = "spark.jobGroup.id"


class TraceError(RuntimeError):
    """A traced run did not produce a span or job group it must have."""


def count_files(table_dir: str) -> int:
    n = 0
    for _dirpath, _dirs, files in os.walk(table_dir):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


class PipelineTracer:
    """Spans and job groups for one ``run_pipeline`` call."""

    def __init__(self, sc, warehouse: str) -> None:
        self.sc = sc
        self.warehouse = warehouse
        self.spans: list[tuple[str, float, float]] = []
        self.side_writes: list[tuple[str, float, float]] = []
        self._main = threading.get_ident()
        self._cur: str | None = None
        self._t0 = 0.0
        self._files0: dict[str, int] = {}

    def _enter(self, stage: str) -> None:
        now = time.perf_counter()
        if self._cur is not None:
            self.spans.append((self._cur, self._t0, now))
        self._cur, self._t0 = stage, now
        self.sc.setLocalProperty(_GROUP_KEY, GROUP + stage)

    def _after(self, stage: str) -> None:
        i = STAGES.index(stage)
        if i + 1 < len(STAGES):
            self._enter(STAGES[i + 1])

    @contextlib.contextmanager
    def active(self):
        """Install the wrappers, open the resume span, and on exit close
        the last span and restore every wrapped attribute."""
        from pyspark.sql.readwriter import DataFrameWriter

        from gleaner_spark.functions import barrier
        from gleaner_spark.plans import pipeline

        tracer = self
        orig_parquet = DataFrameWriter.parquet
        orig_ckpt = barrier.reliable_ckpt
        orig_link = pipeline.link_stage

        def parquet(writer, path, *a, **kw):
            stage = TABLE_STAGE.get(os.path.basename(str(path).rstrip("/")))
            if stage is None:
                return orig_parquet(writer, path, *a, **kw)
            if threading.get_ident() != tracer._main:
                prev = tracer.sc.getLocalProperty(_GROUP_KEY)
                tracer.sc.setLocalProperty(_GROUP_KEY, GROUP + stage)
                t = time.perf_counter()
                try:
                    return orig_parquet(writer, path, *a, **kw)
                finally:
                    tracer.side_writes.append((stage, t, time.perf_counter()))
                    tracer.sc.setLocalProperty(_GROUP_KEY, prev)
            if stage != tracer._cur:
                tracer._enter(stage)
            out = orig_parquet(writer, path, *a, **kw)
            tracer._after(stage)
            return out

        def reliable_ckpt(df, *a, **kw):
            if (threading.get_ident() == tracer._main
                    and tracer._cur == "resume"):
                tracer._enter("extract")
            return orig_ckpt(df, *a, **kw)

        def link_stage(*a, **kw):
            if tracer._cur != "link":
                tracer._enter("link")
            out = orig_link(*a, **kw)
            tracer._enter("materialize")
            return out

        self._files0 = self._table_files()
        DataFrameWriter.parquet = parquet
        barrier.reliable_ckpt = reliable_ckpt
        pipeline.link_stage = link_stage
        self._enter("resume")
        try:
            yield self
        finally:
            DataFrameWriter.parquet = orig_parquet
            barrier.reliable_ckpt = orig_ckpt
            pipeline.link_stage = orig_link
            now = time.perf_counter()
            self.spans.append((self._cur, self._t0, now))
            self._cur = None
            self.sc.setLocalProperty(_GROUP_KEY, None)

    def _table_files(self) -> dict[str, int]:
        return {t: count_files(os.path.join(self.warehouse, t))
                for t in TABLE_STAGE}

    def stage_walls(self) -> dict[str, float]:
        seen = [s for s, _, _ in self.spans]
        missing = [s for s in STAGES if s not in seen]
        if missing:
            raise TraceError(f"pipeline spans never opened: {missing}")
        walls = dict.fromkeys(STAGES, 0.0)
        for s, a, b in self.spans:
            walls[s] += b - a
        return walls

    def files_out(self) -> dict[str, int]:
        after = self._table_files()
        out = dict.fromkeys(STAGES, 0)
        for t, stage in TABLE_STAGE.items():
            out[stage] += after[t] - self._files0[t]
        return out

    def dump(self) -> list[dict]:
        return (
            [{"span": s, "start": a, "end": b, "thread": "main"}
             for s, a, b in self.spans]
            + [{"span": s, "start": a, "end": b, "thread": "bookkeeping"}
               for s, a, b in self.side_writes]
        )


@contextlib.contextmanager
def job_group(sc, name: str):
    sc.setLocalProperty(_GROUP_KEY, GROUP + name)
    try:
        yield
    finally:
        sc.setLocalProperty(_GROUP_KEY, None)


def _lines(files: list[str]):
    for p in files:
        with open(p) as f:
            yield from f


def _log_files(path: str) -> list[str]:
    """One session's event log: a file, or the rolling layout's
    ``eventlog_v2_<app>/events_<n>_<app>`` parts in order."""
    if not os.path.isdir(path):
        return [path]
    parts = sorted((f for f in os.listdir(path) if f.startswith("events_")),
                   key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def read_ledger(event_dir: str) -> dict[str, dict]:
    """Per job group (without the ``perfbench:`` prefix): jobs, task CPU
    and run time, GC, shuffle write, disk spill, records written and
    failed task attempts, summed over the event logs of every session
    in ``event_dir``.  Jobs outside a benchmark group are left out."""
    logs = sorted(f for f in os.listdir(event_dir) if not f.startswith("."))
    if not logs:
        raise TraceError(f"no event log in {event_dir}")
    out: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return out.setdefault(group, {
            "jobs": 0, "task_cpu_s": 0.0, "task_run_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "rows_out": 0,
            "failed_tasks": 0,
        })

    for log in logs:
        # stage ids restart with every session
        stage_group: dict[int, str] = {}
        for line in _lines(_log_files(os.path.join(event_dir, log))):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(_GROUP_KEY) or ""
                if not group.startswith(GROUP):
                    continue
                group = group[len(GROUP):]
                acc(group)["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                a = acc(group)
                if ev["Task End Reason"]["Reason"] != "Success":
                    a["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write_mb"] += (
                    sw.get("Shuffle Bytes Written", 0) / 1e6)
                om = m.get("Output Metrics") or {}
                a["rows_out"] += om.get("Records Written", 0)
    return out


def stage_metrics(tracer: PipelineTracer,
                  ledger: dict[str, dict]) -> dict[str, float]:
    """The ``<stage>.<field>`` metrics of a diff run; raises if a stage
    shows no Spark job, so a refactor that moves a layer cannot silently
    shift its time onto a neighbour."""
    walls = tracer.stage_walls()
    files = tracer.files_out()
    empty = [s for s in STAGES if ledger.get(s, {}).get("jobs", 0) == 0]
    if empty:
        raise TraceError(f"stages without any Spark job: {empty}")
    out = {}
    for s in STAGES:
        row = dict(ledger.get(s) or {})
        row["wall_s"] = walls[s]
        row["files_out"] = files[s]
        for f in FIELDS:
            out[f"{s}.{f}"] = row.get(f, 0)
    return out
