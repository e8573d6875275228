"""Spans recorded from outside the engine, around calls into its layers.

A span is one call into a layer's public function: name, start, end, parent
span, the phase it ran in (``setup`` or ``measure``) and the Spark job, task
and failed-task counts of the job group the span opened. Spans are kept in
memory and written out as JSON when the run ends.

Layer functions are traced by replacing the module attribute with a wrapper
(``Tracer.patch``); engine code that calls the function through its module
(``dedup.dedup_corpus(...)`` inside ``pipeline.curate_corpus``) is traced
the same way. A wrapped function that returns a DataFrame has its result
persisted and counted inside the span, so the Spark work a lazy layer
plans is charged to that layer and not to whichever later action runs it.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class NullTracer:
    """Untraced runs: nothing is wrapped and nothing is recorded."""

    @contextlib.contextmanager
    def patch(self, targets):
        yield

    def end_op(self):
        pass


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.phase = "setup"
        self._stack: list[int] = []
        self._rows: dict[int, int] = {}  # id(DataFrame) -> counted rows
        self._cached: list = []
        self._deferred: list = []  # (record, output, args, hook) run at op end

    @contextlib.contextmanager
    def span(self, name):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "phase": self.phase, "start": time.perf_counter()}
        self.spans.append(rec)
        group = f"perfbench-span-{rec['id']}"
        self.sc.setJobGroup(group, name)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["group"] = group
            self._restore_group()

    def _restore_group(self):
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(f"perfbench-span-{top}", self.spans[top]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _rows_of(self, df):
        n = self._rows.get(id(df))
        if n is None:
            self.sc.setJobGroup("perfbench-rows-in", "rows_in")
            n = df.count()
            self._restore_group()
        return n

    def wrap(self, name, fn, hook=None):
        from pyspark.sql import DataFrame

        def traced(*args, **kwargs):
            first = next((a for a in args if isinstance(a, DataFrame)), None)
            rows_in = self._rows_of(first) if first is not None else None
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.persist()
                    rec["rows_out"] = out.count()
                    self._rows[id(out)] = rec["rows_out"]
                    self._cached.append(out)
            if rows_in is not None:
                rec["rows_in"] = rows_in
            if hook is not None:
                self._deferred.append((rec, out, args, hook))
            return out

        return traced

    @contextlib.contextmanager
    def patch(self, targets):
        """``targets``: (module, attribute, span name, hook or None)."""
        saved = []
        for mod, attr, name, hook in targets:
            saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, self.wrap(name, getattr(mod, attr), hook))
        try:
            yield
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)

    def end_op(self):
        """Run deferred count hooks, release cached layer outputs and read
        the job-group counts of the spans that are still open."""
        for rec, out, args, hook in self._deferred:
            hook(rec, out, args)
        self._deferred.clear()
        for df in self._cached:
            df.unpersist()
        self._cached.clear()
        self._rows.clear()
        self._resolve_counts()

    def _resolve_counts(self):
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            if "group" not in rec or "jobs" in rec:
                continue
            jobs = tracker.getJobIdsForGroup(rec["group"])
            tasks = failed = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += st.numCompletedTasks
                        failed += st.numFailedTasks
            rec.update(jobs=len(jobs), tasks=tasks, failed_tasks=failed)

    def self_times(self) -> dict[int, float]:
        child = defaultdict(float)
        for rec in self.spans:
            if rec["parent"] is not None:
                child[rec["parent"]] += rec["end"] - rec["start"]
        return {r["id"]: r["end"] - r["start"] - child[r["id"]] for r in self.spans}

    def dump(self, path: str) -> None:
        self._resolve_counts()
        selfs = self.self_times()
        out = [{k: v for k, v in r.items() if k != "group"} | {"self_s": selfs[r["id"]]}
               for r in self.spans]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)

    def per_layer(self, fields: dict[str, list[str]]) -> dict[str, float]:
        """Mean per call of each span field: over calls in the measured
        phase when there are any, else over set-up calls; 0 for a layer the
        workload never called."""
        self._resolve_counts()
        selfs = self.self_times()
        out = {}
        for name, keys in fields.items():
            calls = [r for r in self.spans if r["name"] == name]
            measured = [r for r in calls if r["phase"] == "measure"]
            calls = measured or calls
            for key in keys:
                vals = [selfs[r["id"]] if key == "self_s" else r.get(key) for r in calls]
                vals = [v for v in vals if v is not None]
                out[f"{name}.{key}"] = sum(vals) / len(vals) if vals else 0.0
        return out
