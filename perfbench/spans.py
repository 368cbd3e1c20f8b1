"""Spans and Spark status reads for the traced run.

Spans are taken from the benchmark's side of each layer boundary: a
package function is wrapped wherever the package's modules bound it
(``from x import f`` copies the name, so every binding is swapped) and
restored afterwards. Spark execution is read through public status APIs:
``statusTracker`` job ids per job group, and the status store's
``lastStageAttempt`` for per-stage task, shuffle, spill and run-time
figures, which work with the UI disabled.

Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "c_tran_data_pipeline_spark"

STAGE_FIELDS = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "executor_run_s")


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.totals: dict[str, float] = defaultdict(float)
        self.label = None  # query or step the current spans belong to
        self.group = None  # job group jobs of the current query carry
        self._local = threading.local()
        # foreachBatch bodies record spans from the streaming thread
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # --- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        """Record a span; its time and call count are summed under
        ``<name>s`` and ``<name>calls`` (``name`` ends in ``.`` or ``_``)."""
        stack = self._stack()
        rec = {"name": name, "label": self.label, "parent": stack[-1] if stack else None}
        with self._lock:
            stack.append(len(self.spans))
            self.spans.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.totals[f"{name}s"] += rec["end"] - rec["start"]
                self.totals[f"{name}calls"] += 1

    # --- wrapping ------------------------------------------------------------

    def _rebind(self, orig, replacement) -> None:
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._patches.append((mod, attr, orig))
                    setattr(mod, attr, replacement)

    def wrap(self, module, attr: str, name: str, on_enter=None, on_exit=None) -> None:
        """Time every call of ``module.attr`` as span ``name``.
        ``on_enter(args)`` returns a token handed to ``on_exit(token, rec)``
        after the call, for counts taken at the same boundary."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            token = on_enter(args) if on_enter else None
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
            if on_exit:
                on_exit(token, rec)
            return out

        self._rebind(orig, traced)

    def wrap_method(self, cls, attr: str, name: str, on_enter=None, on_exit=None) -> None:
        orig = getattr(cls, attr)

        @functools.wraps(orig)
        def traced(obj, *args, **kwargs):
            token = on_enter(obj) if on_enter else None
            with self.span(name) as rec:
                out = orig(obj, *args, **kwargs)
            if on_exit:
                on_exit(token, obj, rec)
            return out

        self._patches.append((cls, attr, orig))
        setattr(cls, attr, traced)

    def wrap_factory(self, module, attr: str, name: str) -> None:
        """``module.attr`` returns a callback (a foreachBatch body); time
        each call of the callback as span ``name``."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def factory(*args, **kwargs):
            body = orig(*args, **kwargs)

            @functools.wraps(body)
            def traced_body(*a, **k):
                with self.span(name):
                    return body(*a, **k)

            return traced_body

        self._rebind(orig, factory)

    def unwrap(self) -> None:
        while self._patches:
            obj, attr, orig = self._patches.pop()
            setattr(obj, attr, orig)

    # --- Spark status ------------------------------------------------------------

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so far,
        so the status tracker and store are current."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def job_ids(self, group: str | None = None) -> set[int]:
        self.settle()
        return set(self.sc.statusTracker().getJobIdsForGroup(group or self.group))

    def stage_totals(self, job_ids) -> dict[str, float]:
        """Sum the stage figures of ``job_ids``; stages a job skipped
        (their output was reused) are not counted."""
        self.settle()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        out["jobs"] = float(len(job_ids))
        seen = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.diskBytesSpilled()
                out["executor_run_s"] += sd.executorRunTime() / 1000.0
        return out

    def records_written(self, job_ids) -> int:
        """Records the stages of ``job_ids`` wrote to storage."""
        self.settle()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        sids = {sid for jid in job_ids for sid in (getattr(tracker.getJobInfo(jid), "stageIds", None) or ())}
        return sum(store.lastStageAttempt(sid).outputRecords() for sid in sids)

    def add(self, prefix: str, values: dict[str, float]) -> None:
        for k, v in values.items():
            self.totals[f"{prefix}.{k}"] += v
