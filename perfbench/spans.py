"""Span recorder for the traced run (``--trace 1``).

Every call into a layer's public functions becomes one span: name, layer,
start, end, parent and operation id. Spans are kept in memory and written
out when the run ends. Each span sets its own Spark job group on entry and
restores its parent's group on exit, so every Spark job belongs to exactly
one span: the innermost one active when the job was submitted. After an
operation ends (outside the timed region) the jobs of each span are found
through ``statusTracker`` and their stages are read from the JVM
``AppStatusStore`` over py4j, which works with the UI disabled.

The recorder only wraps functions from here; the engine's source is not
edited. Both the module attribute and every name another engine module
imported directly (``from aircan_spark.rownum import with_row_number``) are
patched; otherwise calls made through the imported name would bypass the
span.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# layer -> (module, [public functions])
_FUNCTIONS = {
    "pipeline": ("aircan_spark.pipeline", ["run"]),
    "sources": ("aircan_spark.sources", ["read_resource"]),
    "validate": ("aircan_spark.validate", ["validate"]),
    "rownum": ("aircan_spark.rownum", ["with_row_number", "release_caches"]),
    "upsert": ("aircan_spark.upsert", ["merge", "dedup_stage", "changed_predicate"]),
    "export": ("aircan_spark.export", ["export_ordered", "export_partitioned"]),
}
# layer -> (module, class, [public methods])
_METHODS = {
    "table": (
        "aircan_spark.table",
        "ParquetTable",
        ["read", "max_id", "overwrite", "append", "upsert", "delete",
         "create_empty_like", "backfill_updated_at", "exists",
         "current_version", "vacuum", "drop"],
    ),
    "bucketed": (
        "aircan_spark.bucketed",
        "BucketedParquetTable",
        ["read", "read_version", "max_id", "overwrite", "append", "upsert",
         "delete", "compact", "manifest", "exists", "current_version",
         "vacuum", "drop"],
    ),
}

STAGE_FIELDS = ("tasks", "input_bytes", "shuffle_write_bytes", "spill_bytes", "executor_run_s")


class Recorder:
    """Span recorder for one run. With ``enabled=False`` every span is a
    no-op, so the untraced run pays nothing but a context-manager call."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op = None
        self.bookkeeping_s = 0.0  # time spent inside span enter/exit

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "op": self._op,
            "children_s": 0.0,
        }
        sp["group"] = f"perfbench-{sp['id']}"
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        sp["wall_start"] = time.time()
        sp["start"] = time.perf_counter()
        self.bookkeeping_s += sp["start"] - t_in
        try:
            yield
        finally:
            sp["end"] = time.perf_counter()
            sp["wall_end"] = time.time()
            self._stack.pop()
            if parent is not None:
                parent["children_s"] += sp["end"] - sp["start"]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()
            self.bookkeeping_s += time.perf_counter() - sp["end"]

    @contextmanager
    def operation(self, op_id: str):
        """Root span of one operation (layer ``harness``)."""
        self._op = op_id
        try:
            with self.span(op_id, "harness"):
                yield
        finally:
            self._op = None

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Patch every layer's public functions and methods.

        A function is replaced in its own module and under every name that
        any loaded ``aircan_spark`` module bound to it at import time, so
        ``pipeline.validate_frame`` and ``queries.with_row_number`` are
        traced too. Methods are patched on the class."""
        import importlib
        import sys

        if not self.enabled:
            return
        replace: dict[int, object] = {}
        for layer, (mod_name, fns) in _FUNCTIONS.items():
            mod = importlib.import_module(mod_name)
            for fn_name in fns:
                fn = getattr(mod, fn_name)
                replace[id(fn)] = self.wrap(fn, f"{layer}.{fn_name}", layer)
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == "aircan_spark" or name.startswith("aircan_spark.")):
                continue
            for attr, value in list(vars(mod).items()):
                if callable(value) and id(value) in replace:
                    setattr(mod, attr, replace[id(value)])
        for layer, (mod_name, cls_name, methods) in _METHODS.items():
            cls = getattr(importlib.import_module(mod_name), cls_name)
            for m in methods:
                setattr(cls, m, self.wrap(getattr(cls, m), f"{cls_name}.{m}", layer))

    # ---- attribution (outside the timed region) ----------------------------
    def attribute(self, op_id: str) -> list[dict]:
        """Fill job and stage numbers into the spans of one operation.

        A stage shared by several jobs (a reused shuffle shows up as a
        skipped stage in the later job) is counted once, for the first
        job that lists it."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        spans = [s for s in self.spans if s["op"] == op_id]
        seen: set[int] = set()
        for sp in spans:
            sp["self_s"] = sp["end"] - sp["start"] - sp["children_s"]
            job_ids = sorted(tracker.getJobIdsForGroup(sp["group"]))
            sp["jobs"] = len(job_ids)
            sp["job_intervals"] = []
            for f in STAGE_FIELDS:
                sp[f] = 0
            for jid in job_ids:
                job = store.job(jid)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    sp["job_intervals"].append(
                        (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                    )
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # stage evicted or never submitted
                        continue
                    sp["tasks"] += st.numCompleteTasks()
                    sp["input_bytes"] += st.inputBytes()
                    sp["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    sp["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    sp["executor_run_s"] += st.executorRunTime() / 1000.0
        return spans

    def dump(self, path: str) -> None:
        keep = ("id", "name", "layer", "parent", "op", "start", "end", "self_s",
                "jobs") + STAGE_FIELDS
        with open(path, "w") as fh:
            json.dump([{k: s.get(k) for k in keep} for s in self.spans], fh)


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
