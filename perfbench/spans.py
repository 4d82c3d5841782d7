"""In-memory spans around calls into sparktax's public API.

Spans are recorded only in the traced run. :func:`instrumented` wraps the
public callables from outside (no edit under ``sparktax/``) and restores
them on exit:

* ``StageCheckpointer.stage`` — one span per stage name. The span is the
  outside view: it includes the stage callable's eager work, which runs
  before the manifest's ``wall_sec`` clock starts (``ckpt.py``), and the
  manifest bookkeeping after the write.
* ``extract_taxonomy`` and ``ExpressiveExtractor.run``;
* each ``KnowledgeGraph`` query method of the mix (:data:`queries.OPS`).

The tracer times its own bookkeeping (job-group switches and
``statusTracker()`` reads); a span's ``inner_cost_s`` is that time spent
inside it, which is what tracing adds to the span's duration.

Every span sets its own Spark job group, so ``statusTracker()`` counts the
jobs it started. Jobs submitted from threads the span did not create
carry no group (local properties do not follow Python threads); a span
claims the ungrouped jobs that started while it was open and that no
child span claimed.
"""

from __future__ import annotations

import contextlib
import functools
import time

from queries import OPS as QUERY_METHODS


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._claimed: set[int] = set()
        self.cost_s = 0.0  # time spent in span bookkeeping, all spans
        self.active = False  # True inside instrumented()

    def _ungrouped(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    @contextlib.contextmanager
    def span(self, name: str):
        t_enter = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "children_s": 0.0,
        }
        self.spans.append(rec)
        group = f"perfbench-{rec['id']}"
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        before = self._ungrouped()
        self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.cost_s += rec["start"] - t_enter
        cost_before = self.cost_s
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["inner_cost_s"] = self.cost_s - cost_before
            self._stack.pop()
            stray = self._ungrouped() - before - self._claimed
            self._claimed |= stray
            rec["self_jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group)) + len(stray)
            if prev_group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev_group, prev_desc or "")
            rec["dur_s"] = rec["end"] - rec["start"]
            if self._stack:
                self._stack[-1]["children_s"] += rec["dur_s"]
            self.cost_s += time.perf_counter() - rec["end"]

    def named(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix)]

    def jobs(self, rec: dict) -> int:
        """Jobs started under ``rec`` and its descendants."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return rec["self_jobs"] + sum(self.jobs(k) for k in kids)

    def report(self) -> list[dict]:
        """Per-span name, parent, duration and self time (duration minus
        the part covered by child spans), in start order."""
        return [
            {
                "id": s["id"],
                "name": s["name"],
                "parent": s["parent"],
                "dur_s": round(s["dur_s"], 6),
                "self_s": round(s["dur_s"] - s["children_s"], 6),
                "jobs": self.jobs(s),
                "self_jobs": s["self_jobs"],
            }
            for s in self.spans
            if "dur_s" in s
        ]


def _wrap(tracer: Tracer, fn, label):
    @functools.wraps(fn)
    def inner(*args, **kwargs):
        with tracer.span(label(*args, **kwargs)):
            return fn(*args, **kwargs)

    return inner


@contextlib.contextmanager
def instrumented(tracer: Tracer):
    """Patch sparktax's public callables to record spans; undo on exit."""
    from sparktax.ckpt import StageCheckpointer
    from sparktax.expressive import ExpressiveExtractor
    from sparktax.extraction import pipeline as extraction
    from sparktax.graph.kg import KnowledgeGraph

    patches = [
        (StageCheckpointer, "stage", lambda self, name, *a, **k: f"stage:{name}"),
        (extraction, "extract_taxonomy", lambda *a, **k: "extraction.extract_taxonomy"),
        (ExpressiveExtractor, "run", lambda *a, **k: "expressive.run"),
    ] + [
        (KnowledgeGraph, m, lambda *a, _m=m, **k: f"kg.{_m}") for m in QUERY_METHODS
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in patches]
    try:
        for (owner, attr, label), (_, _, orig) in zip(patches, saved):
            setattr(owner, attr, _wrap(tracer, orig, label))
        tracer.active = True
        yield tracer
    finally:
        tracer.active = False
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)
