"""Spans recorded from the benchmark's own files: thin timing wrappers
around the public calls into each layer, each tagging the Spark jobs it
starts with a job group so the event log can attribute them. Also the
self-time arithmetic that checks spans against batch intervals."""

from __future__ import annotations

import functools
import itertools
import time
from dataclasses import dataclass, field

from pyspark import SparkContext

import sparkcdc.apply as apply_mod
from sparkcdc.lake import LakeTable

from .eventlog import union_length

GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float
    tag: str = ""

    @property
    def dur(self) -> float:
        return self.end - self.start


class JobGroup:
    """Sets the Spark job group for the calling thread; restores the
    previous one on exit."""

    def __init__(self, sc: SparkContext, group: str):
        self.sc, self.group = sc, group

    def __enter__(self) -> None:
        self.prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, self.group)

    def __exit__(self, *exc) -> None:
        self.sc.setLocalProperty(GROUP, self.prev)


@dataclass
class Tracer:
    sc: SparkContext
    spans: list[Span] = field(default_factory=list)
    #: merge batch id whose inputs the ladder re-runs
    sample_batch: int | None = None
    captured: dict = field(default_factory=dict)
    _pending: dict = field(default_factory=dict)
    _undo: list = field(default_factory=list)

    def span(self, name: str, fn, *, group=None, tag_of=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tag = tag_of(args, kwargs) if tag_of else ""
            t0 = time.time()
            try:
                if group is None:
                    return fn(*args, **kwargs)
                with JobGroup(self.sc, f"{group}:{tag}"):
                    return fn(*args, **kwargs)
            finally:
                self.spans.append(Span(name, t0, time.time(), str(tag)))
        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        flatten = apply_mod.envelopes_to_changes
        reduce = apply_mod.reduce_last_write_wins
        merge, compact = LakeTable.merge, LakeTable.compact
        expire = LakeTable.expire_versions
        n_compactions = itertools.count()

        def flatten_capture(df, *a, **kw):
            out = flatten(df, *a, **kw)
            # the first flatten of a batch sees the source envelopes
            self._pending.setdefault("env", df)
            self._pending.setdefault("flat", out)
            return out

        def merge_capture(table, changes, batch_id, *a, **kw):
            pending, self._pending = self._pending, {}
            if batch_id == self.sample_batch:
                self.captured = {
                    **pending, "changes": changes, "table": table,
                    "aqe": table.spark.conf.get("spark.sql.adaptive.enabled"),
                }
            return merge(table, changes, batch_id, *a, **kw)

        self._patch(apply_mod, "envelopes_to_changes",
                    self.span("apply.flatten", flatten_capture))
        self._patch(apply_mod, "reduce_last_write_wins",
                    self.span("apply.reduce", reduce))
        self._patch(LakeTable, "merge", self.span(
            "lake.merge", merge_capture, group="lake.merge",
            tag_of=lambda a, kw: kw.get("batch_id", a[2] if len(a) > 2 else "")))
        self._patch(LakeTable, "compact", self.span(
            "lake.compact", compact, group="lake.compact",
            tag_of=lambda a, kw: next(n_compactions)))
        self._patch(LakeTable, "expire_versions",
                    self.span("lake.expire", expire))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    def wrap_source(self, envelopes_for):
        """Span and job group around a caller-supplied ``envelopes_for``."""
        if envelopes_for is None:
            return None
        return self.span("sources.plan", envelopes_for, group="sources.plan",
                         tag_of=lambda a, kw: a[0])


def batch_accounting(intervals: list[tuple[float, float]],
                     spans: list[Span], tol_s: float = 0.002) -> dict:
    """Split each batch interval into child-span time and engine self time.

    ``intervals`` are consecutive (start, end) batch intervals; ``spans``
    are the child spans recorded inside them. Each child must lie inside
    one interval (within ``tol_s``, the metrics log stamps whole
    milliseconds), and children must not overlap, so that children plus
    self time account for every interval exactly."""
    per_batch = []
    problems = []
    for lo, hi in intervals:
        inside = [s for s in spans if s.start >= lo - tol_s and s.end <= hi + tol_s]
        clipped = [(max(s.start, lo), min(s.end, hi)) for s in inside]
        covered = union_length(clipped)
        summed = sum(b - a for a, b in clipped)
        if summed - covered > tol_s:
            problems.append(f"overlapping child spans in [{lo:.3f}, {hi:.3f}]")
        per_batch.append({"interval": hi - lo, "children": covered,
                          "self": hi - lo - covered})
    lo_all, hi_all = intervals[0][0], intervals[-1][1]
    for s in spans:
        if s.end < lo_all - tol_s or s.start > hi_all + tol_s:
            continue
        if not any(s.start >= lo - tol_s and s.end <= hi + tol_s
                   for lo, hi in intervals):
            problems.append(f"span {s.name} [{s.start:.3f}, {s.end:.3f}] "
                            "crosses a batch boundary")
    return {"batches": per_batch, "problems": problems}
