"""In-memory spans around the engine's public functions.

The traced run wraps each layer's public entry points from outside the
engine: every name is patched where its caller looks it up (for example
``streaming.apply.compact``, the name ``CdcPipeline`` calls), so no engine
file changes. A span records name, start, end, parent and epoch id; spans
stay in a list and are summarised when the run ends. Self time is a span's
duration minus the time its direct children cover (the benchmark drives one
call at a time, so children never overlap).
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    epoch: int | None
    end: float = 0.0
    child_s: float = 0.0
    args: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._undo: list = []
        self.epoch: int | None = None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent, self.epoch)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].child_s += s.dur

    def wrapped(self, fn, name: str, note=None):
        @functools.wraps(fn)
        def inner(*a, **kw):
            with self.span(name) as s:
                if note is not None:
                    s.args.update(note(*a, **kw))
                return fn(*a, **kw)

        return inner

    def patch(self, owner, attr: str, name: str, note=None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper (functions,
        methods and classmethods alike). ``note(*args, **kwargs)`` returns
        a dict stored on the span (e.g. how many buckets a call rewrote)."""
        orig = owner.__dict__[attr]
        if isinstance(orig, classmethod):
            new = classmethod(self.wrapped(orig.__func__, name, note))
        else:
            new = self.wrapped(orig, name, note)
        setattr(owner, attr, new)
        self._undo.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ summary
    def within(self, root: str) -> list[Span]:
        """Spans nested (at any depth) under spans named ``root``."""
        inside: set[int] = set()
        out = []
        for i, s in enumerate(self.spans):
            if s.name == root:
                inside.add(i)
            elif s.parent in inside:
                inside.add(i)
                out.append(s)
        return out

    def of(self, name: str, root: str | None = None) -> list[Span]:
        pool = self.spans if root is None else self.within(root)
        return [s for s in pool if s.name == name]


def _n_buckets(spark, table, buckets=None, *a, **kw) -> dict:
    return {"buckets": None if buckets is None else len(buckets)}


def _n_files(self, new_files, *a, **kw) -> dict:
    return {"files": sum(len(fs) for fs in new_files.values())}


def install(tracer: Tracer) -> None:
    """Wrap the public functions of every layer the benchmark reports."""
    from etl_documentos_spark.lake.table import LakeTable
    from etl_documentos_spark.operators import merge
    from etl_documentos_spark.streaming import apply
    from etl_documentos_spark.streaming.commitlog import CommitLog

    p = tracer.patch
    p(apply.CdcPipeline, "apply_epoch", "apply")
    p(apply.CdcPipeline, "apply_epochs_bulk_files", "apply")
    p(apply, "evolve_if_needed", "evolve")
    p(apply, "compact", "compact", note=_n_buckets)
    p(apply, "append_lineage_rows", "lineage")
    p(apply, "append_metrics", "lineage")
    p(LakeTable, "load", "table.load")
    p(LakeTable, "write_data_files_direct", "table.write_data_files_direct")
    p(LakeTable, "write_change_files_direct", "table.write_change_files_direct")
    p(LakeTable, "commit_append", "table.commit_append", note=_n_files)
    p(LakeTable, "commit_overwrite", "table.commit_overwrite", note=_n_files)
    p(CommitLog, "is_committed", "commitlog.is_committed")
    p(CommitLog, "commit", "commitlog.commit")
    p(CommitLog, "compact_log", "commitlog.compact_log")
    p(merge, "bucket_of", "merge.bucket_of")
