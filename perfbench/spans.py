"""Timing shims around pysearch's public layer entry points.

Only the benchmark's own files are touched: each shim replaces a module
attribute (so intra-module calls, which resolve globals at call time, go
through it too) and records one span per call: name, start, end, parent
and op id. Spans stay in memory; ``per_op`` and ``self_times`` reduce
them once the run is over.

A name that no longer exists (a refactor collapsed a helper) is recorded
in ``absent`` and skipped, never an error.
"""

from __future__ import annotations

import functools
import importlib
import time
from dataclasses import dataclass, field


def _rows(args, res):
    return {"block_rows_read": 0 if res is None else len(res)}


def _blocks(args, res):
    return {"blocks_decoded": len(args[0])}


#: (module, attribute, span name, counter) — counter maps (args, result)
#: to a dict of counts recorded on the span, or None.
SHIMS = [
    ("pysearch.session", "get_spark", "session.get_spark", None),
    ("pysearch.store", "segment_index", "store.segment_index", None),
    ("pysearch.build", "corpus_from_documents", "build.corpus_from_documents", None),
    ("pysearch.build", "build_index", "build.build_index", None),
    ("pysearch.build", "write_index", "build.write_index", None),
    ("pysearch.build", "load_index", "build.load_index", None),
    ("pysearch.analysis", "analyze", "analysis.analyze", None),
    ("pysearch.exec", "term_meta", "exec.term_meta", None),
    ("pysearch.exec", "search", "exec.search", None),
    ("pysearch.exec", "search_interactive", "exec.search_interactive", None),
    ("pysearch.exec", "search_many", "exec.search_many", None),
    ("pysearch.exec", "search_query_string", "exec.search_query_string", None),
    ("pysearch.exec", "_local_blocks_pandas", "exec.block_read", _rows),
    ("pysearch.exec", "_score_blocks_pd", "exec.score", None),
    ("pysearch.codec", "decode_blocks_concat", "codec.decode_blocks_concat", _blocks),
    ("pysearch.plan", "parse_query_string", "plan.parse_query_string", None),
    ("pysearch.versioning", "open_view", "versioning.open_view", None),
    ("pysearch.versioning", "update_doc", "versioning.update_doc", None),
    ("pysearch.versioning", "delete_doc", "versioning.delete_doc", None),
    ("pysearch.versioning", "search_view", "versioning.search_view", None),
    ("pysearch.versioning", "compact", "versioning.compact", None),
    ("pysearch.merge", "merge_indexes", "merge.merge_indexes", None),
]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    op_id: int = -1
    counts: dict = field(default_factory=dict)


#: spans that also record how many Spark jobs ran inside them
JOB_SPANS = frozenset({"exec.term_meta"})


class Tracer:
    """Collects spans. ``enabled=False`` installs no shim. ``jobs_fn``
    returns the number of Spark jobs started so far in the current op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.absent: list[str] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []
        self.op_id = -1
        #: spans are recorded only while active, so benchmark-side work
        #: (oracle builds, checks) that calls e.g. analysis.analyze adds none
        self.active = False
        self.jobs_fn = None

    # ---- span recording -------------------------------------------------
    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.perf_counter(), parent=parent,
                               op_id=self.op_id))
        i = len(self.spans) - 1
        self._stack.append(i)
        return i

    def end(self, i: int, counts: dict | None = None) -> None:
        self.spans[i].end = time.perf_counter()
        if counts:
            self.spans[i].counts.update(counts)
        self._stack.pop()

    def _wrap(self, fn, name, counter):
        tracer = self

        @functools.wraps(fn)
        def shim(*args, **kw):
            if not tracer.active:
                return fn(*args, **kw)
            count_jobs = name in JOB_SPANS and tracer.jobs_fn is not None
            j0 = tracer.jobs_fn() if count_jobs else 0
            i = tracer.begin(name)
            res = None
            try:
                res = fn(*args, **kw)
                return res
            finally:
                counts = counter(args, res) if counter else {}
                if count_jobs:
                    counts["jobs"] = tracer.jobs_fn() - j0
                tracer.end(i, counts)

        return shim

    # ---- install / remove -------------------------------------------------
    def install(self) -> None:
        if not self.enabled:
            return
        for mod_name, attr, name, counter in SHIMS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr, None)
            if fn is None:
                self.absent.append(name)
                continue
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, name, counter))
        from pyspark.sql import SparkSession

        try:    # Spark 4: the class behind every classic DataFrame
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        # Spark's own entry points: the DataFrame wrap and the action that
        # runs a query's jobs and brings its rows to the driver
        for owner, attr, name in ((SparkSession, "createDataFrame", "spark.createDataFrame"),
                                  (DataFrame, "collect", "spark.collect")):
            fn = getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name, None))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()

    # ---- reductions -------------------------------------------------------
    def self_times(self) -> list[float]:
        """Per span: duration minus the union of its children's intervals
        (clipped to the span)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent >= 0:
                kids.setdefault(s.parent, []).append(s)
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out.append(s.end - s.start - covered)
        return out

    def per_op(self) -> dict[int, dict]:
        """op id -> {"self": {span name: seconds}, "dur": {...},
        "counts": {...}} summed over the op's spans."""
        selfs = self.self_times()
        ops: dict[int, dict] = {}
        for s, st in zip(self.spans, selfs):
            if s.op_id < 0:
                continue
            o = ops.setdefault(s.op_id, {"self": {}, "dur": {}, "counts": {}})
            o["self"][s.name] = o["self"].get(s.name, 0.0) + st
            o["dur"][s.name] = o["dur"].get(s.name, 0.0) + (s.end - s.start)
            for k, v in s.counts.items():
                o["counts"][k] = o["counts"].get(k, 0) + v
        return ops


def calibrate_overhead(n: int = 20000) -> float:
    """Seconds one shimmed call adds over a plain call."""
    t = Tracer(True)

    def f(x):
        return x

    g = t._wrap(f, "cal", None)
    t.active = True
    t0 = time.perf_counter()
    for i in range(n):
        f(i)
    plain = time.perf_counter() - t0
    t0 = time.perf_counter()
    for i in range(n):
        g(i)
    return max((time.perf_counter() - t0 - plain) / n, 0.0)
