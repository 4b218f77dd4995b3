"""Spans recorded from outside the program.

The traced run replaces selected functions of the package with wrappers
that open a span around each call; nothing in the package changes. Each
span tags the Spark jobs it starts with a job group of its own, and after
the run the jobs, task time and shuffle bytes are read back from Spark's
status store and charged to the span that started them. Jobs started on
a thread that carries no group are charged to the innermost span open at
their submission time.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"
FIELDS = ("wall_s", "self_s", "jobs", "task_s", "shuffle_bytes")

# (module, attribute, span name). "Class.method" patches the class, so
# subclasses that do not override the method are covered too. A function
# is also replaced in every loaded module of the package that imported
# it by name.
PATCHES = (
    ("duckdb_ann_spark.index.api", "create_index", "index.api.create_index"),
    ("duckdb_ann_spark.index.api", "index_scan", "index.api.index_scan"),
    ("duckdb_ann_spark.index.api", "insert_into_index",
     "index.api.insert_into_index"),
    ("duckdb_ann_spark.index.api", "delete_from_index",
     "index.api.delete_from_index"),
    ("duckdb_ann_spark.index.api", "vacuum_index", "index.api.vacuum_index"),
    ("duckdb_ann_spark.index.catalog", "Catalog.commit",
     "index.catalog.commit"),
    ("duckdb_ann_spark.index.vamana", "VamanaEngine.build",
     "index.vamana.build"),
    ("duckdb_ann_spark.index.vamana", "VamanaEngine.search",
     "index.vamana.search"),
    ("duckdb_ann_spark.index.ivf", "_kmeans", "index.ivf.train"),
    ("duckdb_ann_spark.index.ivf", "IvfFlatEngine.search", "index.ivf.search"),
    ("duckdb_ann_spark.index.calibration", "measure_probe_calibration",
     "index.calibration.measure_probe_calibration"),
    ("duckdb_ann_spark.index.calibration", "measure_graph_calibrations",
     "index.calibration.measure_graph_calibrations"),
    ("duckdb_ann_spark.operators.knn_join", "knn_join",
     "operators.knn_join.knn_join"),
    ("duckdb_ann_spark.operators.hybrid", "hybrid_search",
     "operators.hybrid.hybrid_search"),
    ("duckdb_ann_spark.operators.dedup", "minhash_candidate_pairs",
     "operators.dedup.minhash_candidate_pairs"),
    ("duckdb_ann_spark.pipeline", "prepare_corpus", "pipeline.prepare_corpus"),
)
SPAN_NAMES = tuple(dict.fromkeys(p[2] for p in PATCHES))


@dataclass
class Span:
    name: str
    sid: int
    parent: int | None
    start: float  # perf_counter seconds
    end: float = 0.0
    epoch_ms: float = 0.0  # wall clock at start, for Spark's timestamps
    children: list = field(default_factory=list)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, children: list) -> float:
    """The span's wall time minus the part of it its children cover.
    Children that overlap each other (one ran on another thread) are
    counted once."""
    return (span.end - span.start) - union_length(
        [(c.start, c.end) for c in children], span.start, span.end)


class Tracer:
    """Spans kept in memory; `enabled=False` makes `span` a no-op."""

    def __init__(self, sc=None, enabled: bool = True):
        self.enabled = enabled
        self._sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = {}
        self._main = threading.get_ident()
        self._patched: list = []
        self.bookkeeping_s = 0.0
        # perf_counter and epoch clocks, read together, to place Spark's
        # millisecond timestamps on the span timeline
        self._epoch0 = time.time() * 1000.0
        self._perf0 = time.perf_counter()

    def _set_group(self, group: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            top = stack[-1] if stack else None
            if top is None and tid != self._main:
                main = self._stacks.get(self._main)
                top = main[-1] if main else None
            reentry = top is not None and top.name == name
            if not reentry:
                sp = Span(name, len(self.spans), top.sid if top else None,
                          t_in, epoch_ms=self._epoch0
                          + (t_in - self._perf0) * 1000.0)
                self.spans.append(sp)
                if top is not None:
                    top.children.append(sp)
                stack.append(sp)
        if reentry:  # a wrapped call inside a span of its own name
            yield
            return
        self._set_group(GROUP_PREFIX + str(sp.sid))
        t_body = time.perf_counter()
        self.bookkeeping_s += t_body - t_in
        try:
            yield
        finally:
            t_out = time.perf_counter()
            sp.end = t_out
            with self._lock:
                stack.pop()
                parent = stack[-1] if stack else None
            self._set_group(
                GROUP_PREFIX + str(parent.sid) if parent else None)
            self.bookkeeping_s += time.perf_counter() - t_out

    # -- patching ------------------------------------------------------

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def install(self, patches=PATCHES) -> None:
        for mod_name, attr, name in patches:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                owner = getattr(mod, cls_name)
                orig = owner.__dict__[meth]
                self._swap(owner, meth, orig, self.wrap(orig, name))
                continue
            orig = getattr(mod, attr)
            traced = self.wrap(orig, name)
            for m in list(sys.modules.values()):
                if (getattr(m, "__name__", "").startswith("duckdb_ann_spark")
                        and getattr(m, attr, None) is orig):
                    self._swap(m, attr, orig, traced)

    def _swap(self, owner, attr, orig, new) -> None:
        setattr(owner, attr, new)
        self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- results -------------------------------------------------------

    def coverage(self, lo: float, hi: float) -> float:
        """Share of [lo, hi] covered by top-level spans."""
        tops = [(s.start, s.end) for s in self.spans if s.parent is None]
        return union_length(tops, lo, hi) / (hi - lo)

    def _owner_of(self, job: dict) -> Span | None:
        group = job["group"] or ""
        if group.startswith(GROUP_PREFIX):
            sid = int(group[len(GROUP_PREFIX):])
            if 0 <= sid < len(self.spans):
                return self.spans[sid]
        t = job["submitted_ms"]
        best = None
        for s in self.spans:
            end_ms = s.epoch_ms + (s.end - s.start) * 1000.0
            if s.epoch_ms <= t <= end_ms and (
                    best is None or s.epoch_ms >= best.epoch_ms):
                best = s
        return best

    def summary(self, jobs: list) -> dict:
        """Per span name: FIELDS summed over its calls. Jobs, task
        seconds and shuffle bytes include the span's descendants; a span
        nested in one of the same name is counted once."""
        own: dict[int, list] = {}
        for job in jobs:
            s = self._owner_of(job)
            if s is not None:
                own.setdefault(s.sid, []).append(job)

        def subtree_jobs(s: Span) -> dict:
            out = {j["id"]: j for j in own.get(s.sid, [])}
            for c in s.children:
                out.update(subtree_jobs(c))
            return out

        out = {n: dict.fromkeys(FIELDS, 0.0) for n in SPAN_NAMES}
        seen: dict[str, set] = {}
        for s in self.spans:
            if not s.end:
                continue
            agg = out.setdefault(s.name, dict.fromkeys(FIELDS, 0.0))
            agg["wall_s"] += s.end - s.start
            agg["self_s"] += self_time(s, s.children)
            ids = seen.setdefault(s.name, set())
            for jid, j in subtree_jobs(s).items():
                if jid in ids:
                    continue
                ids.add(jid)
                agg["jobs"] += 1
                agg["task_s"] += j["task_s"]
                agg["shuffle_bytes"] += j["shuffle_bytes"]
        return out


def spark_jobs(sc, since_ms: float) -> list[dict]:
    """Jobs submitted at or after `since_ms`, read from Spark's status
    store: id, group, submission time, executor run seconds and shuffle
    bytes written. A stage skipped by a later job is charged to the first
    job that ran it."""
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    stages = store.stageList(None, False, False,
                             sc._gateway.new_array(jvm.double, 0), None)
    by_stage: dict[int, tuple[float, float]] = {}
    for i in range(stages.size()):
        st = stages.apply(i)
        task_s, shuf = by_stage.get(st.stageId(), (0.0, 0.0))
        by_stage[st.stageId()] = (task_s + st.executorRunTime() / 1000.0,
                                  shuf + st.shuffleWriteBytes())
    raw = store.jobsList(None)
    jobs = []
    for i in range(raw.size()):
        j = raw.apply(i)
        sub = j.submissionTime()
        if not sub.isDefined() or sub.get().getTime() < since_ms:
            continue
        grp = j.jobGroup()
        sids = j.stageIds()
        jobs.append({
            "id": j.jobId(),
            "group": grp.get() if grp.isDefined() else None,
            "submitted_ms": float(sub.get().getTime()),
            "stages": [sids.apply(x) for x in range(sids.size())],
        })
    jobs.sort(key=lambda j: j["id"])
    charged: set[int] = set()
    for j in jobs:
        task_s = shuf = 0.0
        for sid in j.pop("stages"):
            if sid in charged or sid not in by_stage:
                continue
            charged.add(sid)
            task_s += by_stage[sid][0]
            shuf += by_stage[sid][1]
        j["task_s"], j["shuffle_bytes"] = task_s, shuf
    return jobs
