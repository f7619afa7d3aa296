"""Span tracing of one benchmark run, from the benchmark's own files.

``Tracer.installed()`` wraps the public entry points of each layer of
``graphframes_spark`` (GraphFrame methods, ``patterns.parse``,
``motif.find_simple``, ``Pregel.run``, the ``IterationHarness`` methods,
the ``lib`` functions and the dedup pipeline) in spans, and restores the
originals on exit. Every span carries name, start, end, parent and op id;
spans stay in memory until ``dump``. Spark job, stage and task counts come
per op from the job group each op runs under.

``NullTracer`` has the same interface and records nothing: the untraced
passes that give the end-to-end metrics run through it.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass
from typing import Callable, Iterator, Optional

#: lib functions whose self time and call count are reported
LIB_FUNCTIONS = (
    ("connected_components", "connected_components"),
    ("connected_components", "incremental_connected_components"),
    ("pagerank", "page_rank"),
    ("label_propagation", "label_propagation"),
    ("shortest_paths", "shortest_paths"),
    ("sssp", "shortest_paths_weighted"),
    ("triangle_count", "clustering_coefficient"),
    ("bfs", "bfs"),
)
GRAPHFRAME_METHODS = (
    "find",
    "bfs",
    "pageRank",
    "shortestPaths",
    "shortestPathsWeighted",
    "connectedComponents",
    "incrementalConnectedComponents",
    "labelPropagation",
    "clusteringCoefficient",
)
GRAPHFRAME_PROPERTIES = ("degrees",)
HARNESS_METHODS = ("pin", "persist", "track", "checkpoint", "commit", "rotate", "finish")
DEDUP = "datapipe.minhash_lsh_dedup"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: Optional[int]
    op: str


class NullTracer:
    """Records nothing; ops still run under their own Spark job group."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def op(self, name: str) -> Iterator[None]:
        self._n += 1
        self._sc.setJobGroup(f"op-{self._n}", name)
        try:
            yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)

    def span(self, name: str):
        return nullcontext()


class Tracer(NullTracer):
    def __init__(self, spark) -> None:
        super().__init__(spark)
        self.spans: list[Span] = []
        self.ops: list[tuple[str, str]] = []  # (op id, op name)
        self._stack: list[int] = []
        self._op_id = ""
        #: last frames seen by the dedup hooks, counted after the run
        self.stash: dict = {}
        self._counts: Optional[dict] = None
        #: the tracer's own time spent opening and closing spans
        self.bookkeeping_s = 0.0

    # ----------------------------------------------------------- spans

    @contextmanager
    def op(self, name: str) -> Iterator[None]:
        with super().op(name):
            self._op_id = f"op-{self._n}"
            self.ops.append((self._op_id, name))
            try:
                with self.span("op"):
                    yield
            finally:
                self._op_id = ""

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        span = Span(name, 0.0, 0.0, parent, self._op_id)
        self.spans.append(span)
        self._stack.append(idx)
        span.start = time.perf_counter()
        self.bookkeeping_s += span.start - t0
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - span.end

    def _in(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self._stack)

    def wrap(self, name: str, fn: Callable, after: Optional[Callable] = None) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(args, out)
            return out

        return traced

    # -------------------------------------------------------- patching

    def _targets(self) -> list[tuple[object, str, str, Optional[Callable]]]:
        import importlib

        from graphframes_spark import motif, patterns
        from graphframes_spark.datapipe import dedup
        from graphframes_spark.graphframe import GraphFrame
        from graphframes_spark.harness import IterationHarness
        from graphframes_spark.pregel import Pregel

        def stash_candidates(args, out):
            self.stash["candidate_pairs"] = out

        def stash_verified(args, out):
            # inside the dedup pipeline, the graph handed to connected
            # components is exactly the verified-pair edge set
            if self._in(DEDUP):
                self.stash["verified_pairs"] = args[0].edges

        targets = [
            (GraphFrame, m, f"graphframe.{m}",
             stash_verified if m == "connectedComponents" else None)
            for m in GRAPHFRAME_METHODS
        ]
        targets += [
            (patterns, "parse", "patterns.parse", None),
            (motif, "find_simple", "motif.find_simple", None),
            (Pregel, "run", "pregel.run", None),
            (dedup, "minhash_lsh_dedup", DEDUP, None),
            (dedup, "lsh_candidate_pairs", "datapipe.lsh_candidate_pairs", stash_candidates),
        ]
        targets += [(IterationHarness, m, f"harness.{m}", None) for m in HARNESS_METHODS]
        for mod, fn in LIB_FUNCTIONS:
            module = importlib.import_module(f"graphframes_spark.lib.{mod}")
            targets.append((module, fn, f"lib.{fn}", None))
        return targets

    @contextmanager
    def installed(self) -> Iterator["Tracer"]:
        from graphframes_spark.graphframe import GraphFrame

        saved = []
        try:
            for owner, attr, name, after in self._targets():
                orig = vars(owner)[attr]
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(name, orig, after))
            for attr in GRAPHFRAME_PROPERTIES:
                prop = vars(GraphFrame)[attr]
                saved.append((GraphFrame, attr, prop))
                setattr(GraphFrame, attr, property(self.wrap(f"graphframe.{attr}", prop.fget)))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    # ------------------------------------------------------- reporting

    def self_times(self) -> list[float]:
        own = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.end - s.start
        return own

    def self_time_gap(self) -> float:
        """Largest |sum of span self times - op wall time| over ops."""
        own = self.self_times()
        per_op: dict[str, float] = {}
        wall: dict[str, float] = {}
        for s, t in zip(self.spans, own):
            per_op[s.op] = per_op.get(s.op, 0.0) + t
            if s.name == "op":
                wall[s.op] = s.end - s.start
        if per_op.keys() != wall.keys():
            return float("inf")
        return max((abs(per_op[k] - wall[k]) for k in wall), default=0.0)

    def spark_counts(self) -> dict[str, dict[str, int]]:
        """op id -> {jobs, stages, tasks, failed_tasks}, from job groups.
        Read once, after the last traced op."""
        if self._counts is None:
            self._counts = self._read_spark_counts()
        return self._counts

    def _read_spark_counts(self) -> dict[str, dict[str, int]]:
        sc = self._sc
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        out = {}
        for op_id, _ in self.ops:
            c = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
            for jid in tracker.getJobIdsForGroup(op_id):
                job = tracker.getJobInfo(jid)
                if job is None:
                    raise RuntimeError(f"job {jid} of {op_id} was evicted")
                c["jobs"] += 1
                for sid in job.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is None:
                        raise RuntimeError(f"stage {sid} of {op_id} was evicted")
                    ran = st.numCompletedTasks + st.numFailedTasks
                    c["stages"] += ran > 0
                    c["tasks"] += st.numCompletedTasks
                    c["failed_tasks"] += st.numFailedTasks
            out[op_id] = c
        return out

    def layer_metrics(self, passes: int) -> dict[str, float]:
        """Per-layer metrics, as means per traced pass."""
        own = self.self_times()
        incl: dict[str, float] = {}
        self_s: dict[str, float] = {}
        calls: dict[str, int] = {}
        for s, t in zip(self.spans, own):
            incl[s.name] = incl.get(s.name, 0.0) + (s.end - s.start)
            self_s[s.name] = self_s.get(s.name, 0.0) + t
            calls[s.name] = calls.get(s.name, 0) + 1
        # harness commits that run inside Pregel.run are its supersteps
        supersteps = sum(
            1 for s in self.spans
            if s.name == "harness.commit" and self._has_ancestor(s, "pregel.run")
        )
        m: dict[str, float] = {
            "op.build_s": incl.get("op.build", 0.0),
            "op.sink_s": incl.get("op.sink", 0.0),
            "patterns.parse_s": incl.get("patterns.parse", 0.0),
            "patterns.parse_calls": calls.get("patterns.parse", 0),
            "motif.find_s": incl.get("motif.find_simple", 0.0),
            "motif.find_calls": calls.get("motif.find_simple", 0),
            "pregel.run_self_s": self_s.get("pregel.run", 0.0),
            "pregel.supersteps": supersteps,
            "harness.commit_calls": calls.get("harness.commit", 0),
            "harness.commit_s": self_s.get("harness.commit", 0.0),
            "harness.checkpoint_calls": calls.get("harness.checkpoint", 0),
            "harness.checkpoint_s": self_s.get("harness.checkpoint", 0.0),
            "harness.persist_calls": calls.get("harness.persist", 0) + calls.get("harness.pin", 0),
            "harness.finish_s": self_s.get("harness.finish", 0.0),
            "trace.bookkeeping_s": self.bookkeeping_s,
            f"{DEDUP}.self_s": self_s.get(DEDUP, 0.0),
        }
        for _, fn in LIB_FUNCTIONS:
            m[f"lib.{fn}.self_s"] = self_s.get(f"lib.{fn}", 0.0)
            m[f"lib.{fn}.calls"] = calls.get(f"lib.{fn}", 0)
        totals = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for c in self.spark_counts().values():
            for k in totals:
                totals[k] += c[k]
        for k, v in totals.items():
            m[f"spark.{k}"] = v
        per_pass = {k: v / passes for k, v in m.items()}
        per_pass["pregel.superstep_s"] = (
            incl.get("pregel.run", 0.0) / supersteps if supersteps else 0.0
        )
        per_pass.update(self._dedup_counts())
        return per_pass

    def _has_ancestor(self, s: Span, name: str) -> bool:
        p = s.parent
        while p is not None:
            if self.spans[p].name == name:
                return True
            p = self.spans[p].parent
        return False

    def _dedup_counts(self) -> dict[str, float]:
        """Candidate and verified pair counts of the last dedup traced
        (counted after the run, outside every op)."""
        cands = self.stash.get("candidate_pairs")
        verified = self.stash.get("verified_pairs")
        n_c = cands.count() if cands is not None else 0
        n_v = verified.count() if verified is not None else 0
        return {
            "datapipe.candidate_pairs": n_c,
            "datapipe.verified_pairs": n_v,
            "datapipe.lsh_precision": n_v / n_c if n_c else 0.0,
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "ops": self.ops,
                    "spans": [asdict(s) for s in self.spans],
                    "spark": self.spark_counts(),
                },
                fh,
            )
