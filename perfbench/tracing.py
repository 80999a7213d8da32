"""In-memory spans and Spark counters for the traced benchmark run.

The tracer measures each layer from outside, through its public
functions: it replaces a function with a timed wrapper in the module
that defines it and in every package module that imported it by name.
Spans nest as operation -> build/plan/exec -> wrapped library calls ->
Spark jobs. Spark jobs and stages come from the status store, which is
populated with the UI disabled; the store is drained after every
operation, so an operation owns every job submitted while it ran,
including jobs of streaming queries that run on their own threads.
"""

from __future__ import annotations

import contextlib
import importlib
import inspect
import sys
import time
from collections import Counter

PACKAGE = "mapreducelearnings_spark"

# (module, function, metric): the wrapped public functions of each layer.
# Functions sharing a metric are timed once, at the outermost call.
WRAPPED = [
    ("session", "get_spark", "session.get_spark"),
    ("catalog", "load_table", "catalog.load_table"),
    ("plans.iterate", "loop_conf", "loop_conf"),
    ("operators.graph", "sssp", "graph.sssp"),
    ("operators.graph", "sssp_with_paths", "graph.sssp"),
    ("operators.kmeans", "kmeans_1d", "kmeans.kmeans_1d"),
    ("pipeline.bpe", "train_merges", "bpe.train_merges"),
    ("pipeline.simsearch", "cosine_topk", "simsearch.cosine_topk"),
    ("pipeline.dedup", "minhash_signatures", "dedup.minhash_signatures"),
    ("pipeline.dedup", "lsh_candidate_pairs", "dedup.lsh_candidate_pairs"),
    ("streaming.windows", "run_enriched_totals_to_memory", "windows.run_enriched_totals_to_memory"),
]

# Per-stage fields summed from the status store's StageData.
STAGE_FIELDS = {
    "spark.task_s": ("executorRunTime", 1e-3),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.shuffle_read_b": ("shuffleReadBytes", 1),
    "spark.shuffle_write_b": ("shuffleWriteBytes", 1),
    "spark.spill_b": ("diskBytesSpilled", 1),
    "spark.input_b": ("inputBytes", 1),
    "spark.output_b": ("outputBytes", 1),
}


def _date_s(option) -> float | None:
    """Epoch seconds of a Scala ``Option[java.util.Date]``."""
    return option.get().getTime() / 1000.0 if option.isDefined() else None


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


class Tracer:
    """Spans and counts for one benchmark process."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self.counts: dict[str | None, Counter] = {}
        self._restore: list[tuple[object, str, object]] = []
        self._next_job = 0
        self._seen_stages: set[tuple[int, int]] = set()

    # -- spans and counts ------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "name": name,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def count(self, name: str, n: int = 1) -> None:
        self.counts.setdefault(self._op, Counter())[name] += n

    @contextlib.contextmanager
    def operation(self, op_id: str):
        """Attribute spans and counts opened inside to ``op_id``."""
        self._op = op_id
        try:
            with self.span("op") as rec:
                yield rec
        finally:
            self._op = None

    # -- wrapping --------------------------------------------------------
    def _patch(self, module: str, attr: str, make) -> None:
        home = importlib.import_module(f"{PACKAGE}.{module}")
        orig = getattr(home, attr)
        wrapper = make(orig)
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if (name == PACKAGE or name.startswith(PACKAGE + ".")) and getattr(
                mod, attr, None
            ) is orig:
                setattr(mod, attr, wrapper)
                self._restore.append((mod, attr, orig))

    def install(self) -> None:
        """Wrap every function in ``WRAPPED`` plus ``plans.iterate.iterate``.

        Import the modules that import these functions by name first.
        """
        for module, attr, metric in WRAPPED:
            self._patch(module, attr, lambda orig, m=metric: self._timed(orig, m))
        self._patch("plans.iterate", "iterate", self._traced_iterate)

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._restore):
            setattr(mod, attr, orig)
        self._restore.clear()

    def _timed(self, orig, metric: str):
        def wrapper(*args, **kwargs):
            self.count(metric + ".calls")
            with self.span(metric):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        return wrapper

    def _traced_iterate(self, orig):
        """Time ``iterate`` and count the step and converged callbacks."""
        sig = inspect.signature(orig)

        def counted(fn, name):
            def inner(*args, **kwargs):
                self.count(name)
                return fn(*args, **kwargs)

            return inner

        def wrapper(*args, **kwargs):
            bound = sig.bind(*args, **kwargs)
            bound.arguments["step"] = counted(bound.arguments["step"], "iterate.steps")
            if bound.arguments.get("converged") is not None:
                bound.arguments["converged"] = counted(
                    bound.arguments["converged"], "iterate.checks"
                )
            self.count("iterate.calls")
            with self.span("iterate"):
                return orig(*bound.args, **bound.kwargs)

        wrapper.__wrapped__ = orig
        return wrapper

    # -- Spark status store ------------------------------------------------
    def spark_counters(self, spark, op_span: dict) -> dict[str, float]:
        """Read the jobs submitted since the previous call.

        Adds one child span per job to ``op_span`` and returns the
        operation's job, stage and task counters.
        """
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = spark.sparkContext.statusTracker()
        end = jsc.dagScheduler().nextJobId()
        out = Counter({"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0})
        for name in STAGE_FIELDS:
            out[name] = 0
        intervals = []
        for jid in range(self._next_job, end):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            job = store.job(jid)
            start, stop = _date_s(job.submissionTime()), _date_s(job.completionTime())
            if start is not None and stop is not None:
                intervals.append((start, stop))
                self.spans.append(
                    {
                        "id": len(self.spans),
                        "parent": self._innermost(op_span, start),
                        "op": op_span["op"],
                        "name": "spark.job",
                        "job_id": jid,
                        "start": start,
                        "end": stop,
                    }
                )
            out["spark.jobs"] += 1
            for sid in info.stageIds:
                stage = store.lastStageAttempt(sid)
                key = (sid, stage.attemptId())
                if stage.status().toString() == "SKIPPED" or key in self._seen_stages:
                    continue
                self._seen_stages.add(key)
                out["spark.stages"] += 1
                out["spark.tasks"] += stage.numCompleteTasks() + stage.numFailedTasks()
                for name, (field, scale) in STAGE_FIELDS.items():
                    out[name] += getattr(stage, field)() * scale
        self._next_job = end
        wall = op_span["end"] - op_span["start"]
        busy = _covered(intervals, op_span["start"], op_span["end"])
        out["spark.job_wall_s"] = busy
        out["spark.driver_s"] = wall - busy
        return dict(out)

    def _innermost(self, op_span: dict, t: float) -> int:
        """Id of the latest-starting span of ``op_span``'s operation that
        was open at time ``t``: where a job submitted at ``t`` came from."""
        best = op_span
        for s in self.spans[op_span["id"] :]:
            if s["op"] == op_span["op"] and s["name"] != "spark.job" and s["start"] <= t <= s["end"]:
                if s["start"] >= best["start"]:
                    best = s
        return best["id"]

    # -- reporting ----------------------------------------------------------
    def op_times(self, op_id: str) -> dict[str, float]:
        """Seconds per span name for one operation, outermost spans only."""
        by_id = {s["id"]: s for s in self.spans}
        out: Counter = Counter()
        for s in self.spans:
            if s["op"] != op_id or "end" not in s:
                continue
            parent = s["parent"]
            nested = False
            while parent is not None:
                if by_id[parent]["name"] == s["name"]:
                    nested = True
                    break
                parent = by_id[parent]["parent"]
            if not nested:
                out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def with_self_time(self) -> list[dict]:
        """Spans with ``self_s``: duration minus what their children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            if "end" not in s:
                continue
            kids = children.get(s["id"], [])
            dur = s["end"] - s["start"]
            out.append({**s, "self_s": dur - _covered(kids, s["start"], s["end"])})
        return out
