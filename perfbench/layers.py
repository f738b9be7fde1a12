"""Timing and per-layer attribution, recorded from outside the engine.

Nothing in ``go_crawler_spark`` is edited; this module wraps the public
functions of each layer at run time.

* ``IterationClock`` (every run) stamps the start of each
  ``Crawler.run_iteration`` call and the end of each ``Crawler.run``, so
  iteration wall times are measured from outside.  It makes no Spark
  call.
* ``Tracer`` (traced runs only) times the lakehouse writers and tags
  every Spark job a layer submits with the job group ``<op>|<layer>``.
  Wrappers are re-entrant: ``Lakehouse.append`` calls ``append_counted``
  and the inner call is charged to the outer one.  The group is set in
  the calling thread, so the crawl's sink threads tag their own jobs.
  The frontier and seen plan builders do no Spark work when called, so
  the tracer keeps the plans each iteration built and replays them with
  noop sinks after the crawl has finished, under their own job groups.
* ``read_event_log`` reads Spark's event log after the session stops.
  Stages are charged to a job group through the properties of their
  submission event, and only stages that completed are counted, never
  the skipped stages a job merely lists.  Task core-seconds are the
  tasks' executor run time; written bytes and files come from the task
  output metrics and the SQL write metrics.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict

LAKEHOUSE_METHODS = ("append", "append_counted", "append_tagged", "compact_table")


class _Patcher:
    def __init__(self):
        self._undo: list[tuple[object, str, object]] = []

    def _patch(self, owner, name: str, make) -> None:
        orig = getattr(owner, name)
        self._undo.append((owner, name, orig))
        setattr(owner, name, functools.wraps(orig)(make(orig)))

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()


class IterationClock(_Patcher):
    """Wall time of every crawl iteration: from its start to the next
    iteration's start, the last one to the end of ``Crawler.run``."""

    def __init__(self):
        super().__init__()
        self._starts: list[float] = []
        self._end = 0.0

    def install(self) -> None:
        from go_crawler_spark.crawl import Crawler

        clock = self

        def iter_make(orig):
            def run_iteration(crawler, *args, **kwargs):
                clock._starts.append(time.perf_counter())
                return orig(crawler, *args, **kwargs)

            return run_iteration

        def run_make(orig):
            def run(crawler, *args, **kwargs):
                try:
                    return orig(crawler, *args, **kwargs)
                finally:
                    clock._end = time.perf_counter()

            return run

        self._patch(Crawler, "run_iteration", iter_make)
        self._patch(Crawler, "run", run_make)

    def take(self) -> list[float]:
        """Iteration wall times of the last crawl; resets the clock."""
        bounds = self._starts + [self._end]
        self._starts = []
        return [b - a for a, b in zip(bounds, bounds[1:])]


class Tracer(_Patcher):
    """Spans, job groups and captured plans of one traced run."""

    def __init__(self, spark):
        super().__init__()
        self.sc = spark.sparkContext
        self.op = "setup"
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spans: list[tuple[str, str, float]] = []  # (op, layer, seconds)
        self.captured: dict[str, list] = defaultdict(list)

    # -- job groups -----------------------------------------------------------

    def _set_group(self, name: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", name)

    def run_tagged(self, layer: str, fn):
        """Call ``fn()`` with its jobs tagged ``<op>|<layer>``; returns
        (result, seconds)."""
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self._set_group(f"{self.op}|{layer}")
        t0 = time.perf_counter()
        try:
            return fn(), time.perf_counter() - t0
        finally:
            self._set_group(prev)

    def span_seconds(self, op: str, layer: str) -> float:
        return sum(s for o, l, s in self.spans if o == op and l == layer)

    # -- wrappers -------------------------------------------------------------

    def _layer_wrapper(self, layer: str, nested: bool = True):
        """``nested=False`` marks an outer layer (the whole crawl): the
        layers it calls still get their own groups."""
        tracer = self

        def make(orig):
            def wrapper(*args, **kwargs):
                if not nested:
                    out, secs = tracer.run_tagged(layer, lambda: orig(*args, **kwargs))
                    tracer.spans.append((tracer.op, layer, secs))
                    return out
                if getattr(tracer._local, "inside", False):
                    return orig(*args, **kwargs)  # charged to the outer call
                tracer._local.inside = True
                try:
                    out, secs = tracer.run_tagged(layer, lambda: orig(*args, **kwargs))
                finally:
                    tracer._local.inside = False
                with tracer._lock:
                    tracer.spans.append((tracer.op, layer, secs))
                return out

            return wrapper

        return make

    def _capture_wrapper(self, key: str):
        tracer = self

        def make(orig):
            def wrapper(*args, **kwargs):
                out = orig(*args, **kwargs)
                tracer.captured[key].append((args, out))
                return out

            return wrapper

        return make

    def install(self) -> None:
        from go_crawler_spark import crawl, rank
        from go_crawler_spark.lakehouse import Lakehouse
        from go_crawler_spark.operators import seen

        for m in LAKEHOUSE_METHODS:
            self._patch(Lakehouse, m, self._layer_wrapper(f"lh.{m}"))
        self._patch(crawl.Crawler, "run", self._layer_wrapper("crawl", nested=False))
        # rank_and_persist looks rank() up in its module: PageRank alone
        self._patch(rank, "rank", self._layer_wrapper("rank.rank"))
        # crawl.py binds the frontier builders by name and seen as a module
        self._patch(crawl, "politeness_select", self._capture_wrapper("select"))
        self._patch(seen, "filter_unseen", self._capture_wrapper("filter_unseen"))
        self._patch(seen, "update_bloom", self._capture_wrapper("update_bloom"))

    # -- replays --------------------------------------------------------------

    def _noop(self, layer: str, df) -> float:
        return self.run_tagged(layer, df.write.format("noop").mode("overwrite").save)[1]

    def replay_crawl_layers(self, num_buckets: int) -> dict[str, float]:
        """Re-execute with noop sinks the frontier selection and novelty
        plans the last crawl built, and count what the URL-seen set did.
        Clears the captures."""
        import pyspark.sql.functions as F

        from go_crawler_spark.operators import seen

        out: dict[str, float] = defaultdict(float)
        for _args, selected in self.captured.pop("select", []):
            out["frontier.select_s"] += self._noop("replay.select", selected)
        for args, fresh in self.captured.pop("filter_unseen", []):
            candidates, bloom = args[0], args[2] if len(args) > 2 else None
            out["seen.filter_unseen_s"] += self._noop("replay.seen", fresh)
            out["seen.candidates"] += self.run_tagged("replay.seen", candidates.count)[0]
            out["seen.new"] += self.run_tagged("replay.seen", fresh.count)[0]
            if bloom is not None:
                probed = seen.bloom_probe(candidates.select("url_hash"), bloom, num_buckets)
                definite = probed.where(~F.col("bloom_maybe"))
                out["seen.bloom_definite_new"] += self.run_tagged("replay.seen", definite.count)[0]
        for _args, bloom in self.captured.pop("update_bloom", []):
            out["seen.update_bloom_s"] += self._noop("replay.seen", bloom)
        self.captured.clear()
        return dict(out)


# -- event log ---------------------------------------------------------------


def _plan_metric_names(plan: dict, names: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        names[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metric_names(child, names)


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, completed stages, tasks, task core-seconds,
    bytes and files written.  Read after the SparkContext has stopped."""
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[tuple[int, int], str] = {}
    metric_names: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or "none"
                if kind == "SparkListenerJobStart":
                    groups[g]["jobs"] += 1
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), g)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = g
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Failure Reason" not in info:
                        key = (info["Stage ID"], info["Stage Attempt ID"])
                        groups[stage_group.get(key, "none")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    acc = groups[stage_group.get(key, "none")]
                    tm = ev.get("Task Metrics") or {}
                    acc["tasks"] += 1
                    acc["task_core_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    acc["bytes_written"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    _plan_metric_names(ev.get("sparkPlanInfo", {}), metric_names)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    acc = groups[exec_group.get(ev.get("executionId"), "none")]
                    for acc_id, value in ev.get("accumUpdates", []):
                        if metric_names.get(acc_id) == "number of written files":
                            acc["files_written"] += value
    return {g: dict(v) for g, v in groups.items()}


def sum_groups(groups: dict[str, dict[str, float]], op: str, layers: tuple[str, ...]) -> dict[str, float]:
    """Totals over the job groups of ``op`` whose layer starts with one of
    ``layers``."""
    out: dict[str, float] = defaultdict(float)
    for g, vals in groups.items():
        g_op, _, layer = g.partition("|")
        if g_op == op and layer.startswith(layers):
            for k, v in vals.items():
                out[k] += v
    return out
