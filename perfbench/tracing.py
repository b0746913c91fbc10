"""In-memory spans around the calls the benchmark makes into each kaer_spark
layer, with the Spark jobs each operation ran attached as child spans.

Spans are recorded only in a traced run (``--trace 1``). The wrappers live
here, in the benchmark, and patch the library's module attributes for the
life of the process; the library itself records nothing. Per operation the
tracer reads the JVM's own status store (jobs, stages, task metrics) and
the whole-stage-codegen compile histogram, which work with the Spark UI off.

Each per-layer metric is a median per operation of one kind: ``query``
(exact), ``approx`` (approximate), ``insert`` (a 20-document insert of
``ingest``) or ``pass`` (one curation pass of ``curate``, the sum over its
stages). A kind the workload does not run reports 0. The end-to-end metric
each should move:

* ``context.{query,approx}.construct_ms``, ``filters.compile_ms``,
  ``embeddings.embed_texts_local_ms``, ``spark.{query,approx}.*`` and
  ``self.{query,approx}.*`` -> ``query_p50_ms`` / ``approx_query_p50_ms``;
* ``context.insert.jobs``, ``context.refresh_index_ms``,
  ``embeddings.embed_column.executor_ms`` (executor time of the insert's
  parquet write, where the ``mapInPandas`` embedding runs), ``spark.insert.*``
  and ``self.insert.*`` -> ``op_p50_ms`` on ``ingest``;
* ``curate.<stage>_s``, ``spark.pass.*`` and ``self.pass.*`` -> ``op_p50_ms``
  on ``curate``;
* ``context.data_files`` -> ``query_p50_ms`` on ``ingest``;
* ``session.start_s``, ``setup.*`` -> ``setup_s``.

``spark.*.driver_gap_ms`` is the operation's wall time minus the union of
its job intervals; ``self.<kind>.<layer>_ms`` is the layer's span time minus
what its child spans cover (``spark`` sums job durations). Once the JVM has
compiled more than 1028 classes, ``codegen_ms`` is estimated from the
histogram's sample mean.

``trace.overhead_pct`` is the time the span wrappers add inside the timed
operations, over those operations' wall time: the cost of one wrapped call
over a bare one, measured when the wrappers are installed, times the spans
recorded inside the timed windows. The tracer's other work (job groups,
status-store reads) runs between operations and is not in any latency.
``traced.op_p50_ms`` set beside the untraced run's ``op_p50_ms`` gives the
whole difference as the user sees it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from typing import Any, Callable

from perfbench import stats

#: Module attributes and methods wrapped in a traced run: (import path,
#: attribute owner, attribute, span name). A function a module calls through
#: its own globals is patched in that module.
WRAPPED = [
    ("kaer_spark.context", None, "compile_filter", "filters.compile_filter"),
    ("kaer_spark.filters", None, "compile_filter", "filters.compile_filter"),
    ("kaer_spark.operators.knn", None, "compile_filter", "filters.compile_filter"),
    ("kaer_spark.operators.knn", None, "exact_knn", "operators.knn.exact_knn"),
    ("kaer_spark.context", None, "embed_texts_local", "embeddings.embed_texts_local"),
    ("kaer_spark.context", None, "embed_column", "embeddings.embed_column"),
    ("kaer_spark.context", None, "dense_ids_with_count", "context.dense_ids"),
    ("kaer_spark.context", "Collection", "query", "context.query"),
    ("kaer_spark.context", "Collection", "insert", "context.insert"),
    ("kaer_spark.context", "Collection", "refresh_index", "context.refresh_index"),
    ("kaer_spark.context", "Collection", "build_index", "context.build_index"),
    ("kaer_spark.operators.index_store", None, "ivf_index_topk", "operators.index_store.ivf_index_topk"),
    ("kaer_spark.operators.index_store", None, "build_ivf_index", "operators.index_store.build_ivf_index"),
    ("kaer_spark.operators.index_store", None, "refresh_ivf_index", "operators.index_store.refresh_ivf_index"),
    # the curate stages' entry points, which the registry imports at call time
    ("kaer_spark.pipelines", None, "training_mix_pipeline", "pipelines.training_mix_pipeline"),
    ("kaer_spark.operators.sampling", None, "token_budget_mix", "operators.sampling.token_budget_mix"),
    ("kaer_spark.operators.dedup", None, "dedup_against", "operators.dedup.dedup_against"),
    ("kaer_spark.operators.similarity", None, "ivf_knn_join", "operators.similarity.ivf_knn_join"),
    ("kaer_spark.streaming.ingest", None, "streaming_dedup_against",
     "streaming.ingest.streaming_dedup_against"),
    ("pyspark.sql.readwriter", "DataFrameWriter", "parquet", "pyspark.write"),
]

#: Exponentially decaying reservoir size of Dropwizard histograms: while
#: fewer samples than this were taken, the snapshot holds every one of them.
_RESERVOIR = 1028

_SPARK_SUMS = (
    "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "gc_ms",
)
_SPARK_KEYS = ("jobs", "plan_ms", "codegen_compiles", "codegen_ms", "driver_gap_ms") + _SPARK_SUMS
#: the operation kinds timed in a run; ``stage`` operations are summed per pass
TIMED_KINDS = ("query", "approx", "insert", "stage")


def layer_of(span_name: str) -> str:
    """The layer a span belongs to: the first component of its name."""
    return span_name.split(".", 1)[0]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of self time per layer: each span's duration minus the part
    its child spans cover, summed over the spans of one layer."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = stats.uncovered((s["start"], s["end"]), children.get(s["id"], []))
        out[layer_of(s["name"])] = out.get(layer_of(s["name"]), 0.0) + own
    return out


def innermost(spans: list[dict], t: float) -> int | None:
    """Id of the latest-starting span that contains time ``t``."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return None if best is None else best["id"]


class Tracer:
    """Records spans and per-operation Spark activity. Disabled, every
    method is a no-op and nothing is patched."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.span_cost_s = 0.0
        self._stack: list[int] = []
        self._op: dict | None = None
        if enabled:
            self._patch()
            self.span_cost_s = self._calibrate()

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or self._op is None:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "op": self._op["id"],
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def _wrap(self, fn: Callable, name: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _patch(self) -> None:
        import importlib

        for module, owner, attr, name in WRAPPED:
            target = importlib.import_module(module)
            if owner is not None:
                target = getattr(target, owner)
            setattr(target, attr, self._wrap(getattr(target, attr), name))

    def _calibrate(self, calls: int = 2000, repeats: int = 5) -> float:
        """Seconds one wrapped call costs over a bare call: the best of a
        few timings of ``calls`` no-op calls each way, inside an operation
        so that spans are recorded."""
        def bare():
            return None

        wrapped = self._wrap(bare, "calibrate")
        self._op, mark = {"id": "calibrate"}, len(self.spans)
        best = float("inf")
        for _ in range(repeats):
            t0 = time.perf_counter()
            for _ in range(calls):
                wrapped()
            t1 = time.perf_counter()
            for _ in range(calls):
                bare()
            best = min(best, (t1 - t0) - (time.perf_counter() - t1))
            del self.spans[mark:]
        self._op = None
        return max(0.0, best / calls)

    # -- operations ------------------------------------------------------
    @contextlib.contextmanager
    def op(self, op_id: str, kind: str):
        """One benchmark operation. Its Spark jobs are found through a job
        group named after it; their intervals become child spans."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, kind)
        codegen0 = self._codegen()
        self._op = {"id": op_id, "kind": kind, "plan_ms": None}
        root = None
        try:
            with self.span(f"op.{kind}"):
                root = len(self.spans) - 1
                yield self._op
        finally:
            op, self._op = self._op, None
            op_spans = [s for s in self.spans[root:] if s["op"] == op_id] if root is not None else []
            # every span but the operation's own root runs inside its timed window
            op["wrapper_ms"] = max(0, len(op_spans) - 1) * self.span_cost_s * 1000
            self._finish(op, op_spans, codegen0)

    def record_plan(self, df) -> None:
        """Catalyst planning time of the DataFrame the operation acted on,
        from its query-planning tracker (analysis + optimization +
        physical planning)."""
        if not self.enabled or self._op is None:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        total = 0
        while it.hasNext():
            total += it.next()._2().durationMs()
        self._op["plan_ms"] = float(total)

    def _codegen(self) -> tuple[int, float]:
        jvm = self.spark.sparkContext._jvm
        hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        snap = hist.getSnapshot()
        count = hist.getCount()
        if count <= _RESERVOIR:
            total = float(jvm.java.util.Arrays.stream(snap.getValues()).sum())
        else:
            total = count * snap.getMean()
        return count, total

    def _finish(self, op: dict, op_spans: list[dict], codegen0: tuple[int, float]) -> None:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        jobs, job_exec_ms = [], []
        sums = dict.fromkeys(_SPARK_SUMS, 0.0)
        for jid in sorted(sc.statusTracker().getJobIdsForGroup(op["id"])):
            jd = store.job(jid)
            start = jd.submissionTime().get().getTime() / 1000.0
            end_opt = jd.completionTime()
            end = end_opt.get().getTime() / 1000.0 if end_opt.isDefined() else start
            jobs.append((start, end))
            job_exec_ms.append(0.0)
            for sid in jd.stageIds().mkString(",").split(","):
                if not sid:
                    continue
                sd = store.lastStageAttempt(int(sid))
                if sd.status().toString() == "SKIPPED":
                    continue
                sums["stages"] += 1
                sums["tasks"] += sd.numTasks()
                sums["executor_run_ms"] += sd.executorRunTime()
                sums["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                sums["shuffle_read_bytes"] += sd.shuffleReadBytes()
                sums["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                sums["gc_ms"] += sd.jvmGcTime()
                job_exec_ms[-1] += sd.executorRunTime()
        count1, total1 = self._codegen()
        root = op_spans[0] if op_spans else None
        callers = list(op_spans)
        embed_exec_ms = 0.0
        for (start, end), exec_ms in zip(jobs, job_exec_ms):
            parent = innermost(callers, start)
            self.spans.append({
                "id": len(self.spans), "name": "spark.job", "op": op["id"],
                "parent": parent, "start": start, "end": end,
            })
            op_spans.append(self.spans[-1])
            # insert embeds in mapInPandas inside the jobs of its own parquet
            # write; the index catch-up writes parquet too, under operators
            if parent is not None and self.spans[parent]["name"] == "pyspark.write":
                caller = self.spans[parent]["parent"]
                if caller is not None and self.spans[caller]["name"] == "context.insert":
                    embed_exec_ms += exec_ms
        wall = (root["start"], root["end"]) if root else (0.0, 0.0)
        op.update(sums)
        op.update(
            jobs=len(jobs),
            wall_ms=(wall[1] - wall[0]) * 1000,
            driver_gap_ms=stats.uncovered(wall, jobs) * 1000,
            codegen_compiles=count1 - codegen0[0],
            codegen_ms=max(0.0, total1 - codegen0[1]),
            embed_exec_ms=embed_exec_ms,
            self_ms={k: v * 1000 for k, v in self_times(op_spans).items()},
            span_ms=_span_totals(op_spans),
        )
        self.ops.append(op)

    def write(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _span_totals(spans: list[dict]) -> dict[str, float]:
    """Milliseconds per span name, summed over the operation's spans."""
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) * 1000
    return out


def passes(ops: list[dict]) -> list[dict]:
    """The ``stage`` operations (ids ``p<n>.<stage>``) summed per curation
    pass into one operation of kind ``pass``."""
    out: dict[str, dict] = {}
    for o in ops:
        if o["kind"] != "stage":
            continue
        p = out.setdefault(o["id"].split(".", 1)[0], {
            "kind": "pass", "self_ms": {}, "span_ms": {}, "wall_ms": 0.0,
            **dict.fromkeys(_SPARK_KEYS, 0.0),
        })
        for key in _SPARK_KEYS + ("wall_ms",):
            p[key] += o[key] or 0.0
        for field in ("self_ms", "span_ms"):
            for name, ms in o[field].items():
                p[field][name] = p[field].get(name, 0.0) + ms
    return list(out.values())


def per_layer(ops: list[dict], stages: tuple[str, ...]) -> dict[str, Any]:
    """Median per operation of each per-layer quantity, by operation kind;
    0 for a kind the run did not time."""
    ops = ops + passes(ops)

    def med(kind: str, fn: Callable[[dict], float]) -> float:
        vals = [fn(o) for o in ops if o["kind"] == kind]
        return stats.median(vals) if vals else 0.0

    def span(name: str) -> Callable[[dict], float]:
        return lambda o: o["span_ms"].get(name, 0.0)

    def prefix(p: str) -> Callable[[dict], float]:
        return lambda o: sum(v for k, v in o["span_ms"].items() if k.startswith(p))

    out: dict[str, Any] = {
        "context.query.construct_ms": med("query", span("context.query")),
        "context.approx.construct_ms": med("approx", span("context.query")),
        "filters.compile_ms": med("query", prefix("filters.")),
        "embeddings.embed_texts_local_ms": med("query", prefix("embeddings.embed_texts_local")),
        "context.insert.jobs": med("insert", lambda o: o["jobs"]),
        "context.refresh_index_ms": med("insert", span("context.refresh_index")),
        "embeddings.embed_column.executor_ms": med("insert", lambda o: o["embed_exec_ms"]),
    }
    for stage in stages:
        out[f"curate.{stage}_s"] = med("pass", span(f"curate.{stage}")) / 1000
    for kind in ("query", "approx", "insert", "pass"):
        for key in _SPARK_KEYS:
            if kind == "insert" and key in ("jobs", "plan_ms"):
                continue  # jobs: context.insert.jobs; the insert's plans are internal
            out[f"spark.{kind}.{key}"] = med(kind, lambda o, k=key: o[k] or 0.0)
    layers = {
        "query": ("context", "filters", "embeddings", "operators", "pyspark", "spark"),
        "approx": ("context", "filters", "embeddings", "operators", "pyspark", "spark"),
        "insert": ("context", "embeddings", "operators", "pyspark", "spark"),
        "pass": ("curate", "pipelines", "operators", "streaming", "pyspark", "spark"),
    }
    for kind, names in layers.items():
        for layer in names:
            out[f"self.{kind}.{layer}_ms"] = med(kind, lambda o, l=layer: o["self_ms"].get(l, 0.0))
    return out
