"""Outside-in layer trace for the traced benchmark run.

Spans are recorded from the benchmark's own files, around calls into each
layer's public functions: the hooks below wrap those functions for the
length of a run and restore them afterwards. Spark's own counters come from
the application status stores, read per operation.

A span is ``(name, start, end, parent, trace)``; ``trace`` is one query or
one stream micro-batch. A layer's self time is its spans' durations minus
the parts covered by their child spans, so within one trace the self times
add up to the root span.
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import time
from collections import defaultdict

#: Per-layer metrics every traced run reports, with their units.
LAYER_METRICS = {
    "session.get_spark_s": "s",
    "io.load_table_calls": "count",
    "io.load_table_s": "s",
    "queries.construct_self_s": "s",
    "queries.pin_calls": "count",
    "queries.pin_s": "s",
    "queries.persist_calls": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_s": "s",
    "functions.python_bytes_sent": "bytes",
    "functions.python_bytes_returned": "bytes",
    "functions.python_rows": "count",
    "streaming.batches": "count",
    "streaming.trigger_s_p50": "s",
    "streaming.add_batch_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.gen_late_max_s": "s",
    "pipeline.split_by_expectations_s": "s",
    "connectors.parquet_write_calls": "count",
    "connectors.parquet_write_s": "s",
    "trace.latency_s": "s",
}

#: Span name → the per-layer self-time metric it feeds.
_SELF_TIME = {
    "io.load_table": "io.load_table_s",
    "queries.construct": "queries.construct_self_s",
    "queries.pin": "queries.pin_s",
    "spark.plan": "spark.plan_s",
    "spark.exec": "spark.exec_s",
    "pipeline.split_by_expectations": "pipeline.split_by_expectations_s",
    "connectors.parquet_write": "connectors.parquet_write_s",
}
_CALLS = {
    "io.load_table": "io.load_table_calls",
    "queries.pin": "queries.pin_calls",
    "connectors.parquet_write": "connectors.parquet_write_calls",
}

#: Newest SQL executions scanned per operation; one query runs far fewer
#: (one per pin job plus its own).
_RECENT_EXECUTIONS = 64
#: Physical operators that cross into Python workers.
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


class Tracer:
    """Collects spans and counters; not thread-safe beyond the one driver
    thread plus the streaming callback thread, which never overlap."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._trace: str | None = None
        self._undo: list = []
        self._last_execution = -1

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None):
        if trace is not None:
            self._trace = trace
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "trace": self._trace,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def reset(self) -> None:
        """Forget what set-up recorded, except the session spans."""
        keep = [s for s in self.spans if s["name"] == "session.get_spark"]
        for s in keep:
            s["parent"] = None
        self.spans = keep
        self.counters.clear()

    # -- hooks --------------------------------------------------------

    def _wrap(self, owner, attr: str, span_name: str | None, counter: str | None = None):
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if counter is not None:
                tracer.counters[counter] += 1
            if span_name is None:
                return orig(*args, **kwargs)
            with tracer.span(span_name):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the public entry points of every traced layer."""
        import etlp_spark.config
        import etlp_spark.io
        import etlp_spark.session
        from etlp_spark.connectors.files import ParquetSink
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

        self._wrap(etlp_spark.session, "get_spark", "session.get_spark")
        # queries.py resolves io.load_table at call time.
        self._wrap(etlp_spark.io, "load_table", "io.load_table")
        # Eager pins run a job inside query construction; lazy persists
        # only mark a plan, so they are counted, not timed.
        self._wrap(ClassicDataFrame, "localCheckpoint", "queries.pin")
        self._wrap(ClassicDataFrame, "checkpoint", "queries.pin")
        self._wrap(ClassicDataFrame, "persist", None, "queries.persist_calls")
        # config.py imports split_by_expectations by name.
        self._wrap(etlp_spark.config, "split_by_expectations", "pipeline.split_by_expectations")
        self._wrap(ParquetSink, "write", "connectors.parquet_write")

    def install_stream_batches(self) -> None:
        """Open a ``streaming.batch`` span, one trace per micro-batch,
        around each call of a ``foreachBatch`` function."""
        from etlp_spark.streaming import StreamingPipeline

        orig = StreamingPipeline.start
        tracer = self

        def start(pipeline, spark, sink, *args, **kwargs):
            if callable(sink):
                inner = sink

                def sink(df, batch_id):
                    with tracer.span("streaming.batch", trace=f"batch-{batch_id}"):
                        return inner(df, batch_id)

            return orig(pipeline, spark, sink, *args, **kwargs)

        StreamingPipeline.start = start
        self._undo.append((StreamingPipeline, "start", orig))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- Spark status stores --------------------------------------------

    def add_spark_counters(self, spark, job_group: str) -> None:
        """Add the job, stage, task, shuffle and spill counters and the
        Python-operator SQL metrics of every job run under ``job_group``.
        Read per operation: the stores keep only the latest 1,000 stages."""
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        job_ids = set(sc.statusTracker().getJobIdsForGroup(job_group))
        store = sc._jsc.sc().statusStore()
        stage_ids = set()
        for jid in job_ids:
            stage_ids.update(int(s) for s in _seq(sc, store.job(jid).stageIds()))
        c = self.counters
        c["spark.jobs"] += len(job_ids)
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue
            c["spark.stages"] += 1
            c["spark.tasks"] += st.numCompleteTasks()
            c["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            c["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["spark.executor_run_s"] += st.executorRunTime() / 1000.0
        sql_store = spark._jsparkSession.sharedState().statusStore()
        n = sql_store.executionsCount()
        recent = _seq(sc, sql_store.executionsList(max(0, n - _RECENT_EXECUTIONS), _RECENT_EXECUTIONS))
        for ex in recent:
            if ex.executionId() <= self._last_execution:
                continue
            self._last_execution = ex.executionId()
            if not job_ids.intersection(int(j) for j in _seq(sc, ex.jobs().keys().toSeq())):
                continue
            values = sql_store.executionMetrics(ex.executionId())
            for node in _seq(sc, sql_store.planGraph(ex.executionId()).allNodes()):
                if not _PYTHON_NODE.search(node.name()):
                    continue
                for m in _seq(sc, node.metrics()):
                    raw = values.get(m.accumulatorId())
                    if raw.isEmpty():
                        continue
                    name = m.name()
                    if name == "data sent to Python workers":
                        c["functions.python_bytes_sent"] += _parse_metric(raw.get())
                    elif name == "data returned from Python workers":
                        c["functions.python_bytes_returned"] += _parse_metric(raw.get())
                    elif name == "number of output rows":
                        c["functions.python_rows"] += _parse_metric(raw.get())

    # -- results ----------------------------------------------------------

    def _span_self(self) -> list[float]:
        self_s = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                self_s[s["parent"]] -= s["end"] - s["start"]
        return self_s

    def self_times(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s, v in zip(self.spans, self._span_self()):
            out[s["name"]] += v
        return dict(out)

    def layer_metrics(self, extra: dict[str, float]) -> dict[str, float]:
        selfs = self.self_times()
        out = {name: 0.0 for name in LAYER_METRICS}
        for span, metric in _SELF_TIME.items():
            out[metric] = selfs.get(span, 0.0)
        for span, metric in _CALLS.items():
            out[metric] = float(sum(1 for s in self.spans if s["name"] == span))
        out.update((k, float(v)) for k, v in self.counters.items())
        # Median over the run's set-ups, as for ``setup_s``.
        sessions = [s["end"] - s["start"] for s in self.spans if s["name"] == "session.get_spark"]
        if sessions:
            out["session.get_spark_s"] = statistics.median(sessions)
        out.update(extra)
        return out

    def write(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": i, "name": s["name"], "start": s["start"] - t0,
                     "end": s["end"] - t0, "parent": s["parent"], "trace": s["trace"]}
                    for i, s in enumerate(self.spans)
                ],
                f,
            )

    def table(self, root: str) -> str:
        """Per-layer self times inside the ``root`` spans (one per query or
        micro-batch), as shares of their total; the self times add up to it."""
        self_s = self._span_self()
        by_layer: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            j = i
            while j is not None and self.spans[j]["name"] != root:
                j = self.spans[j]["parent"]
            if j is not None:
                by_layer[s["name"]] += self_s[i]
        total = sum(s["end"] - s["start"] for s in self.spans if s["name"] == root)
        lines = [f"{'layer':<34}{'self_s':>10}{'share':>8}"]
        for name, v in sorted(by_layer.items(), key=lambda kv: -kv[1]):
            share = f"{100 * v / total:7.1f}%" if total else "       -"
            lines.append(f"{name:<34}{v:>10.3f}{share}")
        lines.append(f"{'sum of self times':<34}{sum(by_layer.values()):>10.3f}")
        lines.append(f"{'traced latency (' + root + ')':<34}{total:>10.3f}")
        return "\n".join(lines)


def _seq(sc, scala_seq) -> list:
    """A Scala collection from py4j as a Python list."""
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    return list(conv.asJava(scala_seq))


def _parse_metric(text: str) -> float:
    """The first total in a formatted SQL metric: a plain count such as
    ``"1,234"`` or a size such as ``"total (min, med, max ...)\\n1.2 MiB (...)"``."""
    m = re.search(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB)?", text.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2) or "B", 1)
