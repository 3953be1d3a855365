"""``stream_etl``: a config-built streaming ETL over dropped JSONL files.

The stream is built by ``config.streaming_pipeline_from_config``: a
``file_stream`` source, ``filter``/``map``/``keep``/``mapping`` transforms
and a watermark, and a per-micro-batch expectations split with clean rows
to a ``parquet`` sink and violations to a ``parquet`` error sink.

A run first drains a backlog of files, then drops files in an open loop at
a fixed rate below capacity. Each file is moved into the input directory
by an atomic rename, stamped with the time it was due. A file's latency is
from when it was due to the end of the micro-batch that committed it.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from datetime import datetime, timezone

import numpy as np

import harness

ROWS_PER_FILE = 500
BACKLOG_FILES = 60
#: The backlog drains in ``BACKLOG_FILES / MAX_FILES_PER_BATCH`` micro-batches,
#: which warm the JIT on the batch path before the open loop is timed.
MAX_FILES_PER_BATCH = 5
#: Files per second in the open loop: below capacity. On 2 cores a warm
#: micro-batch of 1 to 3 files takes 0.6-0.75 s, almost all of it fixed
#: cost, so each batch takes what arrived during the last one.
RATE = 4.0
MALFORMED_P = 0.01
BAD_P = 0.05
HEARTBEAT_P = 0.10

SCHEMA = (
    "id long, user string, kind string, amount double, ts timestamp, "
    "meta struct<country:string,device:string>"
)
KINDS = ("view", "click", "purchase")
COUNTRIES = ("br", "de", "fr", "jp", "us")
DEVICES = ("android", "ios", "web")
SINK_COLS = ("id", "user", "kind", "amount_cents", "country", "device", "ts", "label")

TRANSFORMS = [
    # Malformed lines parse to all-null rows; keep them for the quarantine.
    {"op": "filter", "expr": "kind IS NULL OR kind <> 'heartbeat'"},
    {"op": "map", "cols": {"amount_cents": "CAST(round(amount * 100) AS BIGINT)"}},
    {"op": "keep", "expr": "coalesce(meta.country, 'unknown')", "out": "country"},
    {"op": "mapping", "template": {
        "id": "$.id", "user": "$.user", "kind": "$.kind",
        "amount_cents": "$.amount_cents", "country": "$.country",
        "device": "$.meta.device", "ts": "$.ts",
        "label": "{{ $.kind }}/{{ $.country }}",
    }},
]
EXPECTATIONS = [
    {"check": "not_null", "cols": ["id"]},
    {"check": "in_range", "col": "amount_cents", "lo": 0, "hi": 100000},
    {"check": "accepted_values", "col": "kind", "values": list(KINDS)},
]


def stream_config(base: str) -> dict:
    return {
        "name": "perfbench-etl",
        "source": {
            "type": "file_stream", "path": f"{base}/in", "schema": SCHEMA, "format": "json",
            "max_files_per_trigger": MAX_FILES_PER_BATCH,
        },
        "transforms": TRANSFORMS,
        "expectations": EXPECTATIONS,
        "streaming": {
            "watermark": {"col": "ts", "delay": "10 minutes"},
            "checkpoint": f"{base}/checkpoint",
        },
        "sink": {"type": "parquet", "path": f"{base}/clean"},
        "error_sink": {"type": "parquet", "path": f"{base}/errors"},
    }


def batch_config(base: str) -> dict:
    """The same pipeline as a batch job over the same files."""
    return {
        "name": "perfbench-etl-batch",
        "source": {"type": "file", "path": f"{base}/in", "reducer": "jsonl", "options": {"schema": SCHEMA}},
        "transforms": TRANSFORMS,
        "expectations": EXPECTATIONS,
    }


def write_files(staging: str, n_files: int, seed: int) -> dict[str, int]:
    """Write ``n_files`` seeded JSONL files; return the row tally by kind."""
    rng = np.random.default_rng(seed)
    tally = {"rows": 0, "malformed": 0, "bad": 0, "heartbeat": 0, "clean": 0}
    base_ms = 1_704_067_200_000  # 2024-01-01T00:00:00Z
    next_id = 0
    for f in range(n_files):
        lines = []
        u = rng.random((ROWS_PER_FILE, 3))
        amount = np.round(rng.uniform(0, 500, ROWS_PER_FILE), 2)
        pick = rng.integers(0, 15, (ROWS_PER_FILE, 3))
        for i in range(ROWS_PER_FILE):
            rid = next_id
            next_id += 1
            ts = datetime.fromtimestamp((base_ms + rid * 250) / 1000, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%fZ")
            row = {
                "id": rid, "user": f"u{int(pick[i, 0]) * 97 % 1000:04d}",
                "kind": KINDS[pick[i, 1] % 3], "amount": float(amount[i]), "ts": ts,
                "meta": {"country": COUNTRIES[pick[i, 2] % 5], "device": DEVICES[pick[i, 0] % 3]},
            }
            if u[i, 0] < MALFORMED_P:
                lines.append("#corrupt " + json.dumps(row)[:40])
                tally["malformed"] += 1
            elif u[i, 1] < HEARTBEAT_P:
                row["kind"] = "heartbeat"
                lines.append(json.dumps(row))
                tally["heartbeat"] += 1
            elif u[i, 2] < BAD_P:
                if u[i, 2] < BAD_P / 2:
                    row["amount"] = -row["amount"] - 0.01
                else:
                    row["kind"] = "refund"
                lines.append(json.dumps(row))
                tally["bad"] += 1
            else:
                lines.append(json.dumps(row))
                tally["clean"] += 1
        with open(os.path.join(staging, f"part-{f:05d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        tally["rows"] += ROWS_PER_FILE
    return tally


def _files_by_batch(checkpoint: str) -> dict[str, int]:
    """File name → batch id, from the file source's offset log. Every
    tenth entry is a compaction that repeats earlier entries."""
    out: dict[str, int] = {}
    log = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out.setdefault(os.path.basename(entry["path"]), int(entry["batchId"]))
    return out


def _batch_ends(progress) -> dict[int, dict]:
    """Batch id → ``{end, durations}`` for micro-batches that read rows."""
    out = {}
    for p in progress:
        if p.numInputRows == 0:
            continue
        start = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()
        d = dict(p.durationMs)
        out[p.batchId] = {"end": start + d["triggerExecution"] / 1000.0, "d": d}
    return out


def _check_outputs(spark, base: str, tally: dict[str, int]) -> list[str]:
    from etlp_spark.config import pipeline_from_config

    problems = []
    clean = spark.read.parquet(f"{base}/clean").select(*SINK_COLS)
    errors = spark.read.parquet(f"{base}/errors")
    n_clean = clean.count()
    n_err_null = errors.where("id IS NULL").count()
    n_err = errors.count()
    if n_clean != tally["clean"]:
        problems.append(f"clean rows {n_clean} != generated clean {tally['clean']}")
    if n_err - n_err_null != tally["bad"]:
        problems.append(f"quarantined rows {n_err - n_err_null} != generated bad {tally['bad']}")
    if n_err_null != tally["malformed"]:
        problems.append(f"malformed rows {n_err_null} != generated malformed {tally['malformed']}")
    if n_clean + n_err + tally["heartbeat"] != tally["rows"]:
        problems.append("clean + quarantined + malformed + filtered != generated rows")
    b_clean, b_viol = pipeline_from_config(batch_config(base)).quarantine(spark)
    b_clean = b_clean.select(*SINK_COLS)
    b_viol = b_viol.select(*SINK_COLS)
    s_viol = errors.where("id IS NOT NULL").select(*SINK_COLS)
    for label, a, b in (("clean", clean, b_clean), ("quarantined", s_viol, b_viol)):
        if a.exceptAll(b).count() or b.exceptAll(a).count():
            problems.append(f"stream {label} rows differ from the batch run")
    return problems


def run(seed: int, seconds: float, tracer=None) -> dict:
    base = os.path.abspath(f".perfbench/stream-{seed}-{os.getpid()}")
    for d in ("staging", "in"):
        os.makedirs(os.path.join(base, d))
    try:
        return _run(base, seed, seconds, tracer)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _run(base: str, seed: int, seconds: float, tracer) -> dict:
    n_window = max(1, int(seconds * RATE))
    t = time.perf_counter()
    tally = write_files(os.path.join(base, "staging"), BACKLOG_FILES + n_window, seed)
    gen_s = time.perf_counter() - t
    files = sorted(os.listdir(os.path.join(base, "staging")))
    backlog, window = files[:BACKLOG_FILES], files[BACKLOG_FILES:]

    from etlp_spark.config import streaming_pipeline_from_config

    if tracer is not None:
        tracer.install()
        tracer.install_stream_batches()
    spark, setup_s = harness.repeated_setup(None, "perfbench-stream", repeats=3, exclude_s=gen_s)
    if tracer is not None:
        tracer.reset()
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    print(f"perfbench: inputs {gen_s:.1f} s, set-up done at {time.perf_counter() - harness.PROCESS_T0:.1f} s", file=sys.stderr)

    for name in backlog:
        os.rename(os.path.join(base, "staging", name), os.path.join(base, "in", name))
    stream = streaming_pipeline_from_config(stream_config(base))
    started = time.time()
    query = stream.start(spark)
    failures: list[str] = []
    due: dict[str, float] = {}
    late: list[float] = []
    try:
        query.processAllAvailable()
        t0 = time.time()
        for i, name in enumerate(window):
            when = t0 + i / RATE
            pause = when - time.time()
            if pause > 0:
                time.sleep(pause)
            src = os.path.join(base, "staging", name)
            os.utime(src, (when, when))
            os.rename(src, os.path.join(base, "in", name))
            due[name] = when
            late.append(time.time() - when)
        query.processAllAvailable()
        progress = query.recentProgress
    finally:
        query.stop()
    print(f"perfbench: stream done at {time.perf_counter() - harness.PROCESS_T0:.1f} s", file=sys.stderr)

    batch_of = _files_by_batch(f"{base}/checkpoint")
    ends = _batch_ends(progress)
    latencies = []
    for name in window:
        b = batch_of.get(name)
        if b is None or b not in ends:
            failures.append(f"{name} was never committed")
            continue
        latencies.append(ends[b]["end"] - due[name])
    backlog_batches = {batch_of.get(n) for n in backlog}
    if None in backlog_batches or not backlog_batches <= ends.keys():
        failures.append("backlog was not fully committed")
        drain = float("nan")
    else:
        drain_end = max(ends[b]["end"] for b in backlog_batches)
        drain = BACKLOG_FILES * ROWS_PER_FILE / (drain_end - started)
    if tracer is not None:
        tracer.uninstall()
    failures += _check_outputs(spark, base, tally)
    for f in failures:
        print(f"perfbench: stream_etl failed: {f}", file=sys.stderr)
    rss = harness.peak_rss_mb()
    spark.stop()

    data = [e["d"] for e in ends.values()]
    return {
        "attempted": len(files),
        "failed": len(failures),
        "metrics": {
            "setup_s": setup_s,
            "latency_p50_s": statistics.median(latencies) if latencies else float("nan"),
            "latency_p90_s": harness.quantile(latencies, 0.9) if latencies else float("nan"),
            "throughput_per_s": drain,
            "peak_rss_mb": rss,
        },
        "layers": {
            "streaming.batches": float(len(data)),
            "streaming.trigger_s_p50": statistics.median(d["triggerExecution"] for d in data) / 1000.0 if data else 0.0,
            "streaming.add_batch_s": sum(d.get("addBatch", 0) for d in data) / 1000.0,
            "streaming.latest_offset_s": sum(d.get("latestOffset", 0) for d in data) / 1000.0,
            "streaming.wal_commit_s": sum(d.get("walCommit", 0) for d in data) / 1000.0,
            "streaming.commit_offsets_s": sum(d.get("commitOffsets", 0) for d in data) / 1000.0,
            "streaming.gen_late_max_s": max(late) if late else 0.0,
            "trace.latency_s": sum(latencies),
        },
        "root_span": "streaming.batch",
    }
