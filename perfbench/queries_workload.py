"""``queries_sf0.001``: a fixed sample of the declared queries on a seeded
corpus at sf0.001.

The data is tiny, so each query's time is its fixed cost: building the
DataFrame (table loads, eager pin jobs), planning, and job start-up. A run
rebuilds the session twice after its first set-up (the set-up samples),
makes one warm-up pass whose outputs are checked against the DuckDB
oracles and ``WARM_PASSES`` more untimed passes, then times
``MEASURED_PASSES`` passes. The warm-up pays the JVM's JIT and code
generation once, as a long-running service does; a cold pass is dominated
by them and varies too much between runs to compare commits. Each timed
operation runs from calling ``q.fn`` until ``collect()`` returns, so the
timed output itself is checked without running the query again: it must
equal the oracle-checked warm-up output.
"""

from __future__ import annotations

import gc
import os
import statistics
import sys
import time
from collections import Counter

import gen
import harness

SF = 0.001
#: Seconds of ``--seconds`` per sampled query. It fixes how many queries a
#: run samples, so the set never depends on how fast the program is.
NOMINAL_QUERY_S = 1.2
#: Untimed passes after the checked warm-up: on the 4-core host the JIT
#: was still speeding up the second warm pass by about 15%.
WARM_PASSES = 1
MEASURED_PASSES = 3
#: Always sampled, so the tail covers the two costs the stride may miss:
#: eager pin jobs (x107) and a Python kernel (x155).
ALWAYS = ("x107_pagerank_topk", "x155_html_extract")
#: Its DuckDB oracle alone takes ~27 s at this scale, longer than a run.
SLOW_ORACLE = ("x127_removal_effect_attribution",)


def sample_queries(names: list[str], seconds: float) -> list[str]:
    """``ALWAYS`` plus an even stride over the other sorted query names,
    the same for every seed."""
    n = max(1, round(seconds / NOMINAL_QUERY_S))
    always = [a for a in ALWAYS if a in names][:n]
    rest = sorted(set(names) - set(always) - set(SLOW_ORACLE))
    k = min(len(rest), n - len(always))
    return sorted(always + [rest[(i * len(rest)) // k] for i in range(k)])


class _Collected:
    """A collected result in the shape ``oracle_harness.compare`` reads."""

    def __init__(self, df, rows):
        self.columns, self.dtypes, self._rows = df.columns, df.dtypes, rows

    def collect(self):
        return self._rows


def _timed(spark, q, sf_dir, wrap, tracer, trace_id):
    """Run one query; return ``(seconds, frame, rows)``."""
    if tracer is None:
        t0 = time.perf_counter()
        df = q.fn(spark, sf_dir)
        if wrap is not None:
            df = wrap(df)
        rows = df.collect()
        return time.perf_counter() - t0, df, rows
    with tracer.span("query", trace=trace_id) as root:
        with tracer.span("queries.construct"):
            df = q.fn(spark, sf_dir)
        with tracer.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.exec"):
            rows = df.collect()
    return root["end"] - root["start"], df, rows


def run(seed: int, seconds: float, tracer=None, wrap=None) -> dict:
    """Run the workload; ``wrap`` (tests only) rewrites each query's frame."""
    t = time.perf_counter()
    sf_dir = gen.ensure_corpus(os.path.abspath(".perfbench/data"), SF, seed)
    gen_s = time.perf_counter() - t

    from etlp_spark.queries import QUERIES

    sys.path.insert(0, os.path.abspath("tests"))
    import oracle_harness

    app = "perfbench-queries"
    if tracer is not None:
        tracer.install()
    spark, setup_s = harness.repeated_setup(sf_dir, app, repeats=3, exclude_s=gen_s)
    names = sample_queries(list(QUERIES), seconds)
    failed: Counter = Counter()
    expected: dict[str, Counter] = {}

    con = oracle_harness.duckdb_conn(sf_dir)
    for name in names:
        q = QUERIES[name]
        try:
            _, df, rows = _timed(spark, q, sf_dir, wrap, None, None)
            problems = oracle_harness.compare(_Collected(df, rows), con, q.oracle) if q.oracle else ["no oracle"]
        except Exception as e:  # noqa: BLE001 - one failing query must not stop the run
            problems = [f"{type(e).__name__}: {str(e)[:300]}"]
        if problems:
            failed[name] += 1
            print(f"perfbench: {name} failed its oracle: {problems[:2]}", file=sys.stderr)
        else:
            expected[name] = Counter(map(repr, rows))
        spark.catalog.clearCache()
        gc.collect()
    con.close()
    print(f"perfbench: warm-up pass done at {time.perf_counter() - harness.PROCESS_T0:.1f} s", file=sys.stderr)

    sc = spark.sparkContext

    per_query: dict[str, list[float]] = {n: [] for n in names}
    for p in range(-WARM_PASSES, MEASURED_PASSES):
        if p == 0 and tracer is not None:
            tracer.reset()  # keep the set-up's session spans, drop the warm-up
        for name in names:
            trace_id = f"{name}#{p}"
            sc.setJobGroup(trace_id, trace_id)
            try:
                dt, _, rows = _timed(spark, QUERIES[name], sf_dir, wrap, tracer, trace_id)
                if p >= 0:
                    per_query[name].append(dt)
                ok = expected.get(name) == Counter(map(repr, rows))
                if tracer is not None and p >= 0:
                    tracer.add_spark_counters(spark, trace_id)
            except Exception as e:  # noqa: BLE001
                print(f"perfbench: {name} raised {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
                ok = False
            if not ok:
                failed[name] += 1
            spark.catalog.clearCache()
            gc.collect()
    sc.setJobGroup("perfbench", "perfbench")
    print(f"perfbench: measured passes done at {time.perf_counter() - harness.PROCESS_T0:.1f} s", file=sys.stderr)
    for name in names:
        print(f"perfbench: {name} {' '.join(f'{x:.3f}' for x in per_query[name])} s", file=sys.stderr)
    rss = harness.peak_rss_mb()
    if tracer is not None:
        tracer.uninstall()
    spark.stop()

    lat = [statistics.median(v) for v in per_query.values() if v]
    timed = [x for v in per_query.values() for x in v]
    return {
        "attempted": len(names) * (1 + WARM_PASSES + MEASURED_PASSES),
        "failed": sum(failed.values()),
        "metrics": {
            "setup_s": setup_s,
            "latency_p50_s": statistics.median(lat) if lat else float("nan"),
            "latency_p90_s": harness.quantile(lat, 0.9) if lat else float("nan"),
            "throughput_per_s": len(timed) / sum(timed) if timed else float("nan"),
            "peak_rss_mb": rss,
        },
        "layers": {"trace.latency_s": sum(timed)},
        "root_span": "query",
    }
