"""The one Arrow-batched per-payload kernel behind every extractor.

``per_payload`` is the shape each binary/text extractor in this package
runs: a ``mapInPandas`` pass in the SCAN stage, no shuffle, that calls
``parse`` once per payload and emits the rows it returns beside the
input id. An optional ``attach`` step produces the payloads from the
input value in the same pass, so a producer → parser chain (the
per-doc_id fixture generators in ``queries.py``) is one Python worker
and one Arrow round trip, not one per step.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Callable, Iterator, Sequence

if TYPE_CHECKING:  # pragma: no cover - typing only
    import pandas as pd
    from pyspark.sql import DataFrame

_FLUSH_BYTES = 64 << 20
_FLUSH_ROWS = 8192


def per_payload(
    df: "DataFrame",
    parse: "Callable[[Any], list[dict]]",
    cols: "Sequence[tuple[str, str]]",
    *,
    id_col: str,
    payload_col: str,
    strict: bool,
    attach: "Callable[[Any], list] | None" = None,
) -> "DataFrame":
    """Run ``parse(value)`` over ``df[payload_col]`` and return one
    row per dict it yields: ``id_col`` (input name and Spark type kept,
    so a 64-bit id survives exactly) followed by ``cols`` (``(name,
    spark_type)`` pairs; a name missing from a dict reads NULL). A
    one-row parser is passed as ``lambda b: [parse_one(b)]``; an empty
    list drops the input row.

    ``strict=True`` fails fast: any error ``parse`` raises kills the
    stage. ``strict=False`` appends a ``parse_error`` string column and
    contains damage per row, so one bad blob cannot kill a 100 TB scan:
    a NULL payload becomes ``{"parse_error": "null payload"}`` without
    calling ``parse``, and a ``ValueError`` becomes one row carrying its
    text, all other columns NULL.

    ``attach`` (value -> list of payloads), when given, runs on each
    ``payload_col`` value first and ``parse`` then runs once per
    payload it returns, every row keeping the input id. It is the row
    producer, not the parser: it runs OUTSIDE the ``strict`` /
    ``parse_error`` containment, so any error it raises fails the
    stage even under ``strict=False``, while a NULL payload it returns
    is contained like a NULL input. Composing producer and parser here
    rather than as two ``per_payload`` calls matters because Spark
    gives every Python map node its own worker per task and its own
    Arrow round trip.

    Batch shape: Spark hands the kernel Arrow batches of up to
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, but output
    is flushed on its own budget, not per input batch: a frame is
    emitted as soon as the held payload bytes (``bytes``/``str``
    payloads, attached ones included; a lower bound on the parsed mass
    in Python) reach 64 MiB or the held output rows reach 8,192,
    checked after every payload. A task's Python peak is thus
    ~64 MiB + ONE payload's parsed rows (~4-5x the file for an
    inflated .warc.gz) — never a whole batch of ~1 GB crawl segments —
    while small payloads still amortize the Arrow transfer."""
    id_type = dict(df.dtypes)[id_col]
    cols = list(cols) + ([] if strict else [("parse_error", "string")])
    schema = ", ".join(f"{n} {t}" for n, t in [(id_col, id_type), *cols])

    def kernel(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pandas as pd

        ids: list = []
        rows: list[dict] = []
        held = 0

        def flush() -> "pd.DataFrame":
            out = {id_col: pd.Series(ids)}
            for name, _t in cols:
                out[name] = pd.Series([r.get(name) for r in rows], dtype="object")
            return pd.DataFrame(out)

        for pdf in batches:
            for key, value in zip(pdf[id_col], pdf[payload_col]):
                for payload in attach(value) if attach else (value,):
                    if payload is None and not strict:
                        got = [{"parse_error": "null payload"}]
                    else:
                        try:
                            got = parse(payload)
                        except ValueError as e:
                            if strict:
                                raise
                            got = [{"parse_error": str(e)}]
                    ids.extend([key] * len(got))
                    rows.extend(got)
                    if isinstance(payload, (bytes, str)):
                        held += len(payload)
                    if held >= _FLUSH_BYTES or len(rows) >= _FLUSH_ROWS:
                        yield flush()
                        ids, rows, held = [], [], 0
        if rows:
            yield flush()

    return df.mapInPandas(kernel, schema)
