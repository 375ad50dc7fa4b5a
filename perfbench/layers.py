"""Spans around the engine's public layer functions for the traced run.

``instrument`` swaps each function named below for a wrapper that opens a
span around the call, in the module namespace the back-fill plans look
the function up in, and returns a callable that restores the originals.
The engine itself is not changed.
"""

from __future__ import annotations

import functools

from openmaptiles_zh_modifier_spark.operators import cow_table, zh_backfill
from openmaptiles_zh_modifier_spark.plans import pipeline

from tracing import Tracer

# (module, attribute, span name)
_CALLS = [
    (pipeline, "discover_parquet_tables", "catalog.discover"),
    (pipeline, "classify_all", "catalog.classify"),
    (pipeline, "backfill_table", "zh_backfill.backfill_table"),
    (pipeline, "write_parquet", "io.write"),
    (cow_table, "cow_read", "cow.read"),
    (cow_table, "cow_merge", "cow.merge"),
    (zh_backfill, "updates_frame_with_tags", "zh_backfill.with_tags"),
]


def _spanned(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


def _updates_frame(tracer: Tracer, fn):
    """``run_backfill`` counts the frame ``updates_frame`` returns; the
    span covers that count, which is when the selection runs."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        df = fn(*args, **kwargs)
        count = df.count

        def timed_count() -> int:
            with tracer.span("zh_backfill.select") as s:
                n = count()
                s.count("rows_updated", n)
            return n

        df.count = timed_count
        return df

    return wrapper


def instrument(tracer: Tracer):
    saved = [(m, a, getattr(m, a)) for m, a, _ in _CALLS]
    saved.append((pipeline, "updates_frame", pipeline.updates_frame))
    for m, a, name in _CALLS:
        setattr(m, a, _spanned(tracer, name, getattr(m, a)))
    pipeline.updates_frame = _updates_frame(tracer, pipeline.updates_frame)

    def restore() -> None:
        for m, a, fn in saved:
            setattr(m, a, fn)

    return restore
