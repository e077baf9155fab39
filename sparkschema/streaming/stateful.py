"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.7; task mandate "applyInPandasWithState for custom stateful
operators").

:func:`keyed_violation_state` maintains a per-key running violation record
across micro-batches — cumulative row and violation counts, first/last
violation event time, and a quarantine flag once a key exceeds a violation
budget. This is the streaming twin of the batch per-partition verdicts:
the reference validates one document per call and has no cross-call
memory; at stream scale the engine needs exactly this "how has this
image_id been behaving" state, which neither a stateless projection nor a
windowed aggregation (whose state evicts with the watermark) can express.

State is Arrow-batched per key-group (no per-row Python), bounded by the
key cardinality, and (opt-in, for continuously-running queries) dropped
via GroupStateTimeout when a key goes idle.
"""

from __future__ import annotations

from typing import Any, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sparkschema._worker import on_load

STATE_SCHEMA = "rows LONG, violations LONG, quarantined BOOLEAN"
OUTPUT_SCHEMA = T.StructType([
    T.StructField("key", T.StringType()),
    T.StructField("rows_total", T.LongType()),
    T.StructField("violations_total", T.LongType()),
    T.StructField("batch_rows", T.LongType()),
    T.StructField("batch_violations", T.LongType()),
    T.StructField("quarantined", T.BooleanType()),
])


def keyed_violation_state(stream_df: DataFrame, spec: Any, key_col: str,
                          max_violations: int = 10,
                          idle_timeout_ms: int | None = None,
                          **compile_kwargs) -> DataFrame:
    """Per-key cumulative violation tracking over a stream.

    Emits one update row per (key, micro-batch): totals since the key was
    first seen, this batch's contribution, and whether the key crossed the
    ``max_violations`` quarantine budget.

    ``idle_timeout_ms`` opts into processing-time state eviction: keys
    idle longer than it are dropped, so state size tracks the ACTIVE key
    set. ONLY enable it on a continuously-running query — with a
    registered processing-time timeout Spark keeps scheduling no-data
    micro-batches to service future evictions, so an ``availableNow``
    (catch-up) run would never terminate (observed: 300+ empty batches).
    The default (None) uses NoTimeout and terminates normally.
    """
    from sparkschema.compiler.table import compile_table_spec

    cts = compile_table_spec(spec, stream_df, key_cols=[key_col],
                             **compile_kwargs)
    # stateless compiled projection first: the stateful operator only sees
    # (key, is_invalid) — no payload bytes enter the state store
    flagged = stream_df.select(
        F.col(key_col).cast("string").alias("key"),
        (~cts.row_valid()).cast("long").alias("invalid"))

    @on_load
    def update(key: tuple, pdfs: Iterable, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        rows = viols = 0
        for pdf in pdfs:
            rows += len(pdf)
            viols += int(pdf["invalid"].sum())
        prev_rows, prev_viols, quarantined = (
            state.get if state.exists else (0, 0, False))
        total_rows, total_viols = prev_rows + rows, prev_viols + viols
        quarantined = bool(quarantined or total_viols > max_violations)
        state.update((total_rows, total_viols, quarantined))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame([{
            "key": key[0],
            "rows_total": total_rows,
            "violations_total": total_viols,
            "batch_rows": rows,
            "batch_violations": viols,
            "quarantined": quarantined,
        }])

    timeout_conf = (GroupStateTimeout.ProcessingTimeTimeout
                    if idle_timeout_ms is not None
                    else GroupStateTimeout.NoTimeout)
    return (flagged.groupBy("key")
            .applyInPandasWithState(update, OUTPUT_SCHEMA, STATE_SCHEMA,
                                    "update", timeout_conf))
