"""Custom stateful streaming operators via ``applyInPandasWithState``
(SURVEY.md §2.D / brief: the PySpark path for operators the built-in
streaming aggregations can't express).

``running_counts`` is the reference shape: per-key state (count + sum)
carried across micro-batches in the state store, Arrow-batched user
code, append-mode output of the keys updated in each batch. State is
partitioned by key — at cluster scale each executor holds only its
keys' state, checkpointed with the query.
"""

from __future__ import annotations

from typing import Any, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from arc_jupyter_spark.exact import host_quantize

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def _output_schema(key_field: T.StructField) -> T.StructType:
    return T.StructType(
        [
            key_field,
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )


def running_counts(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    output_mode: str = "append",
) -> DataFrame:
    """Per-key running (count, sum) maintained in streaming state.

    Each micro-batch emits one row per key updated in that batch with
    the cumulative totals so far. With an ``availableNow`` run over a
    static source the emitted totals equal the batch group-by — which
    is how the oracle checks it.
    """
    key_field = stream.schema[key_col]
    out_schema = _output_schema(key_field)

    # Exact accumulation at e6 (exact.py): the emitted total is
    # independent of row/batch order (a raw float sum can flip a
    # downstream rounding tie depending on how the source splits
    # batches). The st02 oracle sums with sql_exact_sum at 6 digits.
    digits = 6

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        acc = int(host_quantize(total, digits))
        for pdf in pdfs:
            n += len(pdf)
            vals = pdf[value_col].to_numpy(dtype="float64")
            acc += int(host_quantize(vals, digits).sum())
        total = acc / 10**digits
        state.update((n, total))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "sum_value": [total]}
        )

    return (
        stream.groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=STATE_SCHEMA,
            outputMode=output_mode,
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_within_watermark(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming ingest dedup: keep the first arrival per key, with
    state bounded by the event-time watermark.

    The continuous-crawl counterpart of batch exact dedup: duplicate
    submissions (retries, mirrored feeds) arrive within some bounded
    lateness, so ``dropDuplicatesWithinWatermark`` holds each seen key
    only until the watermark passes it — state size tracks the dedup
    horizon, not the stream's history, which is what makes it runnable
    forever. State is hash-partitioned on the key; each executor holds
    only its shard.
    """
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        key_cols
    )


def running_extremes_tws(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    output_mode: str = "Update",
) -> DataFrame:
    """Per-key running (count, max) via ``transformWithStateInPandas``
    — the Spark 4 arbitrary-state API (typed state variables, timers,
    TTL) that supersedes ``applyInPandasWithState`` for new operators.

    ENVIRONMENT: the transformWithState Python runner imports
    ``google.protobuf``; in environments without it (this container)
    the streaming query crashes at initialization — call
    :func:`tws_available` first. ``running_counts`` (the
    applyInPandasWithState twin, st02) is the no-protobuf fallback.

    State is one ValueState of ``(n BIGINT, vmax_e6 BIGINT)`` per key;
    values are quantized to integer micro-units on ingest so count and
    max are exact and independent of batch/row order (same recipe as
    :func:`running_counts`). Each batch emits the updated cumulative
    row per key touched; over one ``availableNow`` batch the emission
    equals the batch ``GROUP BY`` — the oracle contract.

    Scale: state is hash-partitioned by key across the state store
    (RocksDB-backed on a real cluster), 16 bytes per key; timers/TTL
    are available on the same handle for eviction policies.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    key_field = stream.schema[key_col]
    out_schema = T.StructType(
        [
            key_field,
            T.StructField("n_events", T.LongType()),
            T.StructField("max_value_e6", T.LongType()),
        ]
    )
    class RunningExtremes(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n BIGINT, vmax_e6 BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            prev = self._agg.get() if self._agg.exists() else None
            n, vmax = (prev[0], prev[1]) if prev else (0, None)
            for pdf in rows:
                n += len(pdf)
                vals = pdf[value_col].to_numpy(dtype="float64")
                if len(vals):
                    batch_max = int(host_quantize(vals, 6).max())
                    vmax = batch_max if vmax is None else max(vmax, batch_max)
            self._agg.update((n, vmax if vmax is not None else -(2**62)))
            yield pd.DataFrame(
                {key_col: [key[0]], "n_events": [n], "max_value_e6": [vmax]}
            )

        def close(self) -> None:
            pass

    return (
        stream.groupBy(key_col)
        .transformWithStateInPandas(
            statefulProcessor=RunningExtremes(),
            outputStructType=out_schema,
            outputMode=output_mode,
            timeMode="None",
        )
    )


def tws_available() -> bool:
    """True when the transformWithState Python runner can start
    (its driver worker imports google.protobuf at handshake)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False
