"""Stateful per-key processing (B46): a running current-state store —
the streaming form of log replay (B30). As envelope events arrive, the
state for each (schema, table, pk) converges to the latest row image;
DELETE tombstones mark the key dead.

Implementation: ``applyInPandasWithState`` — Arrow-batched grouped
state, the sanctioned custom-stateful-operator path (SURVEY B46). The
per-key state is tiny (last ts/id/op/image), bounded by key
cardinality, and lives in the state store with checkpoint recovery.

Scale: state is partitioned by the grouping key across executors;
no driver involvement. At 100 TB of *history* the state size is only
O(live keys).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("schema_name", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("pk", T.StringType()),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("last_event_id", T.LongType()),
        T.StructField("last_operation", T.StringType()),
        T.StructField("current_row", T.StringType()),  # after JSON; None if deleted
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("last_event_id", T.LongType()),
        T.StructField("last_operation", T.StringType()),
        T.StructField("current_row", T.StringType()),
    ]
)


def _update_state(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    if state.exists:
        last_ts, last_id, last_op, row = state.get
    else:
        last_ts, last_id, last_op, row = -1, -1, None, None
    for pdf in pdfs:
        if not len(pdf):
            continue
        pdf = pdf.sort_values(["ts_us", "event_id"])
        newest = pdf.iloc[-1]
        if (int(newest.ts_us), int(newest.event_id)) > (last_ts, last_id):
            last_ts, last_id = int(newest.ts_us), int(newest.event_id)
            last_op = str(newest.operation)
            row = None if last_op == "DELETE" else newest.after
    state.update((last_ts, last_id, last_op, row))
    yield pd.DataFrame(
        [
            {
                "schema_name": key[0],
                "table_name": key[1],
                "pk": key[2],
                "last_ts_us": last_ts,
                "last_event_id": last_id,
                "last_operation": last_op,
                "current_row": row,
            }
        ]
    )


def _keyed_envelope(envelope_stream: DataFrame, pk_json_path: str) -> DataFrame:
    return envelope_stream.select(
        "schema_name",
        "table_name",
        F.coalesce(
            F.get_json_object("after", f"$.{pk_json_path}"),
            F.get_json_object("before", f"$.{pk_json_path}"),
        ).alias("pk"),
        (F.unix_micros("ts")).alias("ts_us"),
        "event_id",
        "operation",
        "after",
    )


def running_latest_state(envelope_stream: DataFrame, pk_json_path: str) -> DataFrame:
    """Attach the running current-state operator to an envelope stream.

    Emits one row per touched key per micro-batch with the
    now-current image (update semantics)."""
    keyed = _keyed_envelope(envelope_stream, pk_json_path)
    return keyed.groupBy("schema_name", "table_name", "pk").applyInPandasWithState(
        _update_state,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
