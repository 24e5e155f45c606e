"""Batch-incremental polling with a composite (ts, event_id) offset —
the engine-native form of the connector's ``timestamp+incrementing``
mode.

Reference parity: the Aiven JDBC source polls each whitelisted
relation for rows strictly beyond the last (timestamp, incrementing)
offset (cdc-timescale-connector.json:9-10,15; readme.md:42,266-267),
starting from a configured instant (json:13). The composite key is a
total order, so `(ts > t0) OR (ts = t0 AND event_id > i0)` never
re-delivers and never skips ids within a timestamp.

The documented weakness (SURVEY B42): rows committed late with an
older ts are missed by pure timestamp polling. ``sweep_by_id`` is the
correctness sweep the readme hints at (event_id > last_seen_id,
readme.md:266-267) — id-only polling catches stragglers regardless of
their ts.

Scale: offsets live in a tiny JSON sidecar (the connect-offsets topic
analog, docker-compose.yml:74); each poll is a partition-pruned scan
when ts maps to event_date partitions.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timescale_cdc_spark.cdc.store import write_json_atomic


@dataclass
class Offset:
    """Composite polling offset — (timestamp.column.name,
    incrementing.column.name) of the connector config (json:9-10)."""

    ts: str  # ISO timestamp, e.g. "2025-01-01 00:00:00" (json:13's start.timestamp)
    event_id: int = 0


class IncrementalPoller:
    """Repeatedly yields only-new rows from an event-log DataFrame
    source, persisting the (ts, event_id) offset across polls."""

    def __init__(self, state_path: str, start_ts: str = "2025-01-01 00:00:00"):
        # start.timestamp default mirrors cdc-timescale-connector.json:13.
        self.state_path = state_path
        self._offset = self._load() or Offset(ts=start_ts, event_id=0)

    def _load(self) -> Offset | None:
        try:
            with open(self.state_path) as f:
                d = json.load(f)
            return Offset(ts=d["ts"], event_id=int(d["event_id"]))
        except (OSError, ValueError, KeyError):
            return None

    def _commit(self, off: Offset) -> None:
        os.makedirs(os.path.dirname(self.state_path) or ".", exist_ok=True)
        write_json_atomic(self.state_path, {"ts": off.ts, "event_id": off.event_id})

    @property
    def offset(self) -> Offset:
        return self._offset

    def poll_frame(self, log_df: DataFrame) -> DataFrame:
        """The incremental SELECT (B1): rows strictly beyond the
        offset, ordered by (ts, event_id) — the connector's generated
        query shape (`WHERE (ts, event_id) > last ORDER BY ts,
        event_id`)."""
        t0 = F.lit(self._offset.ts).cast("timestamp")
        i0 = F.lit(self._offset.event_id)
        return log_df.filter(
            (F.col("ts") > t0)
            | ((F.col("ts") == t0) & (F.col("event_id") > i0))
        ).orderBy("ts", "event_id")

    def fetch(self, log_df: DataFrame) -> tuple[DataFrame, Offset | None]:
        """Fetch the next batch WITHOUT committing the offset.

        Returns ``(batch, next_offset)``; pass ``next_offset`` to
        :meth:`ack` only after the batch has been durably consumed —
        the connector's offset-commit-after-delivery contract
        (docker-compose.yml:74). A consumer crash between fetch and
        ack re-delivers the same batch next time (at-least-once),
        never skips it.

        The batch is CLOSED ABOVE at ``next_offset``: the returned
        frame filters (old_offset, next_offset] on (ts, event_id), so
        even though Spark frames are lazy and re-evaluated at action
        time, rows appended to the log between fetch and consumption
        fall outside the interval and are delivered exactly once — by
        the NEXT fetch (collects only the 2-value max row here)."""
        open_batch = self.poll_frame(log_df)
        top = (
            open_batch.select("ts", "event_id")
            .orderBy(F.desc("ts"), F.desc("event_id"))
            .limit(1)
            .collect()
        )
        if not top:
            # Return a provably-empty frame, not the open interval: the
            # open frame is lazy, so rows appended between this fetch
            # and the consumer's action would surface in an "empty"
            # batch whose ack(None) never advances the offset — the
            # next fetch would re-deliver them (double delivery).
            return open_batch.filter(F.lit(False)), None
        new = Offset(ts=str(top[0]["ts"]), event_id=int(top[0]["event_id"]))
        hi_ts = F.lit(new.ts).cast("timestamp")
        hi_id = F.lit(new.event_id)
        bounded = open_batch.filter(
            (F.col("ts") < hi_ts)
            | ((F.col("ts") == hi_ts) & (F.col("event_id") <= hi_id))
        )
        return bounded, new

    def ack(self, offset: Offset | None) -> None:
        """Commit a fetched batch's offset after successful consumption
        (the second half of the fetch/ack contract)."""
        if offset is not None:
            self._commit(offset)
            self._offset = offset

    def poll(self, log_df: DataFrame) -> DataFrame:
        """Convenience fetch+immediate-ack. NOTE the delivery
        semantics: the offset is committed BEFORE the caller acts on
        the (lazy) batch, so a consumer failure after poll() skips
        those events (at-most-once). Consumers that need at-least-once
        must use fetch()/ack(). The returned batch is bounded above at
        the committed offset, so late-appended rows are not silently
        absorbed into an already-committed interval."""
        batch, new = self.fetch(log_df)
        self.ack(new)
        return batch

    def sweep_by_id(self, log_df: DataFrame, last_seen_id: int) -> DataFrame:
        """Late-row correctness sweep (readme.md:266-267): id-only scan
        catches rows that committed with a ts older than the offset."""
        return log_df.filter(F.col("event_id") > F.lit(last_seen_id)).orderBy(
            "event_id"
        )
