"""Custom stateful streaming operator: the CORE alignment DP (R7) over
a live candidate stream via ``applyInPandasWithState``.

Beyond-reference (the reference is a single-shot batch CLI): a
continuously-arriving observation feed wants trip alignment ON ARRIVAL.
The stateless half of the pipeline already streams
(``stream_tiles.stream_candidates`` — the J5 cell join with no state
store); this operator is the stateful half: candidate rows arrive in
any order across micro-batches, per-trip state accumulates the layers
seen so far, and every update re-emits the trip's CURRENT globally
optimal alignment over the accumulated prefix — an *online* Viterbi
whose last emission per trip equals the batch
``routing.viterbi_align`` answer exactly (parity-asserted in
tests/test_streaming.py).

Scale shape: state is keyed by trip_id (uniform, high-cardinality —
no hot keys); per-trip state is the trip's own candidate rows (tiny:
stops x top-k), NOT graph data — the road graph ships once per worker
as the same memoized hop-table broadcast the batch path uses
(``routing.hop_broadcast``), and a re-solve is the batch kernel
(``routing.viterbi_batch``) over one trip. Re-solving a trip costs
O(layers x k^2) table gathers on arrays already in memory, so
per-batch work is proportional to the batch's arrivals, never to the
total state size.

State LIFETIME is bounded by an event-time TTL (``ttl_ms``): each
update arms ``setTimeoutTimestamp(last event time + ttl)``; once the
watermark passes it, the trip is FINALIZED — its alignment is emitted
one last time from stored state and the state row evicted — so the
store holds only in-flight trips, not every trip ever seen. A late
candidate after finalization re-opens the trip as a fresh prefix (the
standard watermark-lateness contract). ``ttl_ms=None`` keeps the
unbounded behavior for bounded test feeds.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.routing import _ALIGN_SCHEMA, hop_broadcast, viterbi_batch

# accumulated candidate layers for one trip, column-major arrays, plus
# the max event time seen (0 when the feed carries no event time)
STATE_SCHEMA = (
    "seqs array<long>, image_ids array<string>, edge_ids array<long>, "
    "cand_nodes array<long>, dists array<double>, max_ts long"
)

_CAND_COLS = ["seq", "image_id", "edge_id", "cand_node", "dist"]


def stream_viterbi_align(
    cand_stream: DataFrame,
    edges_directed: DataFrame,
    ttl_ms: int | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming R7 with explicit per-trip state.

    ``cand_stream`` must carry the batch candidate columns
    (trip_id, seq, image_id, edge_id, cand_node, dist); the selection
    (top-k rank) is assumed done upstream, mirroring the batch layering
    candidate_edges -> viterbi_align.

    With ``ttl_ms`` set, ``cand_stream`` must also carry an event-time
    ``ts`` timestamp column; a trip whose candidates stop arriving for
    ``ttl_ms`` of event time is finalized (its alignment re-emitted one
    last time from stored state) and its state row evicted.
    """
    bc = hop_broadcast(cand_stream.sparkSession, edges_directed)
    if ttl_ms is not None:
        cand_stream = cand_stream.withWatermark("ts", watermark_delay)

    def _solve(merged: pd.DataFrame, trip_id) -> pd.DataFrame:
        trip = merged.copy()
        trip["trip_id"] = trip_id
        return viterbi_batch(trip, bc.value)

    def _unpack(state: GroupState) -> tuple:
        seqs, image_ids, edge_ids, cand_nodes, dists, max_ts = state.get
        return (
            pd.DataFrame(
                {
                    "seq": list(seqs),
                    "image_id": list(image_ids),
                    "edge_id": list(edge_ids),
                    "cand_node": list(cand_nodes),
                    "dist": list(dists),
                }
            ),
            int(max_ts),
        )

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if ttl_ms is not None and state.hasTimedOut:
            # finalize: one last (idempotent) emission, then evict
            acc, _ = _unpack(state)
            state.remove()
            if len(acc):
                yield _solve(acc, key[0])
            return
        max_ts = 0
        if state.exists:
            acc, max_ts = _unpack(state)
            parts = [acc]
        else:
            parts = []
        for pdf in pdfs:
            if len(pdf):
                parts.append(pdf[_CAND_COLS])
                if ttl_ms is not None:
                    batch_ts = int(pdf["ts"].max().value // 10**6)
                    max_ts = max(max_ts, batch_ts)
        merged = pd.concat(parts, ignore_index=True) if parts else None
        if merged is None or not len(merged):
            return
        # at-least-once sources may redeliver a row; the layer set is
        # keyed by (seq, edge_id), so dedup keeps re-solves idempotent
        merged = merged.drop_duplicates(["seq", "edge_id"], ignore_index=True)
        state.update(
            (
                [int(v) for v in merged["seq"]],
                [str(v) for v in merged["image_id"]],
                [int(v) for v in merged["edge_id"]],
                [int(v) for v in merged["cand_node"]],
                [float(v) for v in merged["dist"]],
                max_ts,
            )
        )
        if ttl_ms is not None:
            # expire when the watermark passes the trip's last event + TTL
            # (never at/behind the current watermark, per Spark contract)
            state.setTimeoutTimestamp(
                max(max_ts + ttl_ms, state.getCurrentWatermarkMs() + 1)
            )
        yield _solve(merged, key[0])

    return cand_stream.groupBy("trip_id").applyInPandasWithState(
        update,
        outputStructType=_ALIGN_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def read_candidate_stream(
    spark,
    src_dir: str,
    max_files_per_trigger: int | None = None,
    with_ts: bool = False,
) -> DataFrame:
    schema = (
        "trip_id string, seq long, image_id string, edge_id long, "
        "cand_node long, dist double"
    )
    if with_ts:
        schema += ", ts timestamp"
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)
