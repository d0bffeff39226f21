"""Watermarked streaming window aggregations over event streams
(beyond-reference scope; batch twins are the driver-checked
tumbling_window_hourly / session_windows queries in plans/windowed.py).

Scale notes: state is keyed by (window, event_type) / (user, session);
the watermark bounds state size — without it, streaming aggregation state
grows forever. Late rows beyond the watermark are dropped, which is the
documented trade for bounded state at 100 TB/day event volumes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame,
    window_length: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts/sums with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_length).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful shape: running per-user totals via
    applyInPandasWithState — the escape hatch for operators Spark's
    built-in windows can't express (SURVEY.md §2.9)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_exact_dedup(
    events: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact deduplication: first arrival of each content digest
    wins; later copies arriving within the watermark horizon are dropped.

    The streaming twin of operators.dedup.exact_dedup. State is one row
    per digest and — unlike a bare dropDuplicates on an unbounded stream —
    dropDuplicatesWithinWatermark EXPIRES each digest's state once the
    watermark passes its event time, so state stays bounded at (dup
    horizon x ingest rate) regardless of total stream length. Duplicates
    separated by more than the horizon are deliberately NOT merged (the
    same trade every at-scale streaming dedup makes); run the batch
    exact_dedup over the persisted output for full-history dedup.
    """
    return (
        events.withColumn("digest", F.md5(F.col(text_col)))
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(["digest"])
    )


def stream_static_enrich(
    events: DataFrame,
    dim: DataFrame,
    key: str = "user_id",
    watermark: str = "1 hour",
    hint_broadcast: bool = False,
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the stream joins
    the (slowly-changing) static dimension — the standard lookup/enrich
    shape. The static side is re-evaluated per micro-batch (so an updated
    dimension table is picked up without restarting the query); no state
    is kept for the static side, so the join adds NOTHING to the
    streaming state store. Left join keeps events whose key has no
    dimension row (nulls, to audit downstream).

    Sizing is left to Spark's planner by default — a small dimension
    broadcasts on its own, and an unconditional hint would force a
    multi-GB dim through the driver every micro-batch until it OOMs.
    Pass ``hint_broadcast=True`` only when the dim is known-small but
    lacks statistics (e.g. a fresh in-memory frame)."""
    d = F.broadcast(dim) if hint_broadcast else dim
    return events.withWatermark("ts", watermark).join(d, key, "left")


def stream_stream_attribution(
    views: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to the views of
    the same user in the preceding `horizon`.

    Both sides carry watermarks and the join condition bounds purchase
    time to [view_ts, view_ts + horizon], so Spark can expire buffered
    rows: view-side state ages out once the watermark passes
    view_ts + horizon, purchase-side at its watermark — without the time
    bound a stream-stream join must buffer both streams forever. This is
    the canonical bounded-state attribution join shape.
    """
    v = (
        views.select(
            F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
        ).withWatermark("view_ts", watermark)
    )
    p = (
        purchases.select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        ).withWatermark("purchase_ts", watermark)
    )
    return p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"interval {horizon}")),
    ).select("p_user", "purchase_ts", "purchase_value", "view_ts")


def stream_stream_attribution_outer(
    views: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream attribution: every purchase emits — with
    its matching views, or with NULL view_ts once the watermark proves
    no match can still arrive. The outer semantics are the part the
    inner join can't give you (conversion-without-touchpoint rows), and
    they only work because the time bound lets Spark decide 'no view is
    coming': an unmatched purchase row is HELD IN STATE until the
    watermark passes its buffering horizon and only then emitted with
    nulls — so outer results trail the watermark by design, and an
    unbounded join would never emit them at all. Same bounded-state
    analysis as the inner form."""
    v = (
        views.select(
            F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
        ).withWatermark("view_ts", watermark)
    )
    p = (
        purchases.select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        ).withWatermark("purchase_ts", watermark)
    )
    return p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"interval {horizon}")),
        "leftOuter",
    ).select("p_user", "purchase_ts", "purchase_value", "view_ts")


def stateful_sessionizer(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Custom stateful sessionization with EVENT-TIME TIMEOUTS — the
    applyInPandasWithState shape that built-in session windows can't
    express (per-session custom payloads, explicit close-on-timeout).

    Per user, events closer than ``gap_seconds`` extend the current
    session; a larger gap closes it (emitted immediately, in-stream). A
    session with no successor event is closed by the state TIMEOUT once
    the event-time watermark passes last_event + gap — so every session
    is eventually emitted exactly once and state is removed, keeping the
    state store bounded at one row per ACTIVE user regardless of stream
    length. The streaming twin of plans/windowed.sessionize_gap (same
    1800 s gap, same tie-break on event_id).

    Scale: one shuffle keyed by user_id (high-cardinality, uniform);
    per-group batches cross to Python Arrow-batched; output mode is
    append (only closed sessions are emitted), so downstream sinks never
    see retractions."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_seconds * 1_000_000
    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, sum_value double"
    )
    state_schema = "start_us long, last_us long, n long, total double"

    def _emit(key, s, l, n, t):
        return (
            key,
            pd.Timestamp(s, unit="us"),
            pd.Timestamp(l, unit="us"),
            n,
            round(t, 4),
        )

    def update(key, pdfs, state: GroupState):
        closed = []
        if state.hasTimedOut:
            s, l, n, t = state.get
            closed.append(_emit(key[0], s, l, n, t))
            state.remove()
        else:
            rows = pd.concat(list(pdfs), ignore_index=True)
            rows = rows.sort_values(["ts", "event_id"])
            cur = state.get if state.exists else None
            for ts, v in zip(rows["ts"], rows["value"]):
                us = int(pd.Timestamp(ts).value // 1000)
                if cur is None:
                    cur = (us, us, 1, float(v))
                elif us - cur[1] > gap_us:
                    closed.append(_emit(key[0], *cur))
                    cur = (us, us, 1, float(v))
                else:
                    # max(): a LATE event (allowed by the watermark but
                    # older than the batch boundary) must not move the
                    # session's end backwards — it would mis-set the
                    # timeout and split one true session into two
                    cur = (
                        min(cur[0], us),
                        max(cur[1], us),
                        cur[2] + 1,
                        cur[3] + float(v),
                    )
            if cur is not None:
                state.update(cur)
                # close once the watermark passes last_event + gap
                state.setTimeoutTimestamp(cur[1] // 1000 + gap_seconds * 1000)
        yield pd.DataFrame(
            closed,
            columns=[
                "user_id", "session_start", "session_end", "n_events", "sum_value",
            ],
        )

    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def running_topk_values(events: DataFrame, k: int = 3) -> DataFrame:
    """Per-user running top-k event values via transformWithStateInPandas
    (Spark 4 arbitrary-state API): ListState holds the current top-k —
    the state shape applyInPandasWithState can't express incrementally
    (its single value-state would need the whole history re-serialized
    per batch; ListState is append/replace in the state store).

    Requires the RocksDB state-store provider (set on the session by the
    caller or test) and the protobuf package (the Spark 4 state-server
    protocol; absent in this container, so the e2e test self-skips — the
    same honest import-gate as the multimodal PIL decode). State per
    user is EXACTLY k rows, so the store is bounded at k x |users|
    regardless of stream length. Emits the refreshed top-k per user per
    micro-batch (update semantics)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = "user_id long, rank integer, value double"

    class TopK(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._top = handle.getListState(
                "top", StructType([StructField("v", DoubleType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            vals = [r[0] for r in self._top.get()] if self._top.exists() else []
            for pdf in rows:
                vals.extend(float(v) for v in pdf["value"])
            vals = sorted(vals, reverse=True)[:k]
            self._top.put([(v,) for v in vals])
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(vals),
                    "rank": range(1, len(vals) + 1),
                    "value": vals,
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        TopK(), out_schema, "Update", "None"
    )


def streaming_token_bucket(
    events: DataFrame,
    cap_mt: int = 1000,
    refill_mt_per_s: int = 1,
    cost_mt: int = 1000,
) -> DataFrame:
    """Streaming twin of plans/staged_r5.rate_limit_token_bucket (same
    defaults): per-user clamped token recurrence under
    applyInPandasWithState, emitting one allow/deny decision per event
    in append mode.

    State is (last_event_second, millitokens) — ONE small row per
    active user. An idle user's bucket refills to capacity after
    (cap - tokens)/refill seconds, at which point the state row is
    INFORMATION-FREE (full bucket == no state), so an event-time
    timeout removes it then: the state store is bounded by users active
    within one refill horizon, not by total users ever seen. A late
    event (older than the stored last_event_second but inside the
    watermark) refills nothing (dt clamped to 0) — deterministic, and
    tokens never move backwards."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, event_id long, tokens_after long, allowed boolean"
    state_schema = "last_es long, tokens long"

    def update(key, pdfs, state: GroupState):
        rows_out = []
        if state.hasTimedOut:
            state.remove()  # bucket has refilled to cap: state-free
        else:
            pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            if state.exists:
                last_es, tokens = state.get
            else:
                last_es, tokens = None, cap_mt
            for ts, eid in zip(pdf["ts"], pdf["event_id"]):
                es = int(pd.Timestamp(ts).value // 1_000_000_000)
                if last_es is not None:
                    dt = max(0, es - last_es)
                    tokens = min(cap_mt, tokens + refill_mt_per_s * dt)
                allowed = tokens >= cost_mt
                if allowed:
                    tokens -= cost_mt
                rows_out.append((int(key[0]), int(eid), int(tokens), bool(allowed)))
                last_es = es if last_es is None else max(last_es, es)
            state.update((int(last_es), int(tokens)))
            refill_s = -(-(cap_mt - tokens) // refill_mt_per_s)  # ceil
            state.setTimeoutTimestamp((last_es + refill_s + 1) * 1000)
        yield pd.DataFrame(
            rows_out, columns=["user_id", "event_id", "tokens_after", "allowed"]
        )

    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
