"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY.md section 2.11: the reference's keyed keep-last upsert state,
held by hand in a spreadsheet, as real managed stream state).

Per-key state: running event count, value sum, and the latest event
(by (ts, event_id) — a deterministic total order). Arrow batches in,
one updated row per key out, state persisted by the engine between
micro-batches (checkpointable, watermark-evictable with a TTL conf).

Scale shape: state is partitioned by the grouping key across
executors (RocksDB-backed state store on a real cluster); each
micro-batch touches only the keys present in the batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from youtube_etl_automated_pipeline_spark.session import ensure_protobuf_on_session

OUTPUT_SCHEMA = (
    "user_id bigint, n_events bigint, sum_value double, last_event_id bigint"
)
STATE_SCHEMA = (
    "n bigint, n_vals bigint, sum_cents bigint, last_ts bigint, last_eid bigint"
)


def _user_stats(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    # value sum held as EXACT integer cents (floor(v*100+0.5), the
    # compat.units contract): cross-batch accumulation order cannot
    # drift vs the DuckDB oracle's integer sum; one division on emit.
    # SQL SUM null semantics: parquet nulls arrive as NaN in the Arrow
    # -> pandas float column (the testdata has no real NaN values), so
    # NaN rows are skipped like SQL skips NULLs, n_vals tracks how
    # many non-null values contributed, and a key that never saw a
    # non-null value emits sum_value NULL (SUM over all-NULL), not 0.
    (n, n_vals, sum_cents, last_ts, last_eid) = (
        state.get if state.exists else (0, 0, 0, -1, -1)
    )
    for pdf in pdfs:
        n += len(pdf)
        v = pdf["value"].to_numpy(dtype="float64")
        v = v[~np.isnan(v)]
        n_vals += int(v.size)
        sum_cents += int(np.floor(v * 100.0 + 0.5).astype("int64").sum())
        best = max(zip(pdf["us"], pdf["event_id"]))
        if best > (last_ts, last_eid):
            last_ts, last_eid = int(best[0]), int(best[1])
    state.update((n, n_vals, sum_cents, last_ts, last_eid))
    yield pd.DataFrame(
        [(key[0], n, sum_cents / 100.0 if n_vals else None, last_eid)],
        columns=["user_id", "n_events", "sum_value", "last_event_id"],
    )


def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Apply the stateful per-user aggregator to a STREAMING events
    DataFrame. Each micro-batch emits the refreshed totals for the
    keys it touched (output mode 'update')."""
    keyed = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"), "value"
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        _user_stats,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------------------------
# Second-generation arbitrary state: transformWithStateInPandas
# (Spark 4). Unlike applyInPandasWithState's single opaque tuple, the
# processor owns NAMED state variables with schemas (ValueState /
# ListState / MapState), gets lifecycle hooks (init/close), timers,
# and TTL — the API Spark positions as the successor. Requires the
# RocksDB state store provider AND `google.protobuf` (the
# state-server protocol is protobuf-based); this container ships no
# protobuf distribution, so session.ensure_protobuf() wires in the
# vendored miniproto runtime (vendor/google/protobuf — a minimal
# pure-Python implementation of the public wire format), and the
# operator runs END-TO-END: tests/test_streaming.py executes it and
# `streaming_tws_user_peaks` is a full oracle-gated driver query.

TWS_OUTPUT_SCHEMA = "user_id bigint, n_events bigint, peak_cents bigint"


class UserPeakProcessor:
    """Running per-user event count + peak value (exact integer
    cents). Deterministic regardless of batch split: count is
    additive, max is associative."""

    def init(self, handle) -> None:
        self._state = handle.getValueState(
            "peak", "n bigint, peak_cents bigint"
        )

    def handleInputRows(self, key, rows, timerValues):
        # one get() instead of exists()+get(): every state-client call
        # is a proto round-trip to the JVM state server PER KEY PER
        # BATCH, and get() already returns None when absent (r08,
        # guide section 4 — shrink the Python-boundary chatter)
        st = self._state.get()
        n, peak = (0, -1) if st is None else st
        for pdf in rows:
            n += len(pdf)
            v = pdf["value"].to_numpy(dtype="float64")
            cents = np.floor(v * 100.0 + 0.5).astype("int64")
            if len(cents):
                peak = max(peak, int(cents.max()))
        self._state.update((n, peak))
        yield pd.DataFrame(
            [(key[0], n, peak)],
            columns=["user_id", "n_events", "peak_cents"],
        )

    def close(self) -> None:
        pass


def _tws_processor():
    """Build the StatefulProcessor subclass lazily: the base class
    import must not break environments without the Spark 4 API."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    # mixin first: the concrete methods must precede the ABC in the
    # MRO or they do not override its abstract stubs
    return type(
        "UserPeakStatefulProcessor", (UserPeakProcessor, StatefulProcessor), {}
    )()


TWS_NULL_KEY = -1  # sentinel grouping key for NULL user_id; user ids
# are nonnegative in the data model so -1 is unoccupied.
#
# WHY A SENTINEL IS MANDATORY for transformWithStateInPandas (round 8,
# found by the streaming null-parity sweep): a NULL grouping key is
# not rejected — it SILENTLY CORRUPTS. Measured on Spark 4.1: rows
# with NULL user_id were both merged into an unrelated live user's
# state (inflating that user's counts by exactly the null-row census)
# AND emitted as separate null-keyed rows — double-counted and
# misattributed at once. applyInPandasWithState handles null keys
# correctly (streaming_stateful_user_stats is parity-green); only the
# TWS path is affected, so every TWS wrapper below quarantines the
# null key at entry and restores it on the way out.


def _null_safe_user_key(events: DataFrame, *cols) -> DataFrame:
    """Pin NULL user_id to TWS_NULL_KEY before a TWS groupBy."""
    return events.select(
        F.coalesce("user_id", F.lit(TWS_NULL_KEY)).alias("user_id"), *cols
    )


def _restore_null_user_key(out: DataFrame) -> DataFrame:
    """Map the sentinel back to NULL so the output contract (and the
    batch/oracle twin, which keeps a NULL group) is unchanged."""
    return out.withColumn(
        "user_id",
        F.when(F.col("user_id") == TWS_NULL_KEY, F.lit(None).cast("bigint"))
        .otherwise(F.col("user_id")),
    )


def _transform_with_state(
    keyed: DataFrame,
    processor,
    schema: str,
    mode: str = "Update",
    time_mode: str = "None",
) -> DataFrame:
    """Group ``keyed`` by user_id through ``processor``. Wires
    worker-side protobuf first: the TWS PythonFunction snapshots the
    session's worker environment when it is built, not when the query
    starts."""
    ensure_protobuf_on_session(keyed.sparkSession)
    return keyed.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=processor,
        outputStructType=schema,
        outputMode=mode,
        timeMode=time_mode,
    )


def tws_user_peaks(events: DataFrame) -> DataFrame:
    """Apply the transformWithStateInPandas peak tracker to a
    STREAMING events DataFrame (update mode, no event-time timers)."""
    keyed = _null_safe_user_key(events, F.col("value"))
    return _restore_null_user_key(
        _transform_with_state(keyed, _tws_processor(), TWS_OUTPUT_SCHEMA)
    )


TWS_TOPK = 3
TWS_TOPK_SCHEMA = "user_id bigint, n_seen bigint, top_cents string"


class UserTopKProcessor:
    """Per-user top-K event values (exact integer cents) held in
    ListState — the second TWS state flavor next to the peak
    tracker's ValueState. The list stores the current top-K sorted
    DESCENDING, one row per entry (the natural ListState shape);
    merging a batch re-ranks (old entries ∪ batch values) and puts
    back the new top-K. Top-K is an associative, order-insensitive
    fold, so the result is deterministic under any batch split or
    arrival order. The n_seen counter rides in the same list's first
    entry slot (entry schema: (cents, seen_delta)) — no second state
    variable needed, and it gives the update-collapse a monotone
    pick column."""

    def init(self, handle) -> None:
        self._top = handle.getListState("topk", "cents bigint, seen bigint")

    def handleInputRows(self, key, rows, timerValues):
        # no exists() probe: iterating an absent ListState terminates
        # immediately (the client maps no-such-state to iterator
        # exhaustion), so the probe was a pure extra round-trip per
        # key per batch (r08)
        old = [(int(r[0]), int(r[1])) for r in self._top.get()]
        n_seen = sum(s for _, s in old)
        cents: list[int] = [c for c, _ in old]
        for pdf in rows:
            v = pdf["value"].to_numpy(dtype="float64")
            batch = np.floor(v * 100.0 + 0.5).astype("int64")
            n_seen += len(batch)
            cents.extend(int(c) for c in batch)
        top = sorted(cents, reverse=True)[:TWS_TOPK]
        # seen-counter lives on the first entry; the rest carry 0
        entries = [
            (c, n_seen if i == 0 else 0) for i, c in enumerate(top)
        ]
        self._top.put(entries)
        yield pd.DataFrame(
            [(key[0], n_seen, "|".join(str(c) for c in top))],
            columns=["user_id", "n_seen", "top_cents"],
        )

    def close(self) -> None:
        pass


def _tws_topk_processor():
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    return type(
        "UserTopKStatefulProcessor", (UserTopKProcessor, StatefulProcessor), {}
    )()


def tws_user_topk(events: DataFrame) -> DataFrame:
    """Apply the ListState top-K tracker to a STREAMING events
    DataFrame (update mode)."""
    keyed = _null_safe_user_key(events, F.col("value"))
    return _restore_null_user_key(
        _transform_with_state(keyed, _tws_topk_processor(), TWS_TOPK_SCHEMA)
    )


TWS_TYPEMAP_SCHEMA = "user_id bigint, event_type string, n bigint"


class UserTypeCountProcessor:
    """Per-user per-event-type running counts in MapState — the third
    TWS state flavor (ValueState: peak; ListState: top-K; MapState:
    keyed sub-counters). Each batch increments the touched types'
    entries and emits the refreshed (user, type, n) rows. Counts are
    additive, so any batch split yields the same final map."""

    def init(self, handle) -> None:
        self._counts = handle.getMapState(
            "type_counts", "event_type string", "n bigint"
        )

    def handleInputRows(self, key, rows, timerValues):
        delta: dict[str, int] = {}
        for pdf in rows:
            for t, c in pdf["event_type"].value_counts().items():
                delta[str(t)] = delta.get(str(t), 0) + int(c)
        out = []
        for t, c in delta.items():
            # getValue() returns None for an absent key — the
            # containsKey() probe doubled the per-(user, type)
            # round-trips (r08)
            got = self._counts.getValue((t,))
            prev = 0 if got is None else int(got[0])
            n = prev + c
            self._counts.updateValue((t,), (n,))
            out.append((key[0], t, n))
        yield pd.DataFrame(out, columns=["user_id", "event_type", "n"])

    def close(self) -> None:
        pass


def _tws_typemap_processor():
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    return type(
        "UserTypeCountStatefulProcessor",
        (UserTypeCountProcessor, StatefulProcessor),
        {},
    )()


def tws_user_type_counts(events: DataFrame) -> DataFrame:
    """Apply the MapState per-type counter to a STREAMING events
    DataFrame (update mode). A NULL event_type is pinned to the same
    '<null>' sentinel as the batch twin (user_event_type_map) BEFORE
    it reaches the processor: a null can never be a MapState key
    (Spark raises NULL_MAP_KEY), and pandas value_counts would
    otherwise silently DROP the NaN rows — the sentinel keeps dirty
    rows counted, identically in both the streaming state path and
    the batch/oracle path (streaming null-parity gate pins this)."""
    keyed = _null_safe_user_key(
        events, F.coalesce("event_type", F.lit("<null>")).alias("event_type")
    )
    return _restore_null_user_key(
        _transform_with_state(
            keyed, _tws_typemap_processor(), TWS_TYPEMAP_SCHEMA
        )
    )


TWS_INACTIVE_AFTER_MS = 2 * 3600 * 1000  # inactivity horizon: 2h
TWS_INACTIVE_SCHEMA = "user_id bigint, n_events bigint, last_ms bigint"


class InactiveUserProcessor:
    """EVENT-TIME TIMERS: flag users inactive for TWS_INACTIVE_AFTER
    after their last event. Each batch advances the per-user
    (last_ms, n) ValueState and re-arms one timer at
    last_ms + horizon (deleting the stale one); the engine fires
    `handleExpiredTimer` once the event-time watermark passes the
    expiry, emitting the inactivity record. Deterministic under
    availableNow: the final watermark is max(event time) - delay, so
    exactly the users whose horizon falls inside the stream's span
    fire — the oracle applies the same cutoff."""

    def init(self, handle) -> None:
        self._handle = handle
        self._state = handle.getValueState("last_seen", "last_ms bigint, n bigint")

    def handleInputRows(self, key, rows, timerValues):
        st = self._state.get()  # None when absent: no exists() probe
        fresh = st is None
        last_ms, n = (-1, 0) if fresh else (int(x) for x in st)
        for pdf in rows:
            n += len(pdf)
            ms = (pdf["us"].to_numpy(dtype="int64") // 1000)
            if len(ms):
                last_ms = max(last_ms, int(ms.max()))
        self._state.update((last_ms, n))
        # a FRESH key cannot have an armed timer — skip the
        # listTimers()+deleteTimer() round-trips on first sight (r08);
        # re-keyed batches still re-arm by deleting the stale timer
        if not fresh:
            for expiry in list(self._handle.listTimers()):
                self._handle.deleteTimer(expiry)
        self._handle.registerTimer(last_ms + TWS_INACTIVE_AFTER_MS)
        return iter(())  # timers produce the output, not data batches

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        last_ms, n = (int(x) for x in self._state.get())
        yield pd.DataFrame(
            [(key[0], n, last_ms)],
            columns=["user_id", "n_events", "last_ms"],
        )

    def close(self) -> None:
        pass


def _tws_inactive_processor():
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    return type(
        "InactiveUserStatefulProcessor",
        (InactiveUserProcessor, StatefulProcessor),
        {},
    )()


def tws_inactive_users(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Apply the event-time-timer inactivity flagger to a STREAMING
    events DataFrame (append mode — rows come from timer firings)."""
    keyed = _null_safe_user_key(
        events.withWatermark("ts", watermark),
        F.unix_micros("ts").alias("us"),
        F.col("ts"),
    )
    return _restore_null_user_key(
        _transform_with_state(
            keyed, _tws_inactive_processor(), TWS_INACTIVE_SCHEMA, "Append", "EventTime"
        )
    )


# ------------------------------------------------ transition matrix
TWS_TRANSITION_SCHEMA = "from_type string, to_type string, n bigint"
# null event_type encoded inside ValueState (miniproto state tuples
# carry no per-field null marker; \x00 cannot occur in event data)
_ETYPE_NULL = "\x00null\x00"


class TransitionDeltaProcessor:
    """Per-user event-transition deltas with a ValueState boundary:
    the state remembers the user's LAST (ts_us, event_id, event_type);
    each batch sorts its rows by (ts_us, event_id), stitches the
    boundary transition from state onto the front, emits the batch's
    (from_type, to_type, count) deltas, and advances the state to the
    batch's last row. Deltas are additive, so ANY batch split sums to
    the one-shot census — the restart-invariance contract. Transitions
    INTO a null event_type are skipped (the batch twin's
    next_type IS NOT NULL filter); transitions OUT of a null type are
    kept (from_type is a real NULL group in both engines)."""

    def init(self, handle) -> None:
        self._last = handle.getValueState(
            "last", "ts_us bigint, event_id bigint, etype string"
        )

    def handleInputRows(self, key, rows, timerValues):
        pdfs = [p for p in rows if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs).sort_values(["us", "event_id"])
        types = [
            None if t is None or (isinstance(t, float) and np.isnan(t)) else str(t)
            for t in pdf["event_type"].tolist()
        ]
        prev: str | None = None
        have_prev = False
        st = self._last.get()  # None when absent: no exists() probe
        if st is not None:
            prev = None if st[2] == _ETYPE_NULL else str(st[2])
            have_prev = True
        counts: dict[tuple, int] = {}
        for t in types:
            if have_prev and t is not None:
                counts[(prev, t)] = counts.get((prev, t), 0) + 1
            prev, have_prev = t, True
        last_row = pdf.iloc[-1]
        self._last.update(
            (
                int(last_row["us"]),
                int(last_row["event_id"]),
                _ETYPE_NULL if types[-1] is None else types[-1],
            )
        )
        if counts:
            yield pd.DataFrame(
                [(a, b, n) for (a, b), n in counts.items()],
                columns=["from_type", "to_type", "n"],
            )

    def close(self) -> None:
        pass


def _tws_transition_processor():
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    return type(
        "TransitionDeltaStatefulProcessor",
        (TransitionDeltaProcessor, StatefulProcessor),
        {},
    )()


def tws_transition_deltas(events: DataFrame) -> DataFrame:
    """Apply the transition-delta processor to a STREAMING events
    DataFrame (update mode). Same null-key quarantine as every TWS
    wrapper; user_id is not re-emitted (deltas aggregate globally)."""
    keyed = _null_safe_user_key(
        events,
        F.unix_micros("ts").alias("us"),
        F.col("event_id"),
        F.col("event_type"),
    )
    return _transform_with_state(
        keyed, _tws_transition_processor(), TWS_TRANSITION_SCHEMA
    )


TWS_EWMA_SCHEMA = "user_id bigint, n_events bigint, ewma_cents bigint"


class EwmaStateProcessor:
    """The ewma_user_value integer recursion (e_0 = v_0; e_i =
    (3*e_{i-1} + v_i) // 4 on cents) carried through a TWS ValueState:
    state = (ewma_cents, n_events). Each batch sorts its arrivals by
    (ts, event_id) and folds them starting from state, so ANY
    order-respecting batch split replays the EXACT integer fixed
    point of the one-shot batch kernel — stream == batch == oracle.
    Emits the post-batch (user_id, n_events, ewma_cents); n_events is
    strictly increasing per emission, so the rollup's keep-max
    collapse is deterministic."""

    def init(self, handle) -> None:
        self._st = handle.getValueState(
            "ewma", "ewma_cents bigint, n_events bigint"
        )

    def handleInputRows(self, key, rows, timerValues):
        pdfs = [p for p in rows if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs).sort_values(["us", "event_id"])
        cents = np.floor(pdf["value"].to_numpy() * 100.0 + 0.5).astype(
            "int64"
        )
        st = self._st.get()  # None when absent: no exists() probe
        if st is not None:
            e, n = (int(x) for x in st)
            start = 0
        else:
            e, n = int(cents[0]), 1
            start = 1
        for i in range(start, len(cents)):
            e = (3 * e + int(cents[i])) // 4
            n += 1
        self._st.update((e, n))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_events": [n],
                "ewma_cents": [e],
            }
        )

    def close(self) -> None:
        pass


def _tws_ewma_processor():
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    return type(
        "EwmaStatefulProcessor", (EwmaStateProcessor, StatefulProcessor), {}
    )()


def tws_ewma_user_value(events: DataFrame) -> DataFrame:
    """Apply the EWMA recursion processor to a STREAMING events
    DataFrame (update mode). NULL-value rows carry no signal and are
    filtered BEFORE keying (the batch twin's value IS NOT NULL), and
    a sequential recursion is undefined without a sequence identity,
    so NULL user_id rows are excluded on BOTH sides (the oracle adds
    the same predicate — a NULL group cannot thread a recursive CTE's
    equi-join). The sentinel quarantine still wraps the groupBy as
    the engine-wide TWS entry contract (vacuously, post-filter)."""
    keyed = _null_safe_user_key(
        events.filter(
            F.col("value").isNotNull() & F.col("user_id").isNotNull()
        ),
        F.unix_micros("ts").alias("us"),
        F.col("event_id"),
        F.col("value"),
    )
    return _restore_null_user_key(
        _transform_with_state(keyed, _tws_ewma_processor(), TWS_EWMA_SCHEMA)
    )


TWS_FUNNEL_SCHEMA = (
    "user_id bigint, seq_len int, n_conversions int, longest_run int"
)
_FUNNEL_PATTERN = "V[CE]*P"


class FunnelSeqProcessor:
    """The sequence_funnel_regex census maintained incrementally: a
    ValueState holds each user's accumulated symbol string; every
    micro-batch appends its (ts, event_id)-sorted symbols and re-scans
    the full string with the SAME unique-extent pattern the batch twin
    uses (V[CE]*P's match extent is unique at any start, so Python re,
    Java regex and RE2 all count identically). State is one string per
    user, bounded by that user's activity — the same per-key bound the
    batch twin's grouped collect carries. seq_len strictly increases
    per emission, so the rollup's keep-max collapse is deterministic
    and any order-respecting batch split equals the one-shot scan."""

    def init(self, handle) -> None:
        self._seq = handle.getValueState("seq", "seq string")

    def handleInputRows(self, key, rows, timerValues):
        import re

        pdfs = [p for p in rows if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs).sort_values(["us", "event_id"])
        add = "".join(str(s)[:1].upper() for s in pdf["sym"].tolist())
        st = self._seq.get()  # None when absent: no exists() probe
        prev = "" if st is None else st[0]
        seq = prev + add
        self._seq.update((seq,))
        runs = re.findall(_FUNNEL_PATTERN, seq)
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "seq_len": [len(seq)],
                "n_conversions": [len(runs)],
                "longest_run": [max((len(r) for r in runs), default=0)],
            }
        )

    def close(self) -> None:
        pass


def _tws_funnel_processor():
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    return type(
        "FunnelSeqStatefulProcessor",
        (FunnelSeqProcessor, StatefulProcessor),
        {},
    )()


def tws_funnel_seq(events: DataFrame) -> DataFrame:
    """Apply the funnel-sequence processor to a STREAMING events
    DataFrame (update mode). The batch twin's participation filter
    (user_id/ts/event_type all non-null — an event without identity,
    time or type has no place in a sequence) applies BEFORE keying;
    the sentinel quarantine wraps the groupBy as the engine-wide TWS
    entry contract (vacuously, post-filter)."""
    keyed = _null_safe_user_key(
        events.filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        ),
        F.unix_micros("ts").alias("us"),
        F.col("event_id"),
        F.expr("upper(substring(event_type, 1, 1))").alias("sym"),
    )
    return _restore_null_user_key(
        _transform_with_state(keyed, _tws_funnel_processor(), TWS_FUNNEL_SCHEMA)
    )
