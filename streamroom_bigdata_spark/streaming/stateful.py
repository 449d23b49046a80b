"""Custom stateful streaming (SURVEY.md §2.9 T10).

The reference recomputes per-room booking counts in a separate batch job
(processing.scala:84-86). Here per-key state is kept live in the stream:

- ``running_counts``: the built-in path — streaming ``groupBy().agg()`` in
  update mode. Spark keeps per-key partial aggregates in the state store;
  each micro-batch emits only changed keys. Right answer for pure
  aggregates at any scale.
- the keyed-state fold: every operator whose per-key logic is not an
  aggregate is a pure ``fold(pdf, state) -> (rows, state)`` run by ONE
  update function (:func:`_fold_update`) through ONE
  ``applyInPandasWithState`` call (:func:`_keyed_fold`, update mode,
  processing-time timeout). The update drops a timed-out key's state
  without emitting, otherwise folds the key's whole micro-batch once,
  stores the state, re-arms the idle timeout and emits ``(key, *row)``.
  Running stats, the funnel, the alert latch, CUSUM and Holt live here;
  the bin packer (``packer.py``) and the Misra-Gries shards
  (``sketches.py``) use the same pair.
- ``sessionize_stateful`` keeps its own update, because its event-time
  timeout emits the open session on expiry.

Ordering contract: Spark hands a key's micro-batch to the update in Arrow
chunks of ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows. The fold
always sees the chunks concatenated, so an order-sensitive fold orders a
key's rows ONCE per micro-batch, whatever the chunk size; results do not
depend on that conf. The price is one key's micro-batch in pandas at once,
which ordering rows that arrive in different chunks needs anyway. Across
micro-batches a fold runs in arrival order. Because the idle timeout runs
on processing time, Spark follows every micro-batch with a no-data batch,
so an ``availableNow`` query over a fold never stops by itself.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATS_SCHEMA = "user_id long, n_events long, sum_value double"
STATE_SCHEMA = "n long, s double"

HOUR_MS = 3600 * 1000
DAY_MS = 24 * HOUR_MS


def _columns(schema: str) -> list[str]:
    return [field.split()[0] for field in schema.split(",")]


def _fold_update(fold, init_state, out_schema: str, timeout_ms: int):
    """applyInPandasWithState update function for a pure per-key
    ``fold(pdf, state) -> (rows, state)``. A timed-out key's state is
    removed without re-arming the timeout or emitting, so idle keys
    cannot live (and emit phantom updates) forever. Otherwise the key's
    chunks are folded as ONE frame, the state is stored, the idle timeout
    re-armed, and each row is emitted as ``(key, *row)``."""
    columns = _columns(out_schema)

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        chunks = list(pdfs)
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        rows, new_state = fold(pdf, tuple(state.get) if state.exists else init_state)
        state.update(new_state)
        state.setTimeoutDuration(timeout_ms)
        if rows:
            yield pd.DataFrame([(key[0], *r) for r in rows], columns=columns)

    return update


def _keyed_fold(
    df: DataFrame, key: str, update, out_schema: str, state_schema: str
) -> DataFrame:
    """Run an update built by :func:`_fold_update` per ``key`` in update
    mode with a processing-time idle timeout."""
    return df.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def running_counts(events: DataFrame) -> DataFrame:
    """Built-in incremental aggregate: per-key running (count, sum)."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


def _stats_fold(pdf: pd.DataFrame, state):
    n, s = state
    n += len(pdf)
    s += float(pdf["value"].sum())
    return [(n, round(s, 6))], (n, s)


# idle keys expire after an hour of no traffic — bounded state
_update_stats = _fold_update(_stats_fold, (0, 0.0), STATS_SCHEMA, HOUR_MS)


def running_stats_stateful(events: DataFrame) -> DataFrame:
    """Arbitrary-state per-key running stats via ``applyInPandasWithState``.
    Emits the updated (count, sum) for every key seen in the micro-batch."""
    return _keyed_fold(events, "user_id", _update_stats, STATS_SCHEMA, STATE_SCHEMA)


# ---------------------------------------------------------------------------
# Spark 4 transformWithState variant of the same per-key running stats:
# the successor API to applyInPandasWithState — named state variables on a
# handle (value/list/map state, optional TTL, timers) instead of one state
# tuple. Requires the RocksDB state store provider.
# ---------------------------------------------------------------------------


class RunningStatsProcessor(StatefulProcessor):
    """Per-key (count, sum) with a named ValueState and a TTL that
    expires idle keys — the declarative replacement for the timeout
    branch of :func:`_fold_update`. It runs the same ``_stats_fold``, and
    the agreement test asserts its emissions match the
    applyInPandasWithState twin batch by batch."""

    STATE_TTL_MS = HOUR_MS

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._stats = handle.getValueState(
            "stats", STATE_SCHEMA, ttlDurationMs=self.STATE_TTL_MS
        )

    def handleInputRows(self, key, rows, timer_values):
        cur = self._stats.get() if self._stats.exists() else (0, 0.0)
        out, cur = _stats_fold(pd.concat(list(rows), ignore_index=True), cur)
        self._stats.update(cur)
        yield pd.DataFrame(
            [(key[0], *r) for r in out], columns=_columns(STATS_SCHEMA)
        )

    def close(self) -> None:
        pass


def running_stats_tws(events: DataFrame) -> DataFrame:
    """T10 on the Spark 4 ``transformWithStateInPandas`` API. Needs
    ``spark.sql.streaming.stateStore.providerClass`` set to the RocksDB
    provider (transformWithState's storage backend)."""
    return events.groupBy("user_id").transformWithStateInPandas(
        RunningStatsProcessor(),
        outputStructType=STATS_SCHEMA,
        outputMode="update",
        timeMode="none",
    )


# ---------------------------------------------------------------------------
# Stateful sessionizer (T10): arbitrary per-key session state with
# event-time timeout — the streaming complement of the batch gaps-and-islands
# sessionize (operators/sessions.py) and the built-in session_window (T9).
# Use this shape when a closing session must trigger custom logic the
# built-in window can't express.
# ---------------------------------------------------------------------------

SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, sum_value double"
)
SESSION_STATE_SCHEMA = "start_ms long, last_ms long, n long, s double"
SESSION_GAP_MS = 30 * 60 * 1000


def _session_row(key, start_ms, last_ms, n, s):
    return pd.DataFrame(
        {
            "user_id": [key[0]],
            "session_start": [pd.Timestamp(start_ms, unit="ms")],
            "session_end": [pd.Timestamp(last_ms, unit="ms")],
            "n_events": [n],
            "sum_value": [round(s, 6)],
        }
    )


def _update_session(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        # watermark passed last_event + gap: the open session is final
        (start_ms, last_ms, n, s) = state.get
        state.remove()
        yield _session_row(key, start_ms, last_ms, n, s)
        return

    rows = []
    for pdf in pdfs:
        # normalize to ns first — Arrow may deliver datetime64 in us or ns
        # depending on pandas/Arrow versions, and int64 ticks follow the unit
        ms = (
            pdf["ts"].astype("datetime64[ns]").astype("int64") // 1_000_000
        ).tolist()
        rows.extend(zip(ms, pdf["value"].tolist()))
    rows.sort()

    cur = list(state.get) if state.exists else None
    out = []
    for ts_ms, v in rows:
        if cur is None:
            cur = [ts_ms, ts_ms, 0, 0.0]
        elif ts_ms - cur[1] > SESSION_GAP_MS:
            out.append(tuple(cur))
            cur = [ts_ms, ts_ms, 0, 0.0]
        cur[1] = max(cur[1], ts_ms)
        cur[2] += 1
        cur[3] += float(v)
    state.update(tuple(cur))
    # the open session finalizes when the WATERMARK (not wall clock) passes
    # its gap horizon — late events within the watermark still extend it
    state.setTimeoutTimestamp(cur[1] + SESSION_GAP_MS)
    for start_ms, last_ms, n, s in out:
        yield _session_row(key, start_ms, last_ms, n, s)


def sessionize_stateful(events: DataFrame, watermark: str = "15 minutes") -> DataFrame:
    """Streaming sessionization with explicit state: sessions closed by an
    in-batch gap emit immediately; the open session emits when the event-time
    watermark passes its gap horizon. State per key is one 4-tuple — bounded
    regardless of traffic."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_session,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming funnel: the stateful twin of operators/behavior.funnel_conversion
# ---------------------------------------------------------------------------

FUNNEL_OUT_SCHEMA = "user_id long, depth int"
# first-occurrence epoch-ms per stage; -1 = stage not seen yet
FUNNEL_STATE_SCHEMA = "t0 long, t1 long, t2 long, t3 long"
_FUNNEL_STAGES = ("signup", "click", "view", "purchase")


def funnel_depth(ts: tuple[int, int, int, int]) -> int:
    """Depth under min-ts ordering — the same semantics as the batch
    funnel_conversion: stage k is reached iff every earlier stage's FIRST
    occurrence strictly precedes this stage's first occurrence."""
    t0, t1, t2, t3 = ts
    if t0 < 0:
        return 0
    if t1 < 0 or t1 <= t0:
        return 1
    if t2 < 0 or t2 <= t1:
        return 2
    if t3 < 0 or t3 <= t2:
        return 3
    return 4


def _funnel_fold(pdf: pd.DataFrame, state):
    ts = list(state)
    ms = pdf["ts"].astype("datetime64[ms]").astype("int64").tolist()
    for stage, m in zip(pdf["event_type"].tolist(), ms):
        try:
            i = _FUNNEL_STAGES.index(stage)
        except ValueError:
            continue  # non-funnel event types pass through
        if ts[i] < 0 or m < ts[i]:
            ts[i] = m
    return [(funnel_depth(tuple(ts)),)], tuple(ts)


# idle users expire in a day
_update_funnel = _fold_update(
    _funnel_fold, (-1, -1, -1, -1), FUNNEL_OUT_SCHEMA, DAY_MS
)


def funnel_stateful(events: DataFrame) -> DataFrame:
    """Per-user live funnel depth via ``applyInPandasWithState``: state is
    ONE 4-long tuple per user (first-occurrence time of each stage), so
    state size is user-count-bounded regardless of traffic; each
    micro-batch emits the updated depth for users it touched (update
    mode). Late/out-of-order events are handled by taking the MIN per
    stage — arrival order cannot change the converged answer, matching
    the batch funnel_conversion exactly (agreement-tested)."""
    return _keyed_fold(
        events, "user_id", _update_funnel, FUNNEL_OUT_SCHEMA, FUNNEL_STATE_SCHEMA
    )


# ---------------------------------------------------------------------------
# Threshold alert latch with hysteresis (T10 family)
# ---------------------------------------------------------------------------

ALERT_HIGH = 8.0   # value >= HIGH arms an alert (once, until reset)
ALERT_LOW = 4.0    # value <= LOW resets the latch

ALERT_OUTPUT_SCHEMA = (
    "user_id long, event_id long, alert_value double, n_alerts long"
)
ALERT_STATE_SCHEMA = "latched boolean, n_alerts long"


def _event_rows(pdf: pd.DataFrame):
    """(event_id, value) pairs in deterministic event-time order."""
    ordered = pdf.sort_values(["ts", "event_id"])
    return zip(ordered["event_id"].tolist(), ordered["value"].astype(float).tolist())


def _latch_fold(pdf: pd.DataFrame, state):
    latched, n_alerts = state
    out = []
    for eid, v in _event_rows(pdf):
        if not latched and v >= ALERT_HIGH:
            latched = True
            n_alerts += 1
            out.append((int(eid), v, int(n_alerts)))
        elif latched and v <= ALERT_LOW:
            latched = False
    return out, (latched, int(n_alerts))


_update_latch = _fold_update(_latch_fold, (False, 0), ALERT_OUTPUT_SCHEMA, HOUR_MS)


def alert_latch_stateful(events: DataFrame) -> DataFrame:
    """Per-key threshold alarm with HYSTERESIS — the alert-latch shape the
    module docstring promises: one alert row the moment a key's value
    crosses ALERT_HIGH, then silence (however high values go) until the
    value falls back through ALERT_LOW re-arming the latch. Plain
    streaming filters can't express this (whether a row alerts depends on
    the key's history); the state is two scalars per key, expired after
    an idle hour — bounded at any key cardinality. Emits only alert rows
    (update mode): output traffic scales with ALERTS, not events."""
    return _keyed_fold(
        events, "user_id", _update_latch, ALERT_OUTPUT_SCHEMA, ALERT_STATE_SCHEMA
    )


# ---------------------------------------------------------------------------
# Streaming CUSUM level-shift alarm (T10 family): the sequential-detection
# twin of the retrospective batch scan operators/timeseries.cusum_changepoint
# ---------------------------------------------------------------------------

CUSUM_TARGET = 5.0     # in-control mean mu_0
CUSUM_SLACK = 0.5      # k: half the smallest shift worth detecting
CUSUM_THRESHOLD = 8.0  # h: alarm when either one-sided statistic exceeds it

CUSUM_OUT_SCHEMA = (
    "user_id long, event_id long, direction string, statistic double, "
    "n_events long, n_alarms long"
)
CUSUM_STATE_SCHEMA = "s_pos double, s_neg double, n_events long, n_alarms long"


def cusum_scan(rows, state=(0.0, 0.0, 0, 0)):
    """Tabular two-sided CUSUM over ``rows`` (iterable of (event_id, value))
    from ``state`` = (s_pos, s_neg, n_events, n_alarms).

    S+ = max(0, S+ + (x - mu - k)) catches upward level shifts,
    S- = max(0, S- + (mu - x - k)) downward; crossing h emits an alarm row
    and RESTARTS both statistics (the standard post-alarm reset, so one
    sustained shift raises one alarm, not one per subsequent point).

    Pure function shared verbatim by the streaming state update, the batch
    twin, and the tests' driver-side replay — the agreement is by
    construction, the tests check the plumbing around it."""
    s_pos, s_neg, n_events, n_alarms = state
    alarms = []
    for eid, v in rows:
        n_events += 1
        s_pos = max(0.0, s_pos + (v - CUSUM_TARGET - CUSUM_SLACK))
        s_neg = max(0.0, s_neg + (CUSUM_TARGET - v - CUSUM_SLACK))
        if s_pos > CUSUM_THRESHOLD or s_neg > CUSUM_THRESHOLD:
            up = s_pos > CUSUM_THRESHOLD
            n_alarms += 1
            alarms.append(
                (
                    int(eid),
                    "up" if up else "down",
                    round(s_pos if up else s_neg, 6),
                    n_events,
                    n_alarms,
                )
            )
            s_pos = s_neg = 0.0
    return alarms, (s_pos, s_neg, n_events, n_alarms)


def _scan_fold(kernel):
    """Fold for a pure per-key scan kernel ``(rows, state) -> (alarms,
    state)``: the key's rows in event-time order through the kernel."""
    return lambda pdf, state: kernel(_event_rows(pdf), state)


def _scan_batch_fn(kernel, init_state, schema):
    """applyInPandas batch twin for the same kernel: the full per-key
    history in event-time order through one scan — one shuffle on the
    key, used by the streaming-vs-batch agreement tests."""
    fold = _scan_fold(kernel)
    columns = _columns(schema)

    def batch(events: DataFrame) -> DataFrame:
        def scan(key, pdf):
            alarms, _ = fold(pdf, init_state)
            return pd.DataFrame([(key[0], *a) for a in alarms], columns=columns)

        return events.groupBy("user_id").applyInPandas(scan, schema)

    return batch


# idle keys expire in a day
_update_cusum = _fold_update(
    _scan_fold(cusum_scan), (0.0, 0.0, 0, 0), CUSUM_OUT_SCHEMA, DAY_MS
)


def cusum_alarm_stateful(events: DataFrame) -> DataFrame:
    """Per-key streaming CUSUM level-shift alarm via
    ``applyInPandasWithState``: the monitoring counterpart of the batch
    ``cusum_changepoint`` scan (which locates a shift retrospectively;
    this one ALARMS as soon as the running evidence crosses h). The
    pointwise ``alert_latch_stateful`` cannot see a persistent SMALL
    shift — CUSUM accumulates it.

    State per key is four scalars regardless of traffic; idle keys expire
    after a day. Emits only alarm rows (update mode), so output traffic
    scales with ALARMS, not events. Rows are ordered by event time within
    a micro-batch; across micro-batches the scan runs in arrival order —
    the inherent contract of sequential detection (an alarm cannot be
    un-raised by a late arrival)."""
    return _keyed_fold(
        events, "user_id", _update_cusum, CUSUM_OUT_SCHEMA, CUSUM_STATE_SCHEMA
    )


def cusum_alarm_batch(events: DataFrame) -> DataFrame:
    """Batch twin: the SAME ``cusum_scan`` kernel over each key's full
    history in event-time order via ``applyInPandas`` — one shuffle on the
    key, per-key work linear and parallel across keys. Used by the
    agreement test: streaming the same data in event-time-ordered
    micro-batches must emit exactly these rows."""
    return _scan_batch_fn(cusum_scan, (0.0, 0.0, 0, 0), CUSUM_OUT_SCHEMA)(events)


# ---------------------------------------------------------------------------
# Streaming Holt forecast-drift alarm (T10 family): the sequential twin of
# the retrospective batch smoother operators/timeseries.holt_linear_forecast
# ---------------------------------------------------------------------------

HOLT_DRIFT_ALPHA = 0.5   # level gain (matches the batch smoother)
HOLT_DRIFT_BETA = 0.3    # trend gain
HOLT_DRIFT_THRESHOLD = 6.0  # alarm when |value - one-step forecast| exceeds it

HOLT_OUT_SCHEMA = (
    "user_id long, event_id long, forecast double, value double, "
    "abs_err double, n_events long, n_alarms long"
)
HOLT_STATE_SCHEMA = "l double, b double, n_events long, n_alarms long"


def holt_scan(rows, state=(0.0, 0.0, 0, 0)):
    """Holt level/trend recurrence over ``rows`` (iterable of
    (event_id, value)) from ``state`` = (l, b, n_events, n_alarms).

    Each point is first scored against the one-step forecast l + b; a
    miss beyond HOLT_DRIFT_THRESHOLD emits an alarm row and RE-ANCHORS
    the smoother at the observed value (the CUSUM post-alarm reset: one
    regime break raises one alarm, and the smoother doesn't spend the
    next dozen points slewing toward the new level). In-threshold points
    update the textbook recurrence. The first point only anchors.

    Pure function shared verbatim by the streaming state update, the
    batch twin, and the tests' driver-side replay — where CUSUM detects
    a persistent shift in the MEAN, this detects a break from the
    TREND a drifting series had established."""
    l, b, n_events, n_alarms = state
    alarms = []
    for eid, v in rows:
        n_events += 1
        if n_events == 1:
            l, b = v, 0.0
            continue
        f = l + b
        err = abs(v - f)
        if err > HOLT_DRIFT_THRESHOLD:
            n_alarms += 1
            alarms.append(
                (int(eid), round(f, 6), v, round(err, 6), n_events, n_alarms)
            )
            l, b = v, 0.0
        else:
            l_new = HOLT_DRIFT_ALPHA * v + (1.0 - HOLT_DRIFT_ALPHA) * (l + b)
            b = HOLT_DRIFT_BETA * (l_new - l) + (1.0 - HOLT_DRIFT_BETA) * b
            l = l_new
    return alarms, (l, b, n_events, n_alarms)


_update_holt = _fold_update(
    _scan_fold(holt_scan), (0.0, 0.0, 0, 0), HOLT_OUT_SCHEMA, DAY_MS
)


def holt_drift_stateful(events: DataFrame) -> DataFrame:
    """Per-key streaming forecast-drift alarm via
    ``applyInPandasWithState``: the monitoring counterpart of the batch
    ``holt_linear_forecast`` backtest. CUSUM (above) flags a sustained
    level shift against a FIXED target; this flags a break from each
    key's own smoothed trajectory — a series climbing 2/event that
    suddenly flatlines alarms here long before a fixed-target CUSUM
    notices.

    State per key is four scalars regardless of traffic; idle keys
    expire after a day. Emits only alarm rows (update mode). Rows are
    ordered by event time within a micro-batch; across micro-batches the
    recurrence runs in arrival order — the sequential-detection
    contract shared with the CUSUM twin."""
    return _keyed_fold(
        events, "user_id", _update_holt, HOLT_OUT_SCHEMA, HOLT_STATE_SCHEMA
    )


def holt_drift_batch(events: DataFrame) -> DataFrame:
    """Batch twin: the SAME ``holt_scan`` kernel over each key's full
    history in event-time order via ``applyInPandas`` — one shuffle on
    the key. Used by the agreement test."""
    return _scan_batch_fn(holt_scan, (0.0, 0.0, 0, 0), HOLT_OUT_SCHEMA)(events)
