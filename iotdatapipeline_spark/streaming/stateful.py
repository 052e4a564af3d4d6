"""T4 — the keyed counter/shift state machine as a Structured
Streaming stateful operator (``applyInPandasWithState``).

Faithful to the reference processor (Prensas.py:616-831):

  * state per (station, part): previous EMITTED counter
    (``contador_registro``), shift-change base (``contador_ct``),
    resumed-run offset (``corrida_previa``), time-of-day of the last
    emit (``hora_cambio``) — all updated ONLY on emit
    (Prensas.py:812-813), which makes the semantics a running-max
    state machine, not a row-lag.
  * emit when counter > prev, or (boundary crossed since last emit
    AND counter >= prev) (Prensas.py:756);
  * at a boundary emit, the base rebases to prev (Prensas.py:759) and
    the running quantity restarts: qty = cnt − base + corrida_previa
    (Prensas.py:787-792).

``emit_mode="row"`` switches prev/hora_cambio to previous-ROW
semantics (the lag-based batch analog in operators.counter_rollup) —
used by the batch↔streaming equivalence test (SURVEY.md §5.3).

Silence cleanup (T5/K5): a processing-time state timeout emits one
``limpieza`` row for the key (Prensas.py:663-677's one-shot latch —
the timeout only fires when no data arrived, and re-registers after
each batch).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "station bigint, part string, ts timestamp, counter bigint, prev_counter bigint, "
    "delta bigint, qty_running bigint, shift_change boolean, shift_id int, plan_date date, "
    "row_kind string"
)

# (prev_counter, base_ct, corrida_previa, last_tod_sec, initialized,
#  max_ts_ms). The last field is event-time-timeout bookkeeping only:
# the key's LIFETIME max event time in ms, so an out-of-order (but
# watermark-valid) batch cannot regress the silence deadline below
# already-seen data. The _advance transition neither reads nor writes
# it.
STATE_SCHEMA = (
    "prev_counter bigint, base_ct bigint, corrida_previa bigint, last_tod int, "
    "initialized boolean, max_ts_ms bigint"
)

_B1 = 8 * 3600
_B2 = 16 * 3600

#: output column order of OUTPUT_SCHEMA, cached for the fast constructor
_OUT_COLUMNS = pd.Index(
    [
        "station",
        "part",
        "ts",
        "counter",
        "prev_counter",
        "delta",
        "qty_running",
        "shift_change",
        "shift_id",
        "plan_date",
        "row_kind",
    ]
)


def _tod_sec(ts: dt.datetime) -> int:
    return ts.hour * 3600 + ts.minute * 60 + ts.second


def _shift(ts: dt.datetime) -> tuple[int, dt.date]:
    if 8 <= ts.hour < 16:
        return 1, ts.date()
    return 2, ts.date() if ts.hour >= 16 else ts.date() - dt.timedelta(days=1)


def _crossed(prev_tod: int, tod: int) -> bool:
    return (prev_tod < _B1 <= tod) or (prev_tod < _B2 <= tod)


_FRESH_STATE = (0, None, 0, 0, False)


def _limpieza_row(station, part) -> dict[str, Any]:
    return {
        "station": station,
        "part": part,
        "ts": None,
        "counter": None,
        "prev_counter": None,
        "delta": None,
        "qty_running": None,
        "shift_change": None,
        "shift_id": None,
        "plan_date": None,
        "row_kind": "limpieza",
    }


def _advance(
    station,
    part,
    pdf: pd.DataFrame,
    state_tuple: tuple,
    emit_mode: str,
) -> tuple[list[dict[str, Any]], tuple]:
    """The T4 transition as an executable spec: apply one sorted batch
    of readings to (prev, base_ct, corrida, last_tod, initialized),
    returning (emitted rows, new state). The state function executes
    ``_transition_batch`` (the vectorized hot path, which calls into
    this for row mode); reference mode is pinned to this function
    bit-for-bit by randomized equivalence tests, so the semantics
    still have a single written-out source of truth."""
    prev, base_ct, corrida, last_tod, initialized = state_tuple
    out: list[dict[str, Any]] = []
    for row in pdf.itertuples(index=False):
        ts: dt.datetime = row.ts.to_pydatetime() if hasattr(row.ts, "to_pydatetime") else row.ts
        counter = int(row.counter)
        tod = _tod_sec(ts)
        if not initialized:
            # admission (Prensas.py:702-741): baseline only, no emit
            prev, last_tod, initialized = counter, tod, True
            continue
        cambio = _crossed(last_tod, tod)
        emits = counter > prev or (cambio and counter >= prev)
        if emits:
            if cambio:
                base_ct = prev  # rebase (Prensas.py:759)
            delta = counter - prev
            qty_running = counter - (base_ct or 0) + (corrida or 0)
            shift, pdate = _shift(ts)
            out.append(
                {
                    "station": station,
                    "part": part,
                    "ts": ts,
                    "counter": counter,
                    "prev_counter": prev,
                    "delta": delta,
                    "qty_running": qty_running,
                    "shift_change": cambio,
                    "shift_id": shift,
                    "plan_date": pdate,
                    "row_kind": "update",
                }
            )
            prev, last_tod = counter, tod  # on-emit update (Prensas.py:812-813)
        if emit_mode == "row":
            prev, last_tod = counter, tod  # lag semantics: every row advances
    new_state = (int(prev), None if base_ct is None else int(base_ct), int(corrida), int(last_tod), True)
    return out, new_state


def _transition_batch(
    station,
    part,
    pdf: pd.DataFrame,
    state_tuple: tuple,
    emit_mode: str,
) -> tuple[pd.DataFrame | None, tuple, int]:
    """Sort + transition ONE batch for a key; the hot path of the
    state function. Returns (output frame or None, new state,
    batch max event-time ms).

    Reference mode runs a fully vectorized formulation: numpy lexsort
    instead of pandas sort_values, the exact running-max prune, a
    scalar loop over the (few) surviving rows, and array-built output —
    ``_advance`` remains the executable spec and the randomized
    equivalence test (TestTransitionBatchEquivalence) pins this path
    to it bit-for-bit. Profiled at the ×40 soak's per-group shape the
    pandas formulation cost ~1.9 ms/group (sort_values + itertuples +
    DataFrame-from-dicts); this one is ~10× cheaper, which matters at
    60 k key-group invocations per micro-batch."""
    # tz-aware through pandas, not numpy: np.astype('datetime64[ns]')
    # on tz-aware values is deprecated (raises on future numpy); naive
    # input localizes as UTC, which matches the session timezone the
    # pipeline pins, so both arrival forms yield identical epochs
    ts_ns = (
        pd.to_datetime(pdf["ts"], utc=True)
        .dt.tz_localize(None)
        .to_numpy()
        .astype(np.int64)
    )
    order = np.lexsort((pdf["event_id"].to_numpy(), ts_ns))
    ts_ns = ts_ns[order]
    max_ts_ms = int(ts_ns[-1]) // 1_000_000
    if emit_mode == "row":
        out, new_state = _advance(station, part, pdf.take(order), state_tuple, "row")
        return (pd.DataFrame(out) if out else None), new_state, max_ts_ms

    cnt = pdf["counter"].to_numpy(dtype="int64")[order]
    # Exact pruning of the transition loop: prev ≡ running max of
    # (initial prev, prior counters) — any counter above prev emits and
    # BECOMES prev, so the running max is prev at every position. A row
    # strictly below it can neither emit (both the strict and the
    # boundary-equality rule need counter ≥ prev) nor touch state.
    # Pinned exact by TestReferencePruning.
    seed = int(state_tuple[0]) if state_tuple[4] else np.iinfo(np.int64).min
    run = np.maximum.accumulate(np.concatenate(([seed], cnt[:-1])))
    keep = np.flatnonzero(cnt >= run)
    # naive wall-clock timestamps: seconds-of-day is a plain mod
    tod_all = (ts_ns // 1_000_000_000) % 86_400
    cnt_k = cnt[keep].tolist()
    tod_k = tod_all[keep].tolist()

    prev, base_ct, corrida, last_tod, initialized = state_tuple
    emit_pos: list[int] = []
    prevs: list[int] = []
    deltas: list[int] = []
    qtys: list[int] = []
    cambios: list[bool] = []
    for j, counter in enumerate(cnt_k):
        tod = tod_k[j]
        if not initialized:
            # admission (Prensas.py:702-741): baseline only, no emit
            prev, last_tod, initialized = counter, tod, True
            continue
        cambio = (last_tod < _B1 <= tod) or (last_tod < _B2 <= tod)
        if counter > prev or (cambio and counter >= prev):
            if cambio:
                base_ct = prev  # rebase (Prensas.py:759)
            emit_pos.append(j)
            prevs.append(prev)
            deltas.append(counter - prev)
            qtys.append(counter - (base_ct or 0) + (corrida or 0))
            cambios.append(cambio)
            prev, last_tod = counter, tod  # on-emit update (Prensas.py:812-813)
    new_state = (
        int(prev),
        None if base_ct is None else int(base_ct),
        int(corrida),
        int(last_tod),
        True,
    )
    if not emit_pos:
        return None, new_state, max_ts_ms
    idx = keep[np.asarray(emit_pos)]
    n = len(idx)
    hours = tod_all[idx] // 3600
    in_shift1 = (hours >= 8) & (hours < 16)
    # plan date (Prensas.py shift derivation): shift-2 rows before
    # 08:00 belong to the PREVIOUS day's plan
    days = ts_ns[idx] // 86_400_000_000_000 - (hours < 8)
    arrays = [
        np.full(n, station, dtype="int64"),
        np.full(n, part, dtype=object),
        ts_ns[idx].astype("datetime64[ns]"),
        cnt[idx],
        np.asarray(prevs, dtype="int64"),
        np.asarray(deltas, dtype="int64"),
        np.asarray(qtys, dtype="int64"),
        np.asarray(cambios, dtype=bool),
        np.where(in_shift1, 1, 2).astype("int32"),
        np.asarray(days.astype("datetime64[D]").tolist(), dtype=object),
        np.full(n, "update", dtype=object),
    ]
    try:
        # fast internal constructor: the arrays above are exactly the
        # per-column dtypes the dict path would produce, so skipping
        # sanitize/consolidate is safe — and it is ~6× cheaper, which
        # is the whole per-group budget at 60 k key invocations
        out_pdf = pd.DataFrame._from_arrays(
            arrays, columns=_OUT_COLUMNS, index=pd.RangeIndex(n), verify_integrity=False
        )
    except (AttributeError, TypeError):  # pandas without _from_arrays
        out_pdf = pd.DataFrame(dict(zip(_OUT_COLUMNS, arrays)))
    return out_pdf, new_state, max_ts_ms


def make_state_fn(
    emit_mode: str = "reference",
    timeout_ms: int | None = None,
    timeout_mode: str = "processing",
):
    """Build the applyInPandasWithState function. Separated for unit
    testing: the returned fn is pure given (key, batches, state).

    ``timeout_mode``:
      * ``"processing"`` — wall-clock silence (``setTimeoutDuration``),
        the reference's literal behavior (Prensas.py:663-677 measures
        real elapsed time). Nondeterministic by nature; also, under
        ``availableNow`` the wall-clock timer keeps the cleanup loop
        alive indefinitely (observed: the drained query never
        terminates), so use it only for live ``--follow`` streams.
      * ``"event"`` — silence in EVENT time: the key times out when the
        WATERMARK passes (its max seen event time + ``timeout_ms``).
        Deterministic given the replay chunking — no wall clock
        anywhere — and terminates under ``availableNow`` like any
        watermark-evicted operator, which is what a replayable,
        exactly-once pipeline wants at scale."""
    if emit_mode not in ("reference", "row"):
        raise ValueError(f"emit_mode must be 'reference' or 'row', got {emit_mode!r}")
    if timeout_mode not in ("processing", "event"):
        raise ValueError(f"timeout_mode must be 'processing' or 'event', got {timeout_mode!r}")

    def fn(key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        station, part = key
        if state.hasTimedOut:
            # T5: silence → one limpieza marker for the key (K5 executes it)
            state.remove()
            yield pd.DataFrame([_limpieza_row(station, part)])
            return

        chunks = list(pdf_iter)
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        stored = tuple(state.get) if state.exists else None
        current = stored[:5] if stored else _FRESH_STATE
        prior_max_ms = (stored[5] if stored and len(stored) > 5 else None) or 0
        out_pdf, new_state, m_ms = _transition_batch(station, part, pdf, current, emit_mode)
        # lifetime max, not batch max: a late-but-watermark-valid batch
        # must not regress the silence deadline below data already seen
        m_ms = max(m_ms, prior_max_ms)
        state.update(new_state + (m_ms,))
        if timeout_ms is not None:
            if timeout_mode == "event":
                # deadline = key's lifetime max event time (ms, Spark's
                # watermark granularity) + the silence gap. The max()
                # guard keeps Spark's "timestamp must be after the
                # watermark" contract; with a time-ordered replay the
                # batch's own rows are always at-or-after the
                # watermark, so the guard never changes the deadline in
                # practice.
                state.setTimeoutTimestamp(max(m_ms + timeout_ms, state.getCurrentWatermarkMs() + 1))
            else:
                state.setTimeoutDuration(timeout_ms)
        if out_pdf is not None:
            yield out_pdf

    return fn


def counter_state_machine(
    readings: DataFrame,
    *,
    emit_mode: str = "reference",
    timeout_ms: int | None = None,
    timeout_mode: str = "processing",
) -> DataFrame:
    """Group by (station, part) and run the T4 state machine on
    ``applyInPandasWithState``. Input needs columns: station, part, ts,
    event_id, counter.

    ``timeout_mode="event"`` (see make_state_fn) needs a watermark on
    ``ts`` upstream."""
    if timeout_ms is None:
        timeout = GroupStateTimeout.NoTimeout
    elif timeout_mode == "event":
        timeout = GroupStateTimeout.EventTimeTimeout
    else:
        timeout = GroupStateTimeout.ProcessingTimeTimeout
    return readings.groupBy("station", "part").applyInPandasWithState(
        make_state_fn(emit_mode, timeout_ms, timeout_mode),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


# ── Rolling z-score anomaly machine (streaming dual of the batch
#    `events_rolling_zscore` gate query) ──────────────────────────────

ZSCORE_OUTPUT_SCHEMA = (
    "station bigint, ts timestamp, event_id bigint, v_cents bigint, "
    "win_n bigint, dev2_n2 bigint, var_n2 bigint"
)

#: ring of the last ≤window values, oldest first
ZSCORE_STATE_SCHEMA = "ring array<bigint>"


def _zscore_advance(
    station, pdf: pd.DataFrame, ring: list, window: int, min_n: int, k2: int
) -> tuple[list[dict[str, Any]], list]:
    """Transition function: one sorted batch of readings against the
    trailing-ring state. Integer-only (the cross-multiplied z² test of
    plans/timeseries.events_rolling_zscore), so streamed output equals
    the batch window formulation bit-for-bit."""
    out: list[dict[str, Any]] = []
    for row in pdf.itertuples(index=False):
        v = int(row.counter)
        n = len(ring)
        if n >= min_n:
            s = sum(ring)
            q = sum(x * x for x in ring)
            dev = n * v - s
            var_n2 = n * q - s * s
            if dev * dev > k2 * var_n2:
                out.append(
                    {
                        "station": station,
                        "ts": row.ts,
                        "event_id": int(row.event_id),
                        "v_cents": v,
                        "win_n": n,
                        "dev2_n2": dev * dev,
                        "var_n2": var_n2,
                    }
                )
        ring.append(v)
        if len(ring) > window:
            ring.pop(0)
    return out, ring


def make_zscore_fn(window: int = 32, min_n: int = 8, k2: int = 9):
    """applyInPandasWithState fn for per-station rolling z-score
    alerts. State is the trailing ring only — O(window) per key, the
    memory bound that survives unbounded streams."""

    def fn(key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (station,) = key
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        ring = list(state.get[0]) if state.exists else []
        out, ring = _zscore_advance(station, pdf, ring, window, min_n, k2)
        state.update((ring,))
        if out:
            yield pd.DataFrame(out)

    return fn


def zscore_alert_machine(
    readings: DataFrame, *, window: int = 32, min_n: int = 8, k2: int = 9
) -> DataFrame:
    """Per-station streaming anomaly detector: flag a reading whose
    deviation from the trailing ≤``window`` readings exceeds √k2
    population standard deviations. The streaming dual of the batch
    `events_rolling_zscore` plan — the equivalence gate holds the
    drained stream output hash-identical to the batch window query."""
    return readings.groupBy("station").applyInPandasWithState(
        make_zscore_fn(window, min_n, k2),
        outputStructType=ZSCORE_OUTPUT_SCHEMA,
        stateStructType=ZSCORE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ── Alert-debounce machine (fixed-interval suppression latch) ────────

DEBOUNCE_OUTPUT_SCHEMA = "station bigint, ts timestamp, event_id bigint, gap_us bigint"

#: last KEPT reading's epoch-µs; -1 = uninitialized
DEBOUNCE_STATE_SCHEMA = "last_kept_us bigint"


def _debounce_advance(
    station, pdf: pd.DataFrame, last_kept_us: int | None, interval_us: int
) -> tuple[list[dict[str, Any]], int]:
    """Keep a reading iff ≥interval since the last KEPT reading (not
    the last row — suppression windows restart only on emit, the same
    on-emit-only state advance as the reference latch,
    Prensas.py:663-677). Sequential by construction: whether a row is
    kept depends on the full prefix of kept rows, which is why the
    batch oracle is a recursive CTE, not a window."""
    out: list[dict[str, Any]] = []
    for row in pdf.itertuples(index=False):
        ts_us = int(pd.Timestamp(row.ts).value // 1_000)
        if last_kept_us is None:
            out.append({"station": station, "ts": row.ts, "event_id": int(row.event_id), "gap_us": None})
            last_kept_us = ts_us
        elif ts_us - last_kept_us >= interval_us:
            out.append(
                {
                    "station": station,
                    "ts": row.ts,
                    "event_id": int(row.event_id),
                    "gap_us": ts_us - last_kept_us,
                }
            )
            last_kept_us = ts_us
    return out, last_kept_us


def make_debounce_fn(interval_us: int = 43_200_000_000):
    """applyInPandasWithState fn for per-station alert debouncing.
    State is ONE integer per key — the cheapest stateful operator in
    the library, and still inexpressible as a window."""

    def fn(key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (station,) = key
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        last = state.get[0] if state.exists else None
        out, last = _debounce_advance(station, pdf, last, interval_us)
        state.update((int(last),))
        if out:
            yield pd.DataFrame(out)

    return fn


def debounce_machine(readings: DataFrame, *, interval_us: int = 43_200_000_000) -> DataFrame:
    """Per-station fixed-interval alert suppression: emit a reading
    only when ≥``interval_us`` has passed since the last EMITTED one.
    The anti-flood latch in every alerting pipeline; emitted rows
    carry the realized gap."""
    return readings.groupBy("station").applyInPandasWithState(
        make_debounce_fn(interval_us),
        outputStructType=DEBOUNCE_OUTPUT_SCHEMA,
        stateStructType=DEBOUNCE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
