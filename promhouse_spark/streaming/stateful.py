"""Stateful streaming operators (beyond-reference): a continuous counter
increase.

Over a static table, a counter-reset-aware increase is one window lag per
series — fine in batch, but a live pipeline sees each sample once, and the
previous sample of a series usually arrived in an EARLIER micro-batch. That
cross-batch "last sample per series" is exactly keyed streaming state, so
this is the one operator family built on ``applyInPandasWithState``
(Arrow-batched, per-key state store) rather than ``foreachBatch`` appends:
the monoid trick the continuous rollup uses (streaming/rollup.py) does not
apply, because increase over a boundary needs the boundary sample itself,
not a mergeable partial.

Semantics are the exact-sum increase (counter resets: a drop contributes
the post-reset value, extrapolation-free — unlike PromQL's extrapolated
``increase()``): for each series, samples are processed in timestamp order
and ``delta_i = v_i - v_{i-1} if v_i >= v_{i-1} else v_i``; the differential
test pins streaming-cumulative == batch-total.

Scale shape: state is O(live series) × 24 bytes, hash-partitioned by
fingerprint across executors by the state store; each micro-batch shuffles
only its own rows. At 1000 executors this is the standard keyed-state
topology — no driver participation, no cross-key coordination.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd

from promhouse_spark.schemas import FINGERPRINT, TIMESTAMP_MS, VALUE

#: per-series state: last seen (timestamp, value) + running increase total
STATE_SCHEMA = "last_ts long, last_value double, cum_increase double"
OUTPUT_SCHEMA = (
    f"{FINGERPRINT} long, batch_increase double, cum_increase double, "
    "last_ts long, n_samples long"
)


def _make_increase_fn(timeout_ms: int | None):
    """Build the per-series fold: vectorized counter-reset-aware increase
    over the batch's samples, seeded from (and updating) the keyed state.

    The group iterator yields one pandas chunk per Arrow batch with NO
    ordering guarantee across chunks, so the whole group is concatenated
    before the single time-sort — sorting chunks independently would
    mis-order samples whenever a series spans >maxRecordsPerBatch rows.

    When ``timeout_ms`` is set the state store runs with a processing-time
    timeout: every update re-arms a per-key timer, and a key whose timer
    fires with no new samples is dropped from state (churned series reap)
    without emitting a row."""

    def _increase_fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        if timeout_ms is not None and state.hasTimedOut:
            # timer fired with no data for this key since the last re-arm:
            # reap the series. No output row — the last emitted cumulative
            # stays the series' final word.
            state.remove()
            return
        (fp,) = key
        if state.exists:
            last_ts, last_value, cum = state.get
        else:
            last_ts, last_value, cum = None, None, 0.0
        inc = 0.0
        n = 0
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                TIMESTAMP_MS
            )
            vals = pdf[VALUE].to_numpy()
            n = len(vals)
            prev = vals[:-1]
            if last_value is not None:
                import numpy as np

                prev = np.concatenate(([last_value], prev))
                cur = vals
            else:
                cur = vals[1:]
            diffs = cur - prev
            # counter reset: a drop restarts the counter at cur
            inc = float((diffs * (diffs >= 0) + cur * (diffs < 0)).sum())
            last_value = float(vals[-1])
            last_ts = int(pdf[TIMESTAMP_MS].iloc[-1])
        cum += inc
        state.update((last_ts, last_value, cum))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {
                FINGERPRINT: [fp],
                "batch_increase": [inc],
                "cum_increase": [cum],
                "last_ts": [last_ts],
                "n_samples": [n],
            }
        )

    return _increase_fn


def continuous_increase(samples_stream, timeout_ms: int | None = None):
    """Attach the stateful increase operator to a streaming samples DF
    (``fingerprint, timestamp_ms, value``). Returns a streaming DF emitting
    one row per (series, micro-batch) with that batch's increase and the
    running total — the continuous twin of a batch window-lag sum of the
    same deltas.

    Output mode must be ``update``/``append`` on the sink. State never
    expires by default (Prometheus counters are long-lived); pass
    ``timeout_ms`` to reap series idle longer than that wall-clock duration
    (processing-time timeout — event-time would need a watermark, which this
    raw samples stream deliberately does not impose).

    Caveat with a timeout: the microbatch engine schedules extra NO-DATA
    batches so timers can fire, and under the default as-fast-as-possible
    trigger those run back-to-back — ``processAllAvailable`` then never
    observes an idle engine and blocks. Pace them with
    ``.trigger(processingTime=...)`` on the sink and poll progress/sink
    state instead (see ``tests/test_stateful_stream.py``)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return samples_stream.groupBy(FINGERPRINT).applyInPandasWithState(
        _make_increase_fn(timeout_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=conf,
    )
