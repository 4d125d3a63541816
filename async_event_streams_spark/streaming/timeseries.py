"""Streaming twins for the r9 time-series/anomaly family: the ops
dashboard runs the EWMA smoother, the band-break rule and the drawdown
monitor on a LIVE stream — these are the most streaming-native metrics
in the registry (r9 VERDICT, Next round #2), and their per-key state is
exactly the reference's stateful-sink shape
(/root/reference/src/pipes.rs:43-94: per-key state behind a lock,
updated per event; the running peak IS the B8 max-merge state the
reference's merge sink defines, /root/reference/tests/fizz_buzz.rs:31-43).

One keyed stateful pass (keyed.py, the streaming/scd2.py discipline)
maintains O(keys) state per user — the bounded 8-deep value deque (the
EWMA/Bollinger frame), the running peak, the previous row's EWMA (the
one-step-ahead forecast) and the FIFO watermark — and emits ONE final
row per event carrying every frame-local metric:

- `ewma_pico`  — the c_ewma fold (integer num DIV den, zero float);
- `residual_pico` — x·10^6 − previous EWMA (NULL on a user's first
  event), the c_anomaly_ewma residual, FINAL once computed because it
  depends only on the past;
- `peak_micro` / `drawdown_micro` — the c_window_drawdown running max
  (max-merge state: idempotent, so replayed rows merge harmlessly);
- `band_break` — the c_window_bollinger ±2-rolling-sigma verdict,
  frame-local hence final;
- `med2_micro` — the c_window_rolling_median exact 2×-median over the
  last MED_L=5 values (the 5-frame rides inside the same 8-deep
  deque), frame-local hence final.

The ONE column that is not final per event is c_anomaly_ewma's flag:
it tests the residual against the user's WHOLE-HISTORY population
variance, which later events keep moving — append-mode output cannot
retract, so the flag is a SNAPSHOT-time derivation (`anomaly_view`):
per-user exact integer moments over the emitted log with the identical
DECIMAL widening + IEEE op sequence as the batch query, joined back to
the final residuals. Serving flags must re-read the residual log
anyway (every event's flag can flip), so deriving moments in the same
scan costs nothing extra; a 100 TB dashboard that only flags a recent
window would additionally persist the per-user (n, Σx, Σx²) partials
as a decomposable additive rollup (the streaming/mv.py delta-log
family) instead of re-aggregating history — machinery this repo
already ships.

Ordering contract: per-key FIFO by event_id (the topic layer's
SURVEY §8-H5 guarantee); an out-of-order event_id is a contract
violation upstream, dropped defensively exactly as scd2.py does.

Stream==batch is asserted wave-by-wave (incl. a mid-stream restart on
a durable sink + checkpoint) in tests/test_streaming_timeseries.py,
against batch twins that are themselves asserted equal to the five
registered queries on the full table — one semantics, two execution
shapes, pinned from both ends.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .keyed import keyed_stream, keyed_update

try:
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:
    pass


FRAME_L = 8  # the c_ewma/_EWMA_L lookback; decay 1/2 per step
MED_L = 5  # the c_window_rolling_median frame (rides inside the deque)

TS_OUTPUT_SCHEMA = (
    "user_id long, event_id long, x_micro long, ewma_pico long, "
    "residual_pico long, peak_micro long, drawdown_micro long, "
    "band_break int, med2_micro long"
)
# v0..v7: the frame deque, oldest-first (only the first `cnt` are live);
# prev_ewma is the one-step-ahead forecast carried across batches;
# last_eid is the FIFO watermark; n_seen counts accepted events — the
# explicit "have we seen anything yet" flag (peak/prev_ewma/last_eid
# are meaningless until n_seen > 0). No magic sentinel: state admits
# unbounded int64 inputs, so a value doubling as "no peak yet" would
# silently reset the running peak if a row legitimately carried it.
# All simple int64 — the scd2 rule.
TS_STATE_SCHEMA = (
    ", ".join(f"v{i} long" for i in range(FRAME_L))
    + ", cnt long, peak long, prev_ewma long, last_eid long, n_seen long"
)


def _trunc_div(n: int, d: int) -> int:
    """Truncating integer division — SQL DIV's semantics, which the
    batch c_ewma uses. Python's // FLOORS, which differs on negative
    numerators (a frame of negative micro-values): -7 DIV 2 = -3 but
    -7 // 2 = -4. The corpus is non-negative so the difference never
    shows there; a twin must match the batch definition everywhere
    (caught by driving the twin with negative values)."""
    q = abs(n) // d
    return q if n >= 0 else -q


def _fold_events(st: tuple | None, events) -> tuple[dict, tuple]:
    """The per-key fold, driven Spark-free by the property tests:
    (state tuple | None, iterable of (event_id, x_micro)) →
    (per-event output columns, new state tuple)."""
    if st is not None:
        deque = [int(v) for v in st[:FRAME_L]][: int(st[FRAME_L])]
        peak, prev_ewma, last_eid, n_seen = (
            int(st[FRAME_L + 1]),
            int(st[FRAME_L + 2]),
            int(st[FRAME_L + 3]),
            int(st[FRAME_L + 4]),
        )
    else:
        deque, peak, prev_ewma, last_eid, n_seen = [], 0, 0, 0, 0
    out: dict[str, list] = {k: [] for k in (
        "event_id", "x_micro", "ewma_pico", "residual_pico",
        "peak_micro", "drawdown_micro", "band_break", "med2_micro",
    )}
    for eid, x in events:
        eid, x = int(eid), int(x)
        if n_seen and eid <= last_eid:
            continue  # per-key FIFO contract violation: drop
        last_eid = eid
        deque.append(x)
        if len(deque) > FRAME_L:
            deque.pop(0)
        # c_ewma fold: oldest weight 1, doubling per step
        num, wt = 0, 1
        for v in deque:
            num += v * wt
            wt *= 2
        den = (1 << len(deque)) - 1
        ewma = _trunc_div(num * 1000000, den)
        residual = None if not n_seen else x * 1000000 - prev_ewma
        peak = x if not n_seen else max(peak, x)
        n_seen += 1
        # c_window_bollinger exact-integer band test
        n = len(deque)
        if n < 2:
            band = 0
        else:
            s = sum(deque)
            q = sum(v * v for v in deque)
            dev = x * n - s
            band = (
                0
                if dev * dev <= 4 * (q * n - s * s)
                else (1 if dev >= 0 else -1)
            )
        m = sorted(deque[-MED_L:])
        med2 = (
            2 * m[len(m) // 2]
            if len(m) % 2 == 1
            else m[len(m) // 2 - 1] + m[len(m) // 2]
        )
        out["event_id"].append(eid)
        out["x_micro"].append(x)
        out["ewma_pico"].append(ewma)
        out["residual_pico"].append(residual)
        out["peak_micro"].append(peak)
        out["drawdown_micro"].append(peak - x)
        out["band_break"].append(band)
        out["med2_micro"].append(med2)
        prev_ewma = ewma
    padded = deque + [0] * (FRAME_L - len(deque))
    new_state = tuple(padded) + (
        len(deque), peak, prev_ewma, last_eid, n_seen,
    )
    return out, new_state


def _out_frame(key: tuple, out: dict) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [key[0]] * len(out["event_id"]),
            "event_id": out["event_id"],
            "x_micro": out["x_micro"],
            "ewma_pico": out["ewma_pico"],
            "residual_pico": pd.array(out["residual_pico"], dtype="Int64"),
            "peak_micro": out["peak_micro"],
            "drawdown_micro": out["drawdown_micro"],
            "band_break": pd.array(out["band_break"], dtype="int32"),
            "med2_micro": out["med2_micro"],
        }
    )


def _events_from_pdf(pdf: pd.DataFrame):
    return zip(pdf["event_id"], pdf["x_micro"])


_update = keyed_update(
    _fold_events, _events_from_pdf, _out_frame, ("event_id",)
)


def timeseries_stream(df: DataFrame) -> DataFrame:
    """(user_id, event_id, x_micro) stream → one enriched row per
    event with every frame-local time-series metric (see module doc).
    State is O(keys): FRAME_L values + 4 scalars per user."""
    return keyed_stream(df, _update, TS_OUTPUT_SCHEMA, TS_STATE_SCHEMA)


def anomaly_view(emitted: DataFrame) -> DataFrame:
    """c_anomaly_ewma's output over the emitted log: the flag column
    re-derived against the CURRENT per-user population variance (the
    one non-final column — see module doc). Moment arithmetic is the
    batch query's verbatim: exact DECIMAL sums cast to double, then
    the identical IEEE comparison."""
    wp = Window.partitionBy("user_id")
    j = emitted.select(
        "user_id",
        "event_id",
        "x_micro",
        "residual_pico",
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
        F.sum(F.col("x_micro").cast("decimal(38,0)"))
        .over(wp)
        .cast("double")
        .alias("s"),
        F.sum(
            F.col("x_micro").cast("decimal(19,0)")
            * F.col("x_micro").cast("decimal(19,0)")
        )
        .over(wp)
        .cast("double")
        .alias("q"),
    )
    rp = F.col("residual_pico").cast("double") / 1000000
    var = (F.col("q") - F.col("s") * F.col("s") / F.col("n")) / F.col("n")
    return j.select(
        "user_id",
        "event_id",
        "x_micro",
        F.col("residual_pico").cast("long").alias("residual_pico"),
        F.when(F.col("residual_pico").isNull(), F.lit(0))
        .otherwise((rp * rp > F.lit(4.0) * var).cast("int"))
        .cast("int")
        .alias("anomaly"),
    )


# ---------------------------------------------------------------------------
# Batch twins over an arbitrary (user_id, event_id, x_micro) frame —
# the registered queries' plans applied to exactly the streamed subset
# (the _scd2_batch_on pattern). tests/test_streaming_timeseries.py
# asserts each twin equals its registered query on the full table, so
# stream==twin==registered is pinned transitively.
# ---------------------------------------------------------------------------


def _frame_cols(df: DataFrame):
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(-(FRAME_L - 1), Window.currentRow)
    )
    vals = F.collect_list("x_micro").over(w)
    num = F.aggregate(
        vals,
        F.struct(
            F.lit(0).cast("long").alias("num"),
            F.lit(1).cast("long").alias("wt"),
        ),
        lambda acc, v: F.struct(
            (acc.num + v * acc.wt).alias("num"), (acc.wt * 2).alias("wt")
        ),
        lambda acc: acc.num,
    )
    den = F.pow(F.lit(2.0), F.size(vals)).cast("long") - 1
    return vals, num, den


def ewma_batch_twin(df: DataFrame) -> DataFrame:
    _, num, den = _frame_cols(df)
    return df.select(
        "user_id", "event_id", "x_micro", num.alias("num"), den.alias("den")
    ).select(
        "user_id",
        "event_id",
        "x_micro",
        F.expr(
            "CAST(CAST(num AS DECIMAL(38,0)) * 1000000 DIV den AS BIGINT)"
        ).alias("ewma_pico"),
    )


def drawdown_batch_twin(df: DataFrame) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak = F.max("x_micro").over(w)
    return df.select(
        "user_id",
        "event_id",
        "x_micro",
        peak.cast("long").alias("peak_micro"),
        (peak - F.col("x_micro")).cast("long").alias("drawdown_micro"),
    )


def bollinger_batch_twin(df: DataFrame) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(-(FRAME_L - 1), Window.currentRow)
    )
    vals = F.collect_list("x_micro").over(w)
    f = df.select(
        "user_id",
        "event_id",
        "x_micro",
        F.size(vals).cast("long").alias("n"),
        F.aggregate(vals, F.lit(0).cast("long"), lambda a, v: a + v).alias("s"),
        F.aggregate(
            vals,
            F.lit(0).cast("decimal(38,0)"),
            lambda a, v: a + v.cast("decimal(19,0)") * v.cast("decimal(19,0)"),
        ).alias("q"),
    )
    dev = F.expr("CAST(x_micro AS DECIMAL(38,0)) * n - s")
    lhs = F.expr(
        "(CAST(x_micro AS DECIMAL(38,0)) * n - s)"
        " * (CAST(x_micro AS DECIMAL(38,0)) * n - s)"
    )
    rhs = F.expr("4 * (q * n - CAST(s AS DECIMAL(38,0)) * s)")
    return f.select(
        "user_id",
        "event_id",
        "x_micro",
        "n",
        F.when(F.col("n") < 2, F.lit(0))
        .when((dev >= 0) & (lhs > rhs), F.lit(1))
        .when((dev < 0) & (lhs > rhs), F.lit(-1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("band_break"),
    )


def rolling_median_batch_twin(df: DataFrame) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(-(MED_L - 1), Window.currentRow)
    )
    s = F.array_sort(F.collect_list("x_micro").over(w))
    n = F.size(s)
    med2 = F.when(
        n % 2 == 1, F.element_at(s, ((n + 1) / 2).cast("int")) * 2
    ).otherwise(
        F.element_at(s, (n / 2).cast("int"))
        + F.element_at(s, (n / 2).cast("int") + 1)
    )
    return df.select(
        "user_id",
        "event_id",
        "x_micro",
        med2.cast("long").alias("med2_micro"),
    )


def anomaly_batch_twin(df: DataFrame) -> DataFrame:
    wl = Window.partitionBy("user_id").orderBy("event_id")
    p = ewma_batch_twin(df)
    l = p.select(
        "user_id",
        "event_id",
        "x_micro",
        (F.col("x_micro") * 1000000 - F.lag("ewma_pico").over(wl)).alias(
            "residual_pico"
        ),
    )
    return anomaly_view(l)
