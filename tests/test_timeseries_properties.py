"""Property tests for the timeseries stream-update arithmetic
(streaming/timeseries._update) against an independent pure-Python
reference of the BATCH definitions — Spark-free, so hypothesis can
hammer edge cases the corpus never produces: negative micro-values,
exact variance ties on the Bollinger boundary, frames shorter than
MED_L, duplicate event_ids (the FIFO drop), arbitrary micro-batch
boundaries, and reversed Arrow-chunk order within a batch (the
concat-then-sort hazard ordered_events exists for).

The reference recomputes each metric FROM SCRATCH per event from the
full prefix (the oracle-SQL reading of the semantics); the stream
update maintains rolling state. Equality across random inputs proves
the state transitions implement exactly the batch window semantics."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from async_event_streams_spark.streaming.timeseries import (
    FRAME_L,
    MED_L,
    _trunc_div,
    _update,
)


class _FakeState:
    """Duck-typed GroupState: exists/get/update is all _update uses."""

    def __init__(self):
        self.exists = False
        self._t = None

    @property
    def get(self):
        return self._t

    def update(self, t):
        self._t = tuple(t)
        self.exists = True


def _run_stream(events, batch_sizes):
    """Drive _update through _FakeState, cutting `events` into batches
    of the given sizes (remainder in a final batch), each batch split
    into two chunks delivered in REVERSED order."""
    state = _FakeState()
    frames = []
    i = 0
    cuts = list(batch_sizes) + [len(events)]
    for b in cuts:
        batch = events[i : i + b]
        i += len(batch)
        if not batch:
            continue
        half = len(batch) // 2
        chunks = [batch[half:], batch[:half]] if half else [batch]
        pdfs = [
            pd.DataFrame(
                {
                    "event_id": [e for e, _ in c],
                    "x_micro": [x for _, x in c],
                }
            )
            for c in chunks
        ]
        frames.extend(_update((7,), iter(pdfs), state))
        if i >= len(events):
            break
    if not frames:
        return []
    got = pd.concat(frames, ignore_index=True)
    return [
        (
            int(r.event_id),
            int(r.x_micro),
            int(r.ewma_pico),
            None if pd.isna(r.residual_pico) else int(r.residual_pico),
            int(r.peak_micro),
            int(r.drawdown_micro),
            int(r.band_break),
            int(r.med2_micro),
        )
        for r in got.itertuples()
    ]


def _reference(events):
    """Per-event metrics from the full prefix, straight from the batch
    definitions (frames over event_id order; a repeated event_id is a
    FIFO-contract violation and is dropped)."""
    xs = []
    rows = []
    prev_ewma = None
    for eid, x in events:
        if xs and eid <= xs[-1][0]:
            continue
        xs.append((eid, x))
        frame = [v for _, v in xs[-FRAME_L:]]
        num = sum(v * (1 << i) for i, v in enumerate(frame))
        den = (1 << len(frame)) - 1
        ewma = _trunc_div(num * 1000000, den)
        residual = None if prev_ewma is None else x * 1000000 - prev_ewma
        peak = max(v for _, v in xs)
        n = len(frame)
        if n < 2:
            band = 0
        else:
            s, q = sum(frame), sum(v * v for v in frame)
            dev = x * n - s
            band = (
                0 if dev * dev <= 4 * (q * n - s * s) else (1 if dev >= 0 else -1)
            )
        m = sorted(frame[-MED_L:])
        med2 = (
            2 * m[len(m) // 2]
            if len(m) % 2 == 1
            else m[len(m) // 2 - 1] + m[len(m) // 2]
        )
        rows.append((eid, x, ewma, residual, peak, peak - x, band, med2))
        prev_ewma = ewma
    return rows


@settings(max_examples=80, deadline=None)
@given(
    eids=st.lists(
        st.integers(min_value=0, max_value=25), min_size=1, max_size=40
    ),
    xs=st.lists(
        st.integers(min_value=-(10**9), max_value=10**9),
        min_size=40,
        max_size=40,
    ),
    batch_sizes=st.lists(st.integers(min_value=1, max_value=9), max_size=6),
)
def test_stream_update_matches_prefix_reference(eids, xs, batch_sizes):
    # per-key arrival is event_id-ordered (the topic FIFO contract);
    # duplicate eids carry the SAME payload (a replayed event), so the
    # drop has a well-defined winner under any chunk order
    eids = sorted(eids)
    first_x = {}
    events = []
    for i, e in enumerate(eids):
        x = first_x.setdefault(e, xs[i])
        events.append((e, x))
    assert _run_stream(events, batch_sizes) == _reference(events)


def test_stream_update_bollinger_boundary_is_exact():
    """A frame engineered to land dev² EXACTLY on 4·(qn−s²): the flag
    must be 0 (strict >), not ±1 — the integer-exactness point of the
    cross-multiplied form. For a frame of (n−1) zeros then B:
    dev = B(n−1), dev² = B²(n−1)²; q·n − s² = B²(n−1); the test
    B²(n−1)² > 4·B²(n−1) reduces to n−1 > 4 — so n = 5 is the EXACT
    tie (flag 0 for every B, any float path would wobble here) and
    n = 7 breaks (±1 by the sign of B)."""
    for k in (1, 5, 1000, 10**6):
        tie = [(i, 0) for i in range(1, 5)] + [(5, 4 * k)]
        rows = _run_stream(tie, [])
        assert rows[-1][6] == 0, rows[-1]
        brk = [(i, 0) for i in range(1, 7)] + [(7, 4 * k)]
        rows = _run_stream(brk, [])
        assert rows[-1][6] == 1, rows[-1]
        brk_dn = [(i, 0) for i in range(1, 7)] + [(7, -4 * k)]
        rows = _run_stream(brk_dn, [])
        assert rows[-1][6] == -1, rows[-1]


def test_sentinel_valued_state_is_honored():
    """Regression (r10 advice): the state used to overload one magic
    int64 (-(1<<62)) as both "no peak yet" and "no forecast yet" — a
    checkpointed state legitimately carrying that value would silently
    suppress the next residual and reset the running peak. The state
    now carries an explicit n_seen counter, so the full int64 domain
    is admissible state."""
    sentinel = -(1 << 62)
    state = _FakeState()
    # a restored checkpoint: one event seen, forecast/peak AT the old
    # sentinel value (n_seen=1 says they are live)
    state.update((0,) * FRAME_L + (0, sentinel, sentinel, 1, 1))
    pdf = pd.DataFrame({"event_id": [2], "x_micro": [-5]})
    (frame,) = _update((7,), iter([pdf]), state)
    # residual = x*1e6 - prev_ewma must be PRESENT (old code: None)
    assert int(frame.residual_pico[0]) == -5 * 1000000 - sentinel
    assert int(frame.peak_micro[0]) == -5
    # and a genuinely-new user still gets residual None on event 1
    fresh = _FakeState()
    (f2,) = _update((8,), iter([pdf]), fresh)
    assert pd.isna(f2.residual_pico[0])
    assert fresh.get[-1] == 1  # n_seen persisted
