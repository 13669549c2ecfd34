"""The as-of join's per-key kernel (analytics._asof_func) without Spark.

A fake ``GroupState`` drives one call of the kernel; its emitted rows, the
state it keeps and the timeout it sets are compared with a pure-Python walk
of the same rule: a left row is emitted once the watermark reaches it,
matched with the newest right row at or before it (largest id on equal
ts), and the right side keeps only the newest row at or before the
watermark plus every later one.
"""

import numpy as np
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from kafka_connect_oss_spark.streaming import analytics as A


class FakeState:
    """The ``GroupState`` surface the kernel uses, for one call."""

    def __init__(self, packed, watermark_ms, timed_out=False):
        self._packed = packed
        self._wm_ms = watermark_ms
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout = None

    @property
    def exists(self):
        return self._packed is not None

    @property
    def get(self):
        return self._packed

    def getCurrentWatermarkMs(self):
        return self._wm_ms

    def update(self, packed):
        assert all(isinstance(v, str) for v in packed)
        assert len(packed) == len(A._ASOF_STATE.fields)
        self._packed = packed

    def remove(self):
        self._packed = None
        self.removed = True

    def setTimeoutTimestamp(self, ms):
        self.timeout = ms


def _csv(xs):
    return ",".join(str(x) for x in xs)


def _ints(s):
    return [int(x) for x in s.split(",")] if s else []


def _walk(packed, rows, wm_ms, timed_out):
    """Reference: returns (emitted, kept state or None, timeout or None)."""
    lefts, rights = [], []
    if packed is not None:
        lts, lid, rts, rid = (_ints(v) for v in packed)
        lefts, rights = list(zip(lts, lid)), list(zip(rts, rid))
    if not timed_out:
        for ts_us, side, i in rows:
            (lefts if side == 1 else rights).append((ts_us, i))
    wm_us = wm_ms * 1000
    rights.sort()
    emitted, pending = [], []
    for t, i in sorted(lefts):
        if t > wm_us:
            pending.append((t, i))
            continue
        match = None
        for rt, ri in rights:
            if rt <= t:
                match = (rt, ri)
        emitted.append((t, i) + (match or (None, None)))
    older = [r for r in rights if r[0] <= wm_us]
    kept_r = older[-1:] + [r for r in rights if r[0] > wm_us]
    if not pending and not kept_r:
        return emitted, None, None
    kept = (_csv(t for t, _ in pending), _csv(i for _, i in pending),
            _csv(t for t, _ in kept_r), _csv(i for _, i in kept_r))
    timeout = (max(pending[0][0] // 1000 + 1, wm_ms + 1) if pending
               else None)
    return emitted, kept, timeout


def _frames(rows, n_frames):
    """Split input rows (ts_us, side, id) into the kernel's pandas input."""
    pdf = pd.DataFrame({
        "ts": pd.to_datetime([t for t, _, _ in rows], unit="us"),
        "side": pd.Series([s for _, s, _ in rows], dtype="int32"),
        "id": pd.Series([i for _, _, i in rows], dtype="int64"),
    })
    cuts = np.linspace(0, len(pdf), n_frames + 1).astype(int)
    return [pdf.iloc[a:b] for a, b in zip(cuts, cuts[1:])]


def _emitted(out):
    if not out:
        return []
    pdf = pd.concat(out, ignore_index=True)
    assert list(pdf.columns) == A.ASOF_SCHEMA.names
    got = []
    for r in pdf.itertuples(index=False):
        assert r.key == 7
        got.append((pd.Timestamp(r.l_ts).value // 1000, int(r.l_id),
                    None if pd.isna(r.r_ts)
                    else pd.Timestamp(r.r_ts).value // 1000,
                    None if pd.isna(r.r_id) else int(r.r_id)))
    return got


def _run(packed, rows, wm_ms, timed_out, n_frames=1):
    state = FakeState(packed, wm_ms, timed_out)
    frames = [] if timed_out else _frames(rows, n_frames)
    out = list(A._asof_func()((7,), iter(frames), state))
    return _emitted(out), state


WM_MS = 1_000_000
# microsecond offsets around the watermark: equal ts recur often, and a row
# can fall exactly on it, one microsecond either side, or a millisecond off
_ts = st.one_of(st.sampled_from([-1000, -1, 0, 1, 1000]),
                st.integers(-3000, 3000)).map(lambda d: WM_MS * 1000 + d)
_row = st.tuples(_ts, st.sampled_from([0, 1]), st.integers(0, 4))
_side = st.lists(st.tuples(_ts, st.integers(0, 4)), max_size=6)


@st.composite
def _prior_state(draw):
    """None, or a packed state as a previous call of the kernel leaves it:
    pending left rows above an older watermark, and right rows."""
    if draw(st.booleans()):
        return None
    lefts, rights = sorted(draw(_side)), sorted(draw(_side))
    return (_csv(t for t, _ in lefts), _csv(i for _, i in lefts),
            _csv(t for t, _ in rights), _csv(i for _, i in rights))


@settings(max_examples=300, deadline=None)
@given(packed=_prior_state(), rows=st.lists(_row, max_size=12),
       wm_ms=st.sampled_from([WM_MS - 2, WM_MS, WM_MS + 2]),
       timed_out=st.booleans(), n_frames=st.integers(1, 3))
# equal-ts right rows: the largest id wins, whatever the arrival order
@example(packed=None, rows=[(WM_MS * 1000, 0, 3), (WM_MS * 1000, 0, 1),
                            (WM_MS * 1000, 1, 0)],
         wm_ms=WM_MS, timed_out=False, n_frames=2)
# a key with only right rows, one exactly at the watermark
@example(packed=None, rows=[(WM_MS * 1000 - 5, 0, 1), (WM_MS * 1000, 0, 2),
                            (WM_MS * 1000 + 1, 0, 3)],
         wm_ms=WM_MS, timed_out=False, n_frames=1)
# a key with only left rows, one exactly at the watermark
@example(packed=None, rows=[(WM_MS * 1000, 1, 1), (WM_MS * 1000 + 1, 1, 2)],
         wm_ms=WM_MS, timed_out=False, n_frames=1)
# a timed-out call flushes the pending left row against the kept right
@example(packed=(str(WM_MS * 1000 - 1), "4", str(WM_MS * 1000 - 9), "2"),
         rows=[], wm_ms=WM_MS, timed_out=True, n_frames=1)
def test_kernel_matches_python_walk(packed, rows, wm_ms, timed_out, n_frames):
    got, state = _run(packed, rows, wm_ms, timed_out, n_frames)
    emitted, kept, timeout = _walk(packed, rows, wm_ms, timed_out)
    assert got == emitted
    if kept is None:
        assert state.removed and not state.exists
    else:
        assert state.get == kept
    assert state.timeout == timeout


def test_kernel_tie_and_watermark_cases():
    at = WM_MS * 1000
    got, state = _run(None, [(at - 3, 0, 5), (at - 3, 0, 9), (at - 3, 0, 2),
                             (at, 1, 1), (at - 4, 1, 2), (at + 1, 1, 3)],
                      WM_MS, False)
    # the row at the watermark is emitted; equal-ts rights: largest id wins
    assert got == [(at - 4, 2, None, None), (at, 1, at - 3, 9)]
    # the carry is the newest right row, the left row past it stays
    assert state.get == (str(at + 1), "3", str(at - 3), "9")
    assert state.timeout == WM_MS + 1

    got, state = _run(state.get, [], WM_MS + 1, True)
    assert got == [(at + 1, 3, at - 3, 9)]
    assert state.get == ("", "", str(at - 3), "9")
    assert state.timeout is None


def test_kernel_keeps_ids_above_float_precision():
    """An unmatched row makes ``r_id`` nullable; it must stay integer."""
    at, big = WM_MS * 1000, 2**60 + 1
    got, _ = _run(None, [(at - 2, 1, big), (at - 1, 0, big + 2),
                         (at, 1, big + 4)], WM_MS, False)
    assert got == [(at - 2, big, None, None), (at, big + 4, at - 1, big + 2)]
