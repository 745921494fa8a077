"""The two CEP drivers without Spark: each pattern's one fold run by the
ordered driver (in-order micro-batches) and by the watermark-ordered
replay driver (shuffled delivery) gives the same, hand-computed rows,
also when a call's rows come split over several frames or carry a
duplicated turn_idx.

A fake GroupState stands in for Spark's; the drivers are called the
way applyInPandasWithState calls them (key tuple, iterator of pandas
batches, state), including the EventTimeTimeout call."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from stellar_etl_spark.streaming.bursts import BURSTS
from stellar_etl_spark.streaming.cep import make_ordered_fn, make_replay_fn
from stellar_etl_spark.streaming.matcher import PAIRS
from stellar_etl_spark.streaming.transitions import START, TRANSITIONS

BASE_S = 1_700_000_000
CONV = "c"

# (turn_idx, role, tool, is_err, seconds after BASE_S)
TURNS = [
    (0, "user", None, False, 0.0),
    (1, "assistant", None, False, 2.0),
    (2, "user", None, False, 3.0),
    (3, "user", None, False, 4.0),
    (4, "assistant", "search", True, 6.0),
    (5, "assistant", "search", True, 7.0),
    (6, "assistant", "calc", True, 8.0),
    (7, "assistant", None, False, 9.0),
    (8, "user", None, False, 10.0),
    (9, "assistant", "calc", True, 11.5),
    (10, "assistant", "search", True, 12.0),
    (11, "assistant", None, True, 13.0),
    (12, "user", None, False, 14.0),
    (13, "user", None, True, 15.0),
    (14, "user", None, True, 16.0),
    (15, "user", None, True, 17.0),
]
END_MS = (BASE_S + 17) * 1000

EXPECTED = {
    "pairs": [
        (CONV, 0, 1, "assistant", None, 2.0, False),
        (CONV, 2, None, None, None, None, True),
        (CONV, 3, 4, "assistant", "search", 2.0, False),
        (CONV, 8, 9, "assistant", "calc", 1.5, False),
        (CONV, 12, None, None, None, None, True),
        (CONV, 13, None, None, None, None, True),
        (CONV, 14, None, None, None, None, True),
        (CONV, 15, None, None, None, None, True),
    ],
    "transitions": [
        (CONV, START, "search", 4),
        (CONV, "search", "search", 5),
        (CONV, "search", "calc", 6),
        (CONV, "calc", "calc", 9),
        (CONV, "calc", "search", 10),
    ],
    "bursts": [
        (CONV, 4, 6, 3, 2.0),
        (CONV, 9, 11, 3, 1.5),
        (CONV, 13, 15, 3, 2.0),
    ],
}
PATTERNS = {"pairs": PAIRS, "transitions": TRANSITIONS, "bursts": BURSTS}


class FakeGroupState:
    """The slice of pyspark's GroupState the drivers use."""

    def __init__(self, event_time: bool):
        self.event_time = event_time
        self.value = None
        self.hasTimedOut = False
        self.timeout_ms = None
        self.watermark_ms = 0

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        assert self.value is not None
        return self.value

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value = None

    def setTimeoutTimestamp(self, ms):
        assert self.event_time, "NoTimeout state cannot take a timeout"
        assert ms > self.watermark_ms
        self.timeout_ms = ms

    def getCurrentWatermarkMs(self):
        return self.watermark_ms


def _batch(turns) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "conv_id": [CONV] * len(turns),
            "turn_idx": pd.Series([t[0] for t in turns], dtype="int32"),
            "role": [t[1] for t in turns],
            "tool": [t[2] for t in turns],
            "is_err": [t[3] for t in turns],
            "ts": pd.to_datetime(
                [int((BASE_S + t[4]) * 1_000_000) for t in turns], unit="us"
            ),
        }
    )


def _py(v):
    """An output cell as a plain Python value (NA -> None)."""
    if pd.isna(v):
        return None
    return v.item() if hasattr(v, "item") else v


def _call(fn, state, batches) -> list[tuple]:
    out = []
    for pdf in fn((CONV,), iter(batches), state):
        out.extend(
            tuple(_py(v) for v in row)
            for row in pdf.astype(object).itertuples(index=False)
        )
    return out


def _timeout(fn, state) -> list[tuple]:
    if not state.exists or state.timeout_ms is None:
        return []
    state.hasTimedOut = True
    out = _call(fn, state, [])
    state.hasTimedOut = False
    return out


def _ordered(pattern):
    fn = make_ordered_fn(pattern)
    state = FakeGroupState(event_time=pattern.due is not None)
    out = []
    for lo, hi in ((0, 5), (5, 11), (11, 16)):
        out += _call(fn, state, [_batch(TURNS[lo:hi])])
    # epoch replay: rows at or below the high-water mark emit nothing
    # (each would change the output if folded: evict/close/bigram)
    assert state.exists and state.get[0] == 15
    assert _call(fn, state, [_batch([TURNS[10], TURNS[12], TURNS[14]])]) == []
    state.watermark_ms = END_MS + 1
    return out + _timeout(fn, state)


def _replay(pattern):
    fn = make_replay_fn(pattern)
    state = FakeGroupState(event_time=True)
    shuffled = random.Random(7).sample(TURNS, len(TURNS))
    for lo, hi in ((0, 6), (6, 9), (9, 16)):
        assert _call(fn, state, [_batch(shuffled[lo:hi])]) == []
    state.watermark_ms = END_MS + 1
    out = _timeout(fn, state)
    assert not state.exists
    return out


@pytest.mark.parametrize("name", sorted(PATTERNS))
def test_ordered_and_replay_drivers_agree(name):
    pattern = PATTERNS[name]
    ordered = _ordered(pattern)
    assert ordered == EXPECTED[name]
    # the replay folds the whole conversation once, in turn_idx order
    assert _replay(pattern) == EXPECTED[name]


# turn 4 again, 0.5 s later and with another tool and no error: keeping
# this row instead of the original changes every pattern's output
LATER_DUP = (4, "assistant", "calc", False, 6.5)

# one call's frames, as applyInPandasWithState may hand them over
CALLS = {
    # a group that straddles an Arrow batch arrives as several frames;
    # here the higher turn_idxs come first
    "split_frames": [TURNS[8:], TURNS[:8]],
    # a turn_idx twice in one call, the later-ts row first
    "later_dup_first": [TURNS[:4] + [LATER_DUP] + TURNS[4:]],
}


@pytest.mark.parametrize("call", sorted(CALLS))
@pytest.mark.parametrize("driver", ["ordered", "replay"])
@pytest.mark.parametrize("name", sorted(PATTERNS))
def test_one_call_folds_in_turn_idx_order(name, driver, call):
    """Both drivers fold a whole call in (turn_idx, ts) order, across
    all of its frames, and keep the (turn_idx, ts)-least row of a
    duplicated turn_idx."""
    pattern = PATTERNS[name]
    if driver == "ordered":
        fn = make_ordered_fn(pattern)
        state = FakeGroupState(event_time=pattern.due is not None)
    else:
        fn = make_replay_fn(pattern)
        state = FakeGroupState(event_time=True)
    out = _call(fn, state, [_batch(turns) for turns in CALLS[call]])
    state.watermark_ms = END_MS + 1
    assert out + _timeout(fn, state) == EXPECTED[name]
