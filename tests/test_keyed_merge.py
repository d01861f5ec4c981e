"""The keyed-merge state function without Spark: the merged state and
emission do not depend on how rows are split into batches or in what
order the batches arrive, ``keep`` truncates to the smallest ``sub``
rows, and a ``sum`` past the long range fails instead of wrapping."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from otel_arrow_collector_spark.streaming.keyed_merge import (
    keyed_merge_stream, merge_frames, merge_state_fn)


class _State:
    """The slice of ``GroupState`` the state function uses."""

    def __init__(self):
        self.value = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return tuple(self.value)

    def update(self, value):
        # the state store keeps plain Python values
        assert all(isinstance(x, int) for col in value for x in col)
        self.value = value


def _snapshot(key, merged):
    return merged.assign(k=key[0])


def _drain(fn, batches):
    """Feed ``batches`` (each a list of frames) through one key's state;
    returns the state and the last emission."""
    state, out = _State(), None
    for frames in batches:
        out = pd.concat(list(fn(("g",), iter(frames), state)),
                        ignore_index=True)
    return state.get, out


def _rows(n=200, seed=7):
    rng = random.Random(seed)
    return pd.DataFrame({"s": [rng.randrange(20) for _ in range(n)],
                         "t": [rng.randrange(3) for _ in range(n)],
                         "v": [rng.randrange(-1000, 1000)
                               for _ in range(n)]})


def _splits(rows, seed):
    """A random split of ``rows`` into batches of one or two frames, in
    a random order."""
    rng = random.Random(seed)
    idx = list(range(len(rows)))
    rng.shuffle(idx)
    cuts = sorted(rng.sample(range(1, len(rows)), rng.randrange(1, 6)))
    parts = [rows.iloc[idx[a:b]] for a, b in
             zip([0] + cuts, cuts + [len(rows)])]
    batches = []
    for p in parts:
        h = rng.randrange(len(p) + 1)
        batches.append([p.iloc[:h], p.iloc[h:]])
    rng.shuffle(batches)
    return batches


@pytest.mark.parametrize("merge,keep", [
    ({"v": "sum"}, None), ({"v": "min"}, None), ({"v": "max"}, 5),
    (None, None), (None, 7)])
def test_split_and_order_invariant(merge, keep):
    rows = _rows()
    sub = ["s", "t"] if merge is None else ["s"]
    cols = sub + list(merge or {})
    fn = merge_state_fn(sub, merge, _snapshot, keep)
    whole = _drain(fn, [[rows[cols]]])
    for seed in range(8):
        got = _drain(fn, _splits(rows[cols], seed))
        assert got[0] == whole[0]
        pd.testing.assert_frame_equal(got[1], whole[1])
    want = (rows.groupby(sub, as_index=False).agg(merge) if merge
            else rows[cols].drop_duplicates().sort_values(
                sub, ignore_index=True))
    if keep is not None:
        want = want.head(keep)
    pd.testing.assert_frame_equal(whole[1].drop(columns="k"),
                                  want.reset_index(drop=True))


def test_keep_truncates_to_smallest_sub_rows():
    fn = merge_state_fn(["p", "d"], None, _snapshot, keep=3)
    b1 = pd.DataFrame({"p": [9, 4, 7, 4], "d": [1, 2, 3, 2]})
    b2 = pd.DataFrame({"p": [4, 1, 8], "d": [1, 5, 0]})
    state, out = _drain(fn, [[b1], [b2]])
    assert state == ([1, 4, 4], [5, 1, 2])
    assert list(zip(out["p"], out["d"])) == [(1, 5), (4, 1), (4, 2)]
    # a later batch of larger rows leaves the kept set alone
    state2, _ = _drain(fn, [[b1], [b2], [pd.DataFrame({"p": [50],
                                                       "d": [0]})]])
    assert state2 == state


def test_sum_past_long_range_raises():
    big = 2 ** 62
    frames = [pd.DataFrame({"s": [1, 1], "v": [big, big]})]
    with pytest.raises(OverflowError):
        merge_frames(frames, ["s"], {"v": "sum"})
    # across batches: the stored state plus the batch crosses the range
    fn = merge_state_fn(["s"], {"v": "sum"}, _snapshot)
    with pytest.raises(OverflowError):
        _drain(fn, [[pd.DataFrame({"s": [1], "v": [big]})],
                    [pd.DataFrame({"s": [1], "v": [big]})]])
    # the same magnitude below the range merges exactly
    ok = merge_frames([pd.DataFrame({"s": [1, 1, 2],
                                     "v": [big, big - 1, -big]})],
                      ["s"], {"v": "sum"})
    assert ok["v"].tolist() == [2 ** 63 - 1, -big]


def test_unknown_merge_rule_rejected():
    with pytest.raises(ValueError):
        keyed_merge_stream(None, ["g"], ["s"], {"v": "avg"}, _snapshot,
                           None)

