"""Tests of the benchmark's own helpers (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT, Tracer, percentile, tail_percentile  # noqa: E402

sys.path.insert(0, ROOT)

import feed  # noqa: E402
import gen  # noqa: E402
import lake  # noqa: E402


# -- percentile with at least ten samples beyond it -----------------------

@pytest.mark.parametrize("n,want", [
    (1000, 99.0), (999, 95.0), (500, 95.0), (200, 95.0), (199, 90.0),
    (100, 90.0), (99, 75.0), (40, 75.0), (39, 50.0), (20, 50.0),
    (19, None), (0, None)])
def test_tail_percentile_keeps_ten_beyond(n, want):
    assert tail_percentile(n) == want


@pytest.mark.parametrize("n", [20, 40, 100, 500, 1000, 1234])
def test_chosen_percentile_has_ten_samples_beyond(n):
    p = tail_percentile(n)
    vals = list(range(n))
    beyond = sum(1 for v in vals if v > percentile(vals, p))
    assert beyond >= 10


def test_percentile_is_nearest_rank():
    vals = list(range(1, 101))
    assert percentile(vals, 50) == 50
    assert percentile(vals, 99) == 99
    assert percentile(vals, 100) == 100
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


# -- freshness reconstruction from batch offsets --------------------------

def _batch(bid, start, end, sink_end, rows=0):
    return feed.Batch(id=bid, start=start, end=end, rows=rows, duration={},
                      state={}, watermark_ms=0, t_begin=0.0,
                      sink=(sink_end - 0.1, sink_end))


def test_freshness_uses_the_batch_that_carried_each_frame():
    # two shards; frame k = seq * 2 + shard, due at 100 + k / 10
    batches = [_batch(0, [0, 0], [2, 1], 101.0),   # frames 0, 2, 1
               _batch(1, [2, 1], [3, 3], 102.5)]   # frames 4, 3, 5
    fresh = feed.freshness_ms(batches, lambda k: 100.0 + k / 10.0,
                              (100.0, 100.45))
    assert set(fresh) == {0, 1, 2, 3, 4}            # frame 5 is due 100.5
    assert fresh[0] == pytest.approx(1000.0)
    assert fresh[2] == pytest.approx(800.0)
    assert fresh[1] == pytest.approx(900.0)
    assert fresh[4] == pytest.approx(2100.0)
    assert fresh[3] == pytest.approx(2200.0)


def test_freshness_skips_batches_without_a_sink_write():
    b = _batch(0, [0, 0], [1, 1], 5.0)
    b.sink = None
    assert feed.freshness_ms([b], lambda k: 0.0, (0.0, 1.0)) == {}


def test_offset_faults_find_gaps_and_overlaps():
    tiled = [_batch(0, [0, 0], [2, 3], 1.0), _batch(1, [2, 3], [5, 4], 2.0)]
    assert feed.offset_faults(tiled, [5, 4]) == (0, 0)
    gap = [_batch(0, [0, 0], [2, 3], 1.0), _batch(1, [3, 3], [5, 4], 2.0)]
    assert feed.offset_faults(gap, [5, 4]) == (1, 0)
    overlap = [_batch(0, [0, 0], [2, 3], 1.0), _batch(1, [1, 3], [5, 4], 2.0)]
    assert feed.offset_faults(overlap, [5, 4]) == (0, 1)
    short = [_batch(0, [0, 0], [2, 3], 1.0)]
    assert feed.offset_faults(short, [5, 4]) == (4, 0)


# -- generator determinism per seed ---------------------------------------

def _same_spec(a, b) -> bool:
    return a.malformed == b.malformed and all(
        np.array_equal(getattr(a, f), getattr(b, f))
        for f in ("ranks", "event_ts", "kind", "price", "volume",
                  "liquidity"))


def test_frames_are_a_function_of_seed_and_index():
    for k in (0, 1, 250, 4999):
        assert _same_spec(gen.frame_spec(7, k, 20, 50.0),
                          gen.frame_spec(7, k, 20, 50.0))
        assert gen.encode_frame(gen.frame_spec(7, k, 20, 50.0)) == \
            gen.encode_frame(gen.frame_spec(7, k, 20, 50.0))
    differ = sum(not _same_spec(gen.frame_spec(7, k, 20, 50.0),
                                gen.frame_spec(8, k, 20, 50.0))
                 for k in range(50))
    assert differ == 50


def test_traffic_dimensions():
    specs = [gen.frame_spec(3, k, 20, 50.0) for k in range(3000)]
    good = [s for s in specs if s.malformed is None]
    kinds = np.concatenate([s.kind for s in good])
    assert 0.004 < 1 - len(good) / len(specs) < 0.02
    assert 0.04 < np.mean(kinds == 1) < 0.06
    assert 0.002 < np.mean(kinds == 2) < 0.008
    assert not any((s.kind == 2).any() for s in specs[:gen.WARM_FRAMES])
    ranks = np.concatenate([s.ranks for s in good])
    assert ranks.min() >= 1 and ranks.max() <= gen.N_SYMBOLS
    assert np.mean(ranks == 1) > 10 * np.mean(ranks == 100)   # skewed


def test_encoded_frames_decode_back():
    from dexscraper_spark.sources.decode import parse_frame
    spec = next(s for s in (gen.frame_spec(5, k, 20, 50.0)
                            for k in range(300, 400)) if s.malformed is None)
    rows = parse_frame(gen.encode_frame(spec))
    assert [r["base_token_symbol"] for r in rows] == \
        [gen.symbol(int(r)) for r in spec.ranks]
    assert [r["created_at"] for r in rows] == spec.event_ts.tolist()
    assert [r["record_position"] for r in rows] == \
        [512 * j for j in range(len(rows))]


# -- the pandas reference --------------------------------------------------

def test_reference_drops_by_the_previous_batch_watermark():
    t = 1_000_000_200    # a window start (a multiple of 300 s)
    recs = pd.DataFrame({
        "k": [0, 1, 2, 3], "symbol": ["A"] * 4,
        "ts": [t, t - 5000, t - 5000, t + 1000],
        "price": [1.0, 2.0, 3.0, 4.0], "volume": [1.0] * 4,
        "kind": [0, 2, 2, 0], "msg_id": [0, 1, 2, 3], "pos": [0] * 4})
    # frame k alone in batch k (frame k: shard k % 2, seq k // 2)
    batches = [feed.Batch(id=k, start=[(k + 1) // 2, k // 2],
                          end=[(k + 2) // 2, (k + 1) // 2], rows=1,
                          duration={}, state={}, watermark_ms=0, t_begin=0,
                          sink=(0, 0)) for k in range(4)]
    assert [feed.frame_index(s, q) for b in batches
            for s in range(2) for q in range(b.start[s], b.end[s])] == \
        [0, 1, 2, 3]
    bars, accepted, wm = feed.reference_bars(recs, batches)
    # batch 1 filters by batch 0's watermark (none yet): frame 1 is kept;
    # batch 2 filters by batch 1's, set from batch 0: frame 2 is dropped
    assert accepted.tolist() == [True, True, False, True]
    wm1 = (t - feed.WATERMARK_S) * 1000
    assert wm == [0, wm1, wm1, wm1]
    assert bars["trades"].sum() == 3


# -- lake helpers and tracing ----------------------------------------------

def test_result_digest_ignores_row_order_only():
    a = [(1, "x", 0.5), (2, "y", 1.5)]
    assert lake.result_digest(a) == lake.result_digest(a[::-1])
    assert lake.result_digest(a) != lake.result_digest([(1, "x", 0.5)])


def test_matches_oracle_is_bit_exact_and_column_order_free():
    rows = [(1, 0.1 + 0.2), (2, None)]
    assert lake.matches_oracle(["a", "b"], rows, ["b", "a"],
                               [(None, 2), (0.1 + 0.2, 1)])
    assert not lake.matches_oracle(["a", "b"], rows, ["a", "b"],
                                   [(1, 0.3), (2, None)])
    assert not lake.matches_oracle(["a", "b"], rows, ["a", "c"], rows)


def test_query_order_is_a_seeded_permutation():
    assert lake.order(1, 3) == lake.order(1, 3)
    assert sorted(lake.order(1, 3)) == sorted(lake.QUERIES)
    assert lake.order(1, 3) != lake.order(2, 3)


def test_self_time_subtracts_covered_child_time():
    tr = Tracer(True)
    root = tr.add("root", "a", 0.0, 10.0)
    tr.add("c1", "b", 1.0, 3.0, parent=root)
    tr.add("c2", "b", 2.0, 5.0, parent=root)
    tr.add("c3", "c", 9.0, 12.0, parent=root)
    st = tr.self_time_by_layer()
    assert st["a"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st["b"] == pytest.approx(5.0)
    off = Tracer(False)
    with off.span("x", "a"):
        pass
    assert off.spans == [] and off.add("x", "a", 0, 1) == -1
