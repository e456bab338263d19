"""Property-based invariants for the round-4 series kernels
(hypothesis): swinging-door's reconstruction bound, DTW's metric-ish
properties and band monotonicity, PELT's global optimality on small
inputs, and the matrix profile against its definition."""

import itertools

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from yatsm_spark.kernel.dtw import dtw_core
from yatsm_spark.kernel.matrixprofile import matrix_profile_core
from yatsm_spark.kernel.pelt import pelt_core
from yatsm_spark.kernel.swing import swing_check_bound, swing_compress

series = st.lists(st.integers(0, 200), min_size=1, max_size=80)
small_series = st.lists(st.integers(0, 30), min_size=4, max_size=11)


@settings(max_examples=60, deadline=None)
@given(series, st.integers(0, 10))
def test_swing_bound_endpoints_and_monotone(xs, e):
    t = np.arange(len(xs), dtype=np.int64) * 60_000_000
    x = np.array(xs, dtype=np.int64)
    keep = swing_compress(t, x, e)
    # endpoints always archived; indices strictly increasing
    assert keep[0] == 0 and keep[-1] == len(xs) - 1
    assert (np.diff(keep) > 0).all() or len(keep) == 1
    # classical guarantee: reconstruction within 2E (exact rationals)
    assert swing_check_bound(t, x, keep, 2 * e)
    # a LOOSER door never keeps more points than a tighter one
    keep2 = swing_compress(t, x, e + 3)
    assert len(keep2) <= len(keep)
    # E=0 reconstructs exactly
    k0 = swing_compress(t, x, 0)
    assert swing_check_bound(t, x, k0, 0)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(0, 50), min_size=1, max_size=25),
       st.lists(st.integers(0, 50), min_size=1, max_size=25))
def test_dtw_properties(a, b):
    d = dtw_core(a, b)
    assert d == dtw_core(b, a)                       # symmetry
    assert dtw_core(a, a) == 0                       # identity
    assert d >= 0
    # band monotonicity: wider radius never increases the distance
    if len(a) > 2 and len(b) > 2:
        r1 = dtw_core(a, b, radius=1)
        r3 = dtw_core(a, b, radius=3)
        assert r1 >= r3 >= d


def _pelt_brute(x, pen, ms):
    n = len(x)
    best = None
    positions = list(range(ms, n - ms + 1))
    for r in range(len(positions) + 1):
        for bps in itertools.combinations(positions, r):
            bounds = [0] + list(bps) + [n]
            if any(b - a < ms for a, b in zip(bounds, bounds[1:])):
                continue
            c = pen * len(bps)
            for s, t in zip(bounds, bounds[1:]):
                seg = np.asarray(x[s:t], dtype=float)
                c += float(((seg - seg.mean()) ** 2).sum())
            if best is None or c < best - 1e-9:
                best = c
    return best


@settings(max_examples=25, deadline=None)
@given(small_series, st.sampled_from([1.0, 8.0, 40.0, 200.0]))
def test_pelt_optimality_property(xs, pen):
    x = np.array(xs, dtype=np.int64)
    if len(x) < 4:
        return
    got = list(pelt_core(x, pen, 2))
    bounds = [0] + got + [len(x)]
    gc = pen * len(got)
    for s, t in zip(bounds, bounds[1:]):
        seg = x[s:t].astype(float)
        gc += float(((seg - seg.mean()) ** 2).sum())
    want = _pelt_brute(xs, pen, 2)
    assert abs(gc - want) < 1e-6


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(0, 40), min_size=12, max_size=40))
def test_matrix_profile_definition_property(xs):
    x = np.array(xs, dtype=np.int64)
    m, excl = 4, 2
    mp, mpi = matrix_profile_core(x, m, excl)
    L = len(mp)

    def zdist(i, j):
        wi = x[i:i + m].astype(float)
        wj = x[j:j + m].astype(float)
        if wi.std() == 0 or wj.std() == 0:
            return None
        zi = (wi - wi.mean()) / wi.std()
        zj = (wj - wj.mean()) / wj.std()
        return float(np.sqrt(((zi - zj) ** 2).sum()))

    for i in range(L):
        cands = [zdist(i, j) for j in range(L) if abs(i - j) > excl]
        cands = [c for c in cands if c is not None]
        if np.isnan(mp[i]):
            # no valid neighbor: flat window or none outside the zone
            wi = x[i:i + m].astype(float)
            assert wi.std() == 0 or not cands
        else:
            # tolerance: near r=1 the kernel's d = sqrt(2m(1-r)) sits on
            # a sqrt-cancellation noise floor of sqrt(2m*eps) ~ 3e-8 for
            # m=4 (a 1-ulp error in r becomes ~1e-8 in d) — z-identical
            # windows legitimately read ~3e-8, not 0.0
            assert mp[i] == min(cands) or abs(mp[i] - min(cands)) < 5e-7
            assert abs(mpi[i] - i) > excl


@settings(max_examples=30, deadline=None)
@given(st.lists(st.integers(0, 10_000), min_size=3, max_size=60),
       st.permutations(range(3)))
def test_bursts_arrival_order_invariance(gaps, _perm):
    from yatsm_spark.kernel.bursts import kleinberg_bursts

    t = np.cumsum(np.array(gaps, dtype=np.int64) + 1)  # strictly inc
    rng = np.random.default_rng(len(gaps))
    shuffled = t.copy()
    rng.shuffle(shuffled)
    a = kleinberg_bursts(t, s=3.0, gamma=1.0)
    b = kleinberg_bursts(shuffled, s=3.0, gamma=1.0)
    assert a == b                      # kernel sorts internally
    for s0, e0, ne in a:
        assert int(t[0]) <= s0 < e0 <= int(t[-1]) and ne >= 2


@settings(max_examples=30, deadline=None)
@given(st.lists(st.integers(0, 40), min_size=10, max_size=30),
       st.lists(st.integers(0, 40), min_size=10, max_size=30))
def test_ab_match_affine_invariance(q, y):
    from yatsm_spark.kernel.matrixprofile import ab_best_match

    m = 5
    base = ab_best_match(q, y, m)
    # z-normalized distance is invariant under positive affine maps
    y2 = [3 * v + 7 for v in y]
    other = ab_best_match(q, y2, m)
    if base is None:
        assert other is None
    else:
        assert other is not None
        assert other[0] == pytest.approx(base[0], abs=1e-6)


# Resumability: each smoother kernel is f(values, ..., state) -> (out,
# state); running a series through two calls with the state carried
# across any cut gives the same bits as one call — the property the
# streaming twins (streaming/stream_rollup.py) rely on for batch parity.

def _bits(arrays):
    return [np.ascontiguousarray(a, dtype=np.float64).tobytes() for a in arrays]


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(0, 200), min_size=1, max_size=50),
       st.sampled_from([0.25, 0.3, 0.9]))
def test_ewma_resumes_bit_exact_at_every_cut(xs, alpha):
    from yatsm_spark.kernel.smooth import ewma

    x = np.array(xs, dtype=np.float64)
    whole, _ = ewma(x, alpha)
    for c in range(len(x) + 1):
        head, state = ewma(x[:c], alpha)
        tail, _ = ewma(x[c:], alpha, state)
        assert _bits([np.concatenate([head, tail])]) == _bits([whole])


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(0, 200), min_size=1, max_size=50),
       st.integers(1, 7), st.sampled_from([(0.5, 0.25, 0.25), (0.3, 0.1, 0.7)]))
def test_holt_winters_resumes_bit_exact_at_every_cut(xs, period, params):
    from yatsm_spark.kernel.smooth import holt_winters

    x = np.array(xs, dtype=np.float64)
    whole, _ = holt_winters(x, *params, period)
    for c in range(len(x) + 1):
        head, state = holt_winters(x[:c], *params, period)
        tail, _ = holt_winters(x[c:], *params, period, state)
        assert _bits(map(np.concatenate, zip(head, tail))) == _bits(whole)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.one_of(st.integers(0, 60), st.none()), min_size=1,
                max_size=50).filter(lambda v: any(e is not None for e in v)))
def test_kalman_filter_resumes_bit_exact_after_first_observation(ys):
    """Cuts before the first observation are excluded: there the batch
    filter's prior is the first observed value, a look-ahead a stream
    cannot make."""
    from yatsm_spark.kernel.kalman import kalman_filter

    y = np.array([np.nan if v is None else v for v in ys], dtype=np.float64)
    whole, _ = kalman_filter(y)
    first = int(np.flatnonzero(~np.isnan(y))[0])
    for c in range(first + 1, len(y) + 1):
        head, state = kalman_filter(y[:c])
        tail, _ = kalman_filter(y[c:], state=state)
        assert _bits(map(np.concatenate, zip(head, tail))) == _bits(whole)


@settings(max_examples=60, deadline=None)
@given(series, st.integers(0, 10))
def test_swing_doors_resume_to_the_batch_keep_set_at_every_cut(xs, e):
    from yatsm_spark.kernel.swing import swing_doors

    t = np.cumsum(np.arange(len(xs), dtype=np.int64) % 3 + 1) * 60_000_000
    x = np.array(xs, dtype=np.int64)
    want = swing_compress(t, x, e).tolist()
    for c in range(len(xs) + 1):
        head, state = swing_doors(t[:c], x[:c], e)
        tail, _ = swing_doors(t[c:], x[c:], e, state)
        # tail index -1 is the carried previous point, global c - 1
        assert head + [c + i for i in tail] + [len(xs) - 1] == want
