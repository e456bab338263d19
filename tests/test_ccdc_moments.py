"""CCDC's one moment path (kernel/ccdc.py): training fits and monitor
refits accumulate the same moments with the trend taken about the
segment's first day, so refits keep their digits and segments do not
depend on where the time axis starts.

Both tests run the kernel on the committed sf0.01 transcripts through the
golden twin's dense 1m series (tools/make_goldens.py)."""

import math
import os
import sys

import numpy as np

from yatsm_spark.kernel import ccdc, vecmath
from yatsm_spark.kernel.ccdc import ccdc_fit
from yatsm_spark.operators.changescore import CONV_PARAMS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from make_goldens import _conv_series  # noqa: E402


def test_segments_do_not_depend_on_the_epoch():
    """ccdc_fit(t - D) with D = floor(t[0]) gives the same segments as
    ccdc_fit(t), shifted by D. The period is one day, so the harmonic
    columns change by rounding only. Coefficients are compared with the
    intercept taken at each segment's first day: in the epoch frame the
    intercept carries slope x 2e4 days, and a slope the hours-long window
    barely determines would swamp it."""
    worst, n_segments = 0.0, 0
    for conv_id, t, Y in _conv_series("conv00000300"):
        D = math.floor(t[0])
        a = ccdc_fit(t, Y, CONV_PARAMS).segments
        b = ccdc_fit(t - D, Y, CONV_PARAMS).segments
        assert [(s.start_idx, s.end_idx) for s in a] == \
            [(s.start_idx, s.end_idx) for s in b], conv_id
        for sa, sb in zip(a, b):
            assert sa.start_day - D == sb.start_day, conv_id
            assert sa.end_day - D == sb.end_day, conv_id
            assert (sa.break_day - D if sa.break_day else 0.0) == sb.break_day, conv_id
            ca, cb = sa.coef.copy(), sb.coef.copy()
            ca[:, 0] += ca[:, 1] * sa.start_day
            cb[:, 0] += cb[:, 1] * sb.start_day
            scale = np.abs(ca).max(axis=1, keepdims=True)
            worst = max(worst, float((np.abs(ca - cb) / np.where(scale > 0, scale, 1.0)).max()))
            n_segments += 1
    assert n_segments > 500
    assert worst <= 1e-5, worst


def test_monitor_refits_match_a_direct_fit(monkeypatch):
    """Every monitor refit on every sf0.01 conv has fitted values within
    1e-9 (relative to their largest magnitude) of a Householder-QR fit
    (vecmath.lstsq) on the same rows with t centred.

    The refits are observed by wrapping the kernel's gram and
    normal_lstsq. A solve's rows are the last M[0, 0] columns passed to
    gram; it is a refit when they span more than the last gram call (a
    training fit forms one Gram of its whole window). The kernel may
    solve with its trend shifted by f from the rows it passed to gram;
    M[0, 1] = sum(u - f) over the trend row u gives f."""
    blocks, errs = [], []

    def gram(A, B=None):
        blocks.append(np.array(A, dtype=np.float64))
        return vecmath.gram(A, B)

    def normal_lstsq(M, k):
        cf, sse = vecmath.normal_lstsq(M, k)
        n = int(M[0, 0])
        while sum(b.shape[1] for b in blocks[1:]) >= n:
            blocks.pop(0)
        if n > blocks[-1].shape[1]:
            Z = np.hstack(blocks)[:, -n:]
            u = Z[1]
            X = Z[:k].T.copy()
            X[:, 1] = u - (u.sum() - M[0, 1]) / n
            Xc = Z[:k].T.copy()
            Xc[:, 1] = u - u.sum() / n
            ref = vecmath.lstsq(Xc, Z[k:].T)
            got = vecmath.seq_dot(X, np.array(cf))
            want = vecmath.seq_dot(Xc, ref.T)
            scale = np.abs(want).max(axis=0)
            errs.append(float((np.abs(got - want).max(axis=0)
                               / np.where(scale > 0, scale, 1.0)).max()))
        return cf, sse

    monkeypatch.setattr(ccdc, "gram", gram)
    monkeypatch.setattr(ccdc, "normal_lstsq", normal_lstsq)
    for _, t, Y in _conv_series("conv99999999"):
        ccdc_fit(t, Y, CONV_PARAMS)
    assert len(errs) > 5000
    assert max(errs) <= 1e-9, (max(errs), np.median(errs))
