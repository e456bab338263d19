"""kernel/vecmath.py owns float-op order: its solvers agree with numpy's
LAPACK within tolerance (hypothesis), follow the one rank-deficient rule,
and source guards keep BLAS/LAPACK calls out of the rest of the package
and the 1e-6 grid inside its two owners (vecmath and operators/grid.py)."""

import io
import os
import re
import tokenize

import numpy as np
import pytest
from hypothesis import assume, given, settings, strategies as st

from yatsm_spark.kernel import vecmath as vm

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "yatsm_spark")
KERNEL = os.path.join(PKG, "kernel")

#: modules whose fits and predictions must route every product through vecmath
PRODUCT_MODULES = ("ccdc", "fit", "robust", "screen", "recresid",
                   "postprocess", "phenology")
#: numpy entry points that reach BLAS or reduce in a CPU-dependent order
BLAS_NAMES = re.compile(r"^(dot|matmul|inner|vdot|tensordot|einsum|corrcoef|"
                        r"cov|polyfit|outer)$")

seeds = st.integers(0, 2**31 - 1)


def _code_tokens(path):
    with open(path, encoding="utf-8") as f:
        src = f.read()
    return [t for t in tokenize.generate_tokens(io.StringIO(src).readline)
            if t.type not in (tokenize.COMMENT, tokenize.STRING)]


# --- source guard -------------------------------------------------------------

def test_numpy_linalg_only_in_vecmath():
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == os.path.join(KERNEL, "vecmath.py"):
                continue
            for tok in _code_tokens(path):
                if tok.type == tokenize.NAME and tok.string in ("linalg", "LinAlgError"):
                    offenders.append(f"{os.path.relpath(path, REPO)}:{tok.start[0]}")
    assert offenders == [], f"numpy.linalg outside kernel/vecmath.py: {offenders}"


def test_grid_snap_only_in_its_owners():
    """floor(x·1e6 + 0.5), bare or as ``F.lit(1e6) + F.lit(0.5)``, is
    spelled only in ``kernel/vecmath.py`` and ``operators/grid.py``."""
    owners = (os.path.join(KERNEL, "vecmath.py"), os.path.join(PKG, "operators", "grid.py"))
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path in owners:
                continue
            toks = [t for t in _code_tokens(path) if t.type != tokenize.NL]
            for i, tok in enumerate(toks):
                after = "".join(t.string for t in toks[i + 1:i + 8])
                if tok.string == "1e6" and re.match(r"\)?\+(F\.lit\()?0\.5", after):
                    offenders.append(f"{os.path.relpath(path, REPO)}:{tok.start[0]}")
    assert offenders == [], f"1e-6 grid spelled outside its owners: {offenders}"


def test_grid_owners_agree_across_engines(spark):
    """The Catalyst and numpy forms of the grid give the same values,
    negatives and near-ties included."""
    from pyspark.sql import functions as F

    from yatsm_spark.operators import grid

    rng = np.random.default_rng(6)
    xs = np.concatenate([rng.uniform(-1e3, 1e3, 500),
                         np.arange(-500, 500) / 1e6 + 5e-7, [0.0, -0.0, 5e-7, -5e-7]])
    got = (spark.createDataFrame([(float(x),) for x in xs], "x double")
           .select(grid.snap6(F.col("x")).alias("s"), grid.micro6(F.col("x")).alias("m"))
           .collect())
    assert [r.s for r in got] == vm.snap6(xs).tolist()
    assert [r.m for r in got] == [int(vm.micro6(x)) for x in xs]


@pytest.mark.parametrize("module", PRODUCT_MODULES)
def test_no_blas_products_outside_vecmath(module):
    toks = _code_tokens(os.path.join(KERNEL, f"{module}.py"))
    line_starts = (tokenize.NEWLINE, tokenize.NL, tokenize.INDENT, tokenize.DEDENT)
    bad = []
    for prev, tok in zip(toks, toks[1:]):
        decorator = prev.type in line_starts
        if tok.type == tokenize.OP and tok.string in ("@", "@=") and not decorator:
            bad.append(f"'{tok.string}' at line {tok.start[0]}")
        if (tok.type == tokenize.NAME and BLAS_NAMES.match(tok.string)
                and prev.string == "."):
            bad.append(f"'.{tok.string}' at line {tok.start[0]}")
    assert bad == [], f"kernel/{module}.py forms products outside vecmath: {bad}"


# --- products -----------------------------------------------------------------

@settings(max_examples=40, deadline=None)
@given(seeds, st.integers(1, 4), st.integers(1, 2), st.integers(1, 6))
def test_seq_dot_small_path_matches_array_path(seed, n, k, d):
    rng = np.random.default_rng(seed)
    V, C = rng.normal(size=(n, d)), rng.normal(size=(k, d))
    small = vm.seq_dot(V, C)
    assert n * k <= vm.SMALL_DOT
    # the same fold over a stack too tall for the Python-float path
    big = vm.seq_dot(np.repeat(V, vm.SMALL_DOT + 1, axis=0), C)
    assert np.array_equal(big[::vm.SMALL_DOT + 1], small)
    np.testing.assert_allclose(small, V @ C.T, rtol=1e-12, atol=1e-12)


def test_gram_ignores_memory_offset():
    rng = np.random.default_rng(3)
    a = rng.normal(size=(5, 301))
    b = np.empty(5 * 301 + 1)[1:].reshape(5, 301)   # one double off a's alignment
    b[:] = a
    assert b.flags.c_contiguous and b.ctypes.data % 16 != a.ctypes.data % 16
    assert np.array_equal(vm.gram(a), vm.gram(b))
    np.testing.assert_allclose(vm.gram(a), a @ a.T, rtol=1e-12)


# --- least squares --------------------------------------------------------------

@settings(max_examples=60, deadline=None)
@given(seeds, st.integers(8, 60), st.floats(0.05, 1.0), st.booleans())
def test_lstsq_epoch_scale_design_matches_numpy(seed, n, span, weighted):
    """t ≈ 2e4 days over at most a day: κ(XᵀX) ≈ 1e12, so only an
    orthogonal method on X itself keeps the digits. The reference is
    numpy on the centred design, which spans the same columns and is well
    conditioned; fits are compared, since the coefficients of the raw
    [1, t] pair are ill-determined. With κ(X) up to ~1e14 here, a
    backward-stable solver is good to ~1e-6 on y ≈ 5 (LAPACK's QR lands in
    the same range); normal equations would keep no digits at all."""
    rng = np.random.default_rng(seed)
    t = 2e4 + np.sort(rng.uniform(0.0, span, n))
    harm = [np.cos(2 * np.pi * t), np.sin(2 * np.pi * t)]
    X = np.column_stack([np.ones(n), t, *harm])
    Xc = np.column_stack([np.ones(n), t - t.mean(), *harm])
    y = rng.normal(5.0, 1.0, n)
    w = rng.uniform(0.1, 1.0, n) if weighted else None
    sw = np.ones(n) if w is None else np.sqrt(w)
    want = Xc @ np.linalg.lstsq(Xc * sw[:, None], y * sw, rcond=None)[0]
    np.testing.assert_allclose(X @ vm.lstsq(X, y, w), want, rtol=0, atol=1e-5)


@settings(max_examples=40, deadline=None)
@given(seeds, st.integers(6, 40), st.integers(1, 5), st.integers(1, 3))
def test_lstsq_well_conditioned_matches_numpy(seed, n, k, m):
    assume(n >= k)
    rng = np.random.default_rng(seed)
    X, Y = rng.normal(size=(n, k)), rng.normal(size=(n, m))
    np.testing.assert_allclose(vm.lstsq(X, Y), np.linalg.lstsq(X, Y, rcond=None)[0],
                               rtol=1e-8, atol=1e-10)


@settings(max_examples=40, deadline=None)
@given(seeds, st.integers(10, 40), st.integers(0, 3))
def test_rank_rule_drops_duplicated_column(seed, n, dup):
    """A column equal to an earlier one gets coefficient 0; the fit is
    numpy's (min-norm) fit, which has the same column space."""
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, 4))
    X = np.column_stack([X, X[:, dup]])
    y = rng.normal(size=n)
    want = X @ np.linalg.lstsq(X, y, rcond=None)[0]

    qr = vm.lstsq(X, y)
    assert qr[4] == 0.0
    np.testing.assert_allclose(X @ qr, want, rtol=0, atol=1e-10)

    ch = vm.chol_solve(X.T @ X, X.T @ y)
    assert ch[4] == 0.0
    np.testing.assert_allclose(X @ ch, want, rtol=0, atol=1e-8)

    M = np.column_stack([X, y])
    coef, sse = vm.normal_lstsq(M.T @ M, 5)
    assert coef[0][4] == 0.0
    np.testing.assert_allclose(sse[0], np.sum((y - want) ** 2), rtol=1e-8)


def test_rank_rule_zero_column_and_short_window():
    X = np.column_stack([np.ones(3), np.zeros(3), [1.0, 2.0, 3.0]])
    y = np.array([1.0, 3.0, 5.0])
    np.testing.assert_allclose(vm.lstsq(X, y), [-1.0, 0.0, 2.0], atol=1e-12)
    np.testing.assert_allclose(vm.chol_solve(X.T @ X, X.T @ y), [-1.0, 0.0, 2.0],
                               atol=1e-9)
    # more columns than rows: the trailing columns are dependent
    assert vm.lstsq(np.eye(2, 3), np.array([1.0, 2.0]))[2] == 0.0


# --- SPD solves -------------------------------------------------------------------

@settings(max_examples=40, deadline=None)
@given(seeds, st.integers(1, 8), st.integers(1, 3), st.integers(1, 6))
def test_chol_solve_matches_numpy_and_stacks_bitwise(seed, k, m, batch):
    rng = np.random.default_rng(seed)
    G = rng.normal(size=(batch, k + 3, k))
    A = np.einsum("bnk,bnj->bkj", G, G) + 1e-3 * np.eye(k)
    B = rng.normal(size=(batch, k, m))
    X = vm.chol_solve(A, B)
    np.testing.assert_allclose(X, np.linalg.solve(A, B), rtol=1e-6, atol=1e-8)
    for b in range(batch):
        assert np.array_equal(vm.chol_solve(A[b], B[b]), X[b])
        assert np.array_equal(vm.chol_solve(A[b], B[b, :, 0]), X[b, :, 0])


def test_normal_lstsq_matches_explicit_residuals():
    rng = np.random.default_rng(5)
    X = rng.normal(size=(50, 4))
    Y = rng.normal(size=(50, 2))
    Z = np.column_stack([X, Y])
    coef, sse = vm.normal_lstsq(vm.gram(Z.T), 4)
    want = np.linalg.lstsq(X, Y, rcond=None)[0]
    np.testing.assert_allclose(np.array(coef).T, want, rtol=1e-9)
    np.testing.assert_allclose(sse, ((Y - X @ want) ** 2).sum(axis=0), rtol=1e-9)


# --- eigendecomposition -------------------------------------------------------------

@settings(max_examples=30, deadline=None)
@given(seeds, st.integers(1, 12))
def test_jacobi_eigh_matches_numpy(seed, d):
    rng = np.random.default_rng(seed)
    G = rng.normal(size=(d + 4, d))
    A = G.T @ G / (d + 4)
    w, V = vm.eigh(A)
    w_np, V_np = np.linalg.eigh(A)
    scale = max(1.0, float(np.abs(w_np).max()))
    np.testing.assert_allclose(w, w_np, rtol=0, atol=1e-12 * scale)
    assert np.all(np.diff(w) >= 0)
    np.testing.assert_allclose(V.T @ V, np.eye(d), atol=1e-12)
    np.testing.assert_allclose(A @ V, V * w, atol=1e-11 * scale)
    # eigenvectors up to sign, where the eigenvalue is well separated
    gaps = np.diff(w_np)
    for c in range(d):
        left = gaps[c - 1] if c > 0 else np.inf
        right = gaps[c] if c < d - 1 else np.inf
        if min(left, right) > 1e-6 * scale:
            assert abs(abs(V[:, c] @ V_np[:, c]) - 1.0) < 1e-8


def test_jacobi_eigh_degenerate_inputs():
    w, V = vm.eigh(np.zeros((3, 3)))
    assert np.array_equal(w, np.zeros(3)) and np.array_equal(V, np.eye(3))
    A = np.diag([3.0, 1.0, 2.0])
    w, V = vm.eigh(A)
    assert np.array_equal(w, [1.0, 2.0, 3.0])
    assert np.array_equal(np.abs(V), np.eye(3)[:, [1, 2, 0]])
