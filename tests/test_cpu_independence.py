"""Kernel results do not depend on the host CPU.

OpenBLAS picks its GEMM/LAPACK kernels per CPU at run time
(``OPENBLAS_CORETYPE`` forces one) and splits small LAPACK solves by
thread count, and numpy dispatches some ufuncs to AVX2/AVX-512 loops
(``NPY_DISABLE_CPU_FEATURES`` switches them off). A battery of kernel
twins — CCDC segments, postprocess (commission / omission / robust
refit), phenology and PCA — runs once per setting in a subprocess, and
every run must produce the same bytes. Settings whose instructions this
CPU lacks are left out (forcing them would crash).
"""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BATTERY = r"""
import hashlib, os, sys
sys.path.insert(0, os.path.join(sys.argv[1], "tools"))
import numpy as np
from make_goldens import (pca_twin, pheno_segments_twin, postprocess_twin,
                          segments_twin)

h = hashlib.sha256()
for df in (segments_twin("conv00000300"), postprocess_twin("conv00000200", crit=3.0),
           pheno_segments_twin("conv00000200"), pca_twin(k=4)):
    h.update(repr((list(df.columns), len(df))).encode())
    for name in df.columns:
        col = df[name].to_numpy()
        if col.dtype.kind in "biufM":
            h.update(np.ascontiguousarray(col).view(np.uint8).tobytes())
        else:
            h.update("\0".join(map(str, col)).encode())
print(h.hexdigest())
"""

AVX512 = "AVX512F AVX512CD AVX512_SKX AVX512_CLX AVX512_CNL AVX512_ICL"


def _settings() -> dict[str, dict[str, str]]:
    from numpy.core._multiarray_umath import __cpu_features__ as cpu

    has = {k for k, v in cpu.items() if v}
    out = {"Prescott": {"OPENBLAS_CORETYPE": "Prescott"},
           "Prescott, 4 BLAS threads": {"OPENBLAS_CORETYPE": "Prescott",
                                        "OPENBLAS_NUM_THREADS": "4"}}
    if {"AVX2", "FMA3"} <= has:
        out["Haswell"] = {"OPENBLAS_CORETYPE": "Haswell"}
    if {"AVX512F", "AVX512CD", "AVX512BW", "AVX512DQ", "AVX512VL"} <= has:
        out["SkylakeX"] = {"OPENBLAS_CORETYPE": "SkylakeX"}
        out["numpy without AVX-512"] = {"NPY_DISABLE_CPU_FEATURES": AVX512}
    return out


def test_kernel_twins_are_byte_identical_across_cpu_paths():
    settings = _settings()
    base = {k: v for k, v in os.environ.items()
            if k not in ("OPENBLAS_CORETYPE", "NPY_DISABLE_CPU_FEATURES")}
    base.update(OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1")
    procs = {
        name: subprocess.Popen([sys.executable, "-c", BATTERY, REPO],
                               env=dict(base, **extra), cwd=REPO, text=True,
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE)
        for name, extra in settings.items()
    }
    digests = {}
    for name, proc in procs.items():
        out, err = proc.communicate(timeout=600)
        assert proc.returncode == 0, f"{name}: battery failed\n{err[-2000:]}"
        digests[name] = out.strip().splitlines()[-1]
    assert len(set(digests.values())) == 1, f"outputs differ by CPU path: {digests}"
