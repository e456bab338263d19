"""Dependency-free SVG rendering for the `yatsm pixel` surface.

Parity anchor: yatsm/cli/pixel.py [M] plots one pixel's observed series,
the fitted harmonic curve per segment, and break verticals (matplotlib).
The graft analogue renders one CONVERSATION's 1m turn-rate series the same
way, but emits a standalone SVG string (this sandbox — and most cluster
edge nodes — have no display or plotting libs; SVG needs neither).

Everything here is driver-side and bounded: it consumes the ALREADY
COLLECTED pandas frames for a single conversation (Engine.explain_conv
pushes the conv_id predicate down to the scan, so at 100 TB the collect
is one conv's slots, not the table).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from yatsm_spark.kernel.design import harmonic_design
from yatsm_spark.kernel.vecmath import seq_dot

#: Above this many observed points the per-point circles are dropped and
#: only the polyline is drawn (keeps the SVG small for mega-convs).
MAX_POINT_MARKS = 1500


def _scale(v, lo, hi, out_lo, out_hi):
    if hi <= lo:
        return np.full_like(np.asarray(v, dtype=np.float64), (out_lo + out_hi) / 2.0)
    return out_lo + (np.asarray(v, dtype=np.float64) - lo) * (out_hi - out_lo) / (hi - lo)


def _poly(xs, ys, cls):
    pts = " ".join(f"{x:.1f},{y:.1f}" for x, y in zip(xs, ys))
    return f'<polyline class="{cls}" fill="none" points="{pts}"/>'


def render_conv_svg(
    series: pd.DataFrame,
    segments: pd.DataFrame,
    measure: str = "turn_count",
    params=None,
    width: int = 960,
    height: int = 380,
) -> str:
    """Render one conversation's series + fitted segments as an SVG string.

    series:   gap-filled 1m tier rows (window_start, <measure>, gap_filled).
    segments: fitted segments (start_ts, end_ts, break_ts, coef array).
    The fitted curve per segment re-evaluates the SAME design code that
    produced the coefficients (kernel/design.py — column order is
    load-bearing), exactly like predict_at does JVM-side.
    """
    if params is None:
        from yatsm_spark.operators.changescore import CONV_PARAMS

        params = CONV_PARAMS
    m = {"l": 64.0, "r": 16.0, "t": 18.0, "b": 42.0}
    iw, ih = width - m["l"] - m["r"], height - m["t"] - m["b"]

    s = series.sort_values("window_start").reset_index(drop=True)
    ts = pd.to_datetime(s["window_start"]).astype("int64").to_numpy() / 1e9
    y = s[measure].astype(float).to_numpy()
    observed = ~s["gap_filled"].to_numpy() if "gap_filled" in s else np.ones(len(s), bool)

    t_lo, t_hi = (float(ts.min()), float(ts.max())) if len(ts) else (0.0, 1.0)
    y_lo, y_hi = 0.0, (float(np.nanmax(y)) * 1.05 if len(y) else 1.0)
    px = lambda t: _scale(t, t_lo, t_hi, m["l"], m["l"] + iw)  # noqa: E731
    py = lambda v: _scale(v, y_lo, y_hi, m["t"] + ih, m["t"])  # noqa: E731

    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" height="{height}" '
        f'viewBox="0 0 {width} {height}" font-family="monospace" font-size="11">',
        "<style>"
        ".obs{stroke:#607080;stroke-width:1}"
        ".pt{fill:#2b6cb0}"
        ".fill{fill:#b8c4d0}"
        ".fit{stroke:#d97706;stroke-width:2}"
        ".break{stroke:#dc2626;stroke-width:1.5;stroke-dasharray:4 3}"
        ".axis{stroke:#222;stroke-width:1}"
        ".grid{stroke:#ddd;stroke-width:0.5}"
        ".lbl{fill:#333}"
        "</style>",
        f'<rect x="0" y="0" width="{width}" height="{height}" fill="white"/>',
    ]

    # axes + ticks
    for i in range(5):
        ty = m["t"] + ih * i / 4
        tv = y_hi - (y_hi - y_lo) * i / 4
        parts.append(f'<line class="grid" x1="{m["l"]}" y1="{ty:.1f}" '
                     f'x2="{m["l"] + iw}" y2="{ty:.1f}"/>')
        parts.append(f'<text class="lbl" x="4" y="{ty + 4:.1f}">{tv:.1f}</text>')
    for i in range(5):
        tx = m["l"] + iw * i / 4
        tt = pd.Timestamp(t_lo + (t_hi - t_lo) * i / 4, unit="s")
        parts.append(f'<text class="lbl" x="{tx - 30:.1f}" y="{height - 8}">'
                     f"{tt.strftime('%m-%d %H:%M')}</text>")
    parts.append(f'<line class="axis" x1="{m["l"]}" y1="{m["t"]}" '
                 f'x2="{m["l"]}" y2="{m["t"] + ih}"/>')
    parts.append(f'<line class="axis" x1="{m["l"]}" y1="{m["t"] + ih}" '
                 f'x2="{m["l"] + iw}" y2="{m["t"] + ih}"/>')

    # observed series
    if observed.any():
        xs, ys = px(ts[observed]), py(y[observed])
        parts.append(_poly(xs, ys, "obs"))
        if observed.sum() <= MAX_POINT_MARKS:
            parts.extend(f'<circle class="pt" cx="{x:.1f}" cy="{v:.1f}" r="1.6"/>'
                         for x, v in zip(xs, ys))
    # gap-filled slots as faint marks
    filled = ~observed
    if filled.any() and filled.sum() <= MAX_POINT_MARKS:
        parts.extend(
            f'<circle class="fill" cx="{x:.1f}" cy="{v:.1f}" r="1.2"/>'
            for x, v in zip(px(ts[filled]), py(y[filled])))

    # fitted curve per segment (same design code as the kernel fit)
    segs = segments.sort_values("segment_id") if len(segments) else segments
    for _, row in segs.iterrows():
        s0 = pd.Timestamp(row["start_ts"]).timestamp()
        s1 = pd.Timestamp(row["end_ts"]).timestamp()
        mask = (ts >= s0) & (ts <= s1)
        t_seg = ts[mask] if mask.any() else np.linspace(s0, s1, 32)
        X = harmonic_design(t_seg / 86400.0, order=params.harmonic_order,
                            period=params.period)
        coef = np.asarray(list(row["coef"]), dtype=np.float64)
        yhat = np.clip(seq_dot(X, coef[None, :])[:, 0], y_lo, y_hi)
        parts.append(_poly(px(t_seg), py(yhat), "fit"))
        if row.get("break_ts") is not None and pd.notna(row["break_ts"]):
            bx = float(px(pd.Timestamp(row["break_ts"]).timestamp()))
            parts.append(f'<line class="break" x1="{bx:.1f}" y1="{m["t"]}" '
                         f'x2="{bx:.1f}" y2="{m["t"] + ih}"/>')

    parts.append("</svg>")
    return "".join(parts)
