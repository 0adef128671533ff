"""Bucket-figure rendering — the reference's plot sinks without matplotlib.

The reference renders two figures per metric from the bucket evaluator
(`/root/reference/genie/utils/plot_helpers.py:93-334`, driven from
`/root/reference/evaluate_from_file.py:99-170`):

* a twin-axis BAR figure: left bars = the metric per occurrence bucket
  (y in [0, 1]), right bars = the data distribution (relations per
  bucket in the reference dataset), x = bucket labels ``2^k``;
* a twin-axis LINE figure: the metric as a marker line (with error-bar
  capsize when (mean, std) pairs are given) over the same distribution
  bars.

This sandbox has no matplotlib/seaborn, so the figures are emitted as
standalone SVG — hand-built XML, zero dependencies, byte-deterministic
for a given input (tests parse the XML back and check bar heights /
marker positions against the data). The numbers come from the already-
computed ``bucket_results.json`` object (metrics.bucket_metrics);
rendering is driver-side presentation over a dict of ≤ ~40 buckets —
never a Spark job.
"""

from __future__ import annotations

import math
from typing import Dict, List, Mapping, Sequence, Tuple
from xml.sax.saxutils import escape

# canvas geometry: 14x6in * 60px/in of the reference's default figsize
W, H = 840, 360
ML, MR, MT, MB = 64, 64, 28, 52  # margins: left/right axes, title, x labels
PW, PH = W - ML - MR, H - MT - MB  # plot area


def bucket_label(b_id: int) -> str:
    """The reference's x labels (plot_helpers.py:124-129): bucket 0 is
    relations unseen in the reference split ("None"), bucket k>0 holds
    occurrence counts in [2^(k-1), 2^k)."""
    return f"2^{b_id - 1}" if int(b_id) > 0 else "None"


def _fmt(x: float) -> str:
    return f"{x:.2f}".rstrip("0").rstrip(".") or "0"


def _nice_max(v: float) -> float:
    """Round up to 1/2/5 * 10^k — matplotlib-style right-axis headroom."""
    if v <= 0:
        return 1.0
    mag = 10 ** math.floor(math.log10(v))
    for m in (1, 2, 5, 10):
        if v <= m * mag:
            return float(m * mag)
    return float(10 * mag)


def _axis_left(parts: List[str], lo: float, hi: float, label: str) -> None:
    for i in range(6):
        v = lo + (hi - lo) * i / 5
        y = MT + PH - PH * i / 5
        parts.append(
            f'<line x1="{ML}" y1="{y:.1f}" x2="{ML - 4}" y2="{y:.1f}" '
            'stroke="black"/>'
        )
        parts.append(
            f'<text x="{ML - 8}" y="{y + 4:.1f}" text-anchor="end" '
            f'font-size="11">{_fmt(v)}</text>'
        )
    parts.append(
        f'<text x="14" y="{MT + PH / 2:.1f}" font-size="12" text-anchor="middle" '
        f'transform="rotate(-90 14 {MT + PH / 2:.1f})">{escape(label)}</text>'
    )


def _axis_right(parts: List[str], hi: float) -> None:
    for i in range(6):
        v = hi * i / 5
        y = MT + PH - PH * i / 5
        x = W - MR
        parts.append(
            f'<line x1="{x}" y1="{y:.1f}" x2="{x + 4}" y2="{y:.1f}" '
            'stroke="black"/>'
        )
        parts.append(
            f'<text x="{x + 8}" y="{y + 4:.1f}" text-anchor="start" '
            f'font-size="11">{_fmt(v)}</text>'
        )
    parts.append(
        f'<text x="{W - 12}" y="{MT + PH / 2:.1f}" font-size="12" '
        f'text-anchor="middle" '
        f'transform="rotate(90 {W - 12} {MT + PH / 2:.1f})">Frequency</text>'
    )


def _frame_and_x(parts: List[str], labels: Sequence[str]) -> List[float]:
    """Plot frame, x tick labels, x axis title; returns slot centers."""
    parts.append(
        f'<rect x="{ML}" y="{MT}" width="{PW}" height="{PH}" fill="none" '
        'stroke="black"/>'
    )
    n = len(labels)
    centers = [ML + PW * (i + 0.5) / n for i in range(n)]
    for cx, lab in zip(centers, labels):
        parts.append(
            f'<text x="{cx:.1f}" y="{MT + PH + 16}" text-anchor="middle" '
            f'font-size="11">{escape(lab)}</text>'
        )
    parts.append(
        f'<text x="{ML + PW / 2:.1f}" y="{H - 8}" text-anchor="middle" '
        'font-size="12">Relation occurrences in the reference dataset</text>'
    )
    return centers


def _legend(parts: List[str], entries: List[Tuple[str, str]]) -> None:
    x = W - MR - 10
    for i, (color, label) in enumerate(entries):
        y = MT + 10 + 16 * i
        parts.append(
            f'<rect x="{x - 150}" y="{y - 9}" width="12" height="12" '
            f'fill="{color}" class="legend-swatch"/>'
        )
        parts.append(
            f'<text x="{x - 133}" y="{y + 2}" font-size="11">'
            f'{escape(label)}</text>'
        )


def _errbar(parts: List[str], cx: float, y_lo: float, y_hi: float) -> None:
    parts.append(
        f'<line class="errbar" x1="{cx:.1f}" y1="{y_lo:.1f}" '
        f'x2="{cx:.1f}" y2="{y_hi:.1f}" stroke="black" stroke-width="1.5"/>'
    )
    for yy in (y_lo, y_hi):
        parts.append(
            f'<line class="errcap" x1="{cx - 4:.1f}" y1="{yy:.1f}" '
            f'x2="{cx + 4:.1f}" y2="{yy:.1f}" stroke="black"/>'
        )


def _split_mean_err(
    left_y: Mapping, bucket_ids: Sequence[int]
) -> Tuple[List[float], List[float]]:
    """The reference accepts either scalar-per-bucket or (mean, std)
    pairs (plot_helpers.py:130-140); missing buckets plot as 0."""
    means, errs = [], []
    for b in bucket_ids:
        v = left_y.get(b, left_y.get(str(b), 0.0))
        if isinstance(v, (tuple, list)):
            means.append(float(v[0]))
            errs.append(float(v[1]))
        else:
            means.append(float(v))
            errs.append(0.0)
    return means, errs


def _dist_values(
    right_y: Mapping, bucket_ids: Sequence[int]
) -> List[float]:
    return [
        float(right_y.get(b, right_y.get(str(b), 0))) for b in bucket_ids
    ]


def _svg(parts: List[str]) -> str:
    head = (
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{W}" height="{H}" '
        f'viewBox="0 0 {W} {H}" font-family="sans-serif">'
        "<defs>"
        '<pattern id="hatch-l" width="6" height="6" '
        'patternUnits="userSpaceOnUse" patternTransform="rotate(45)">'
        '<line x1="0" y1="0" x2="0" y2="6" stroke="#b22" stroke-width="1.5"/>'
        "</pattern>"
        '<pattern id="hatch-r" width="6" height="6" '
        'patternUnits="userSpaceOnUse" patternTransform="rotate(-45)">'
        '<line x1="0" y1="0" x2="0" y2="6" stroke="#22b" stroke-width="1.5"/>'
        "</pattern>"
        "</defs>"
        f'<rect x="0" y="0" width="{W}" height="{H}" fill="white"/>'
    )
    return head + "".join(parts) + "</svg>"


def svg_twinx_bucket_bar(
    left_y: Mapping,
    right_y: Mapping,
    left_label: str,
) -> str:
    """Twin of plot_twinx_barplot_with_train_dist: paired bars per
    bucket — metric (red, left axis) and distribution (blue, right
    axis) — plus error bars when (mean, std) pairs are supplied."""
    bucket_ids = sorted({int(k) for k in left_y} | {int(k) for k in right_y})
    means, errs = _split_mean_err(left_y, bucket_ids)
    dist = _dist_values(right_y, bucket_ids)
    lo, hi = 0.0, 1.0
    r_hi = _nice_max(max(dist) if dist else 1.0)

    parts: List[str] = []
    centers = _frame_and_x(parts, [bucket_label(b) for b in bucket_ids])
    slot = PW / max(len(bucket_ids), 1)
    bw = slot * 0.32
    for cx, m, e, d in zip(centers, means, errs, dist):
        mh = PH * max(0.0, min(m - lo, hi - lo)) / (hi - lo)
        dh = PH * max(0.0, d) / r_hi
        parts.append(
            f'<rect class="bar-left" x="{cx - bw:.1f}" '
            f'y="{MT + PH - mh:.1f}" width="{bw:.1f}" height="{mh:.1f}" '
            f'fill="url(#hatch-l)" stroke="#b22" data-value="{m!r}"/>'
        )
        parts.append(
            f'<rect class="bar-right" x="{cx:.1f}" '
            f'y="{MT + PH - dh:.1f}" width="{bw:.1f}" height="{dh:.1f}" '
            f'fill="url(#hatch-r)" stroke="#22b" data-value="{d!r}"/>'
        )
        if e > 0:
            scale = PH / (hi - lo)
            mid = MT + PH - mh
            _errbar(
                parts, cx - bw / 2,
                max(MT, mid - e * scale), min(MT + PH, mid + e * scale),
            )
    _axis_left(parts, lo, hi, left_label.capitalize())
    _axis_right(parts, r_hi)
    _legend(
        parts, [("#b22", left_label.capitalize()), ("#22b", "Data distribution")]
    )
    return _svg(parts)


def svg_twinx_bucket_line(
    left_ys: Sequence[Mapping],
    right_y: Mapping,
    left_label: str,
    series_labels: Sequence[str] | None = None,
    bucket_ids: Sequence[int] | None = None,
) -> str:
    """Twin of plot_twinx_line_with_train_dist: one marker line per
    series over the distribution bars. The reference driver passes
    ``bar_bucket_ids=bucket_ids[1:]`` (drops the unseen bucket) and one
    series per model; both are caller choices here too."""
    if bucket_ids is None:
        keys = set()
        for s in left_ys:
            keys |= {int(k) for k in s}
        bucket_ids = sorted(keys | {int(k) for k in right_y})
    if series_labels is None:
        series_labels = [
            left_label if len(left_ys) == 1 else f"{left_label} {i}"
            for i in range(len(left_ys))
        ]
    dist = _dist_values(right_y, bucket_ids)
    lo, hi = 0.0, 1.0
    r_hi = _nice_max(max(dist) if dist else 1.0)
    colors = ["#b22", "#282", "#b60", "#628"]

    parts: List[str] = []
    centers = _frame_and_x(parts, [bucket_label(b) for b in bucket_ids])
    slot = PW / max(len(bucket_ids), 1)
    bw = slot * 0.5
    for cx, d in zip(centers, dist):
        dh = PH * max(0.0, d) / r_hi
        parts.append(
            f'<rect class="bar-right" x="{cx - bw / 2:.1f}" '
            f'y="{MT + PH - dh:.1f}" width="{bw:.1f}" height="{dh:.1f}" '
            f'fill="url(#hatch-r)" stroke="#22b" data-value="{d!r}"/>'
        )
    scale = PH / (hi - lo)
    for si, series in enumerate(left_ys):
        means, errs = _split_mean_err(series, bucket_ids)
        color = colors[si % len(colors)]
        pts = " ".join(
            f"{cx:.1f},{MT + PH - (max(lo, min(m, hi)) - lo) * scale:.1f}"
            for cx, m in zip(centers, means)
        )
        parts.append(
            f'<polyline class="series" points="{pts}" fill="none" '
            f'stroke="{color}" stroke-width="2" stroke-dasharray="6 3"/>'
        )
        for cx, m, e in zip(centers, means, errs):
            cy = MT + PH - (max(lo, min(m, hi)) - lo) * scale
            if e > 0:
                _errbar(
                    parts, cx,
                    max(MT, cy - e * scale), min(MT + PH, cy + e * scale),
                )
            parts.append(
                f'<circle class="marker" cx="{cx:.1f}" cy="{cy:.1f}" r="4" '
                f'fill="{color}" data-value="{m!r}"/>'
            )
    _axis_left(parts, lo, hi, left_label.capitalize())
    _axis_right(parts, r_hi)
    _legend(
        parts,
        [(colors[i % len(colors)], lab) for i, lab in enumerate(series_labels)]
        + [("#22b", "Data distribution")],
    )
    return _svg(parts)


def render_bucket_plots(
    bucket_obj: Mapping,
    out_dir: str,
    metrics: Sequence[str] = ("precision", "recall", "f1"),
) -> Dict[str, List[str]]:
    """The evaluate_from_file plot sink: for each metric in the bucket
    results object (the bucket_results.json shape — {metric: {bucket:
    score}, val_relations_per_bucket: {...}}), write the bar and line
    figures the reference saves per metric. Returns {metric: [paths]}."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    dist = bucket_obj.get("val_relations_per_bucket", {})
    written: Dict[str, List[str]] = {}
    for m in metrics:
        if m not in bucket_obj:
            continue
        scores = bucket_obj[m]
        paths = []
        for kind, svg in (
            ("bar", svg_twinx_bucket_bar(scores, dist, m)),
            (
                "line",
                svg_twinx_bucket_line(
                    [scores], dist, m, series_labels=["genie-spark"]
                ),
            ),
        ):
            p = os.path.join(out_dir, f"bucket_{m}_{kind}.svg")
            with open(p, "w", encoding="utf-8") as f:
                f.write(svg)
            paths.append(p)
        written[m] = paths
    return written
