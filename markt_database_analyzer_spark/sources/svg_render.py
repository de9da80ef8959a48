"""Dependency-free SVG renderer for the three reference figure shapes.

The plot sinks (``sources.plots``) draw through this module, so S5 is
end-to-end real — actual figure files from the collected result frames —
with no plotting library installed. Pure string assembly, deterministic
output for a given input frame.

Design notes: marks are thin, grid/axes recessive, text in neutral ink,
series color carries identity only (validated CVD-safe pair — see
``PALETTE``). The dual bar+line form mirrors the reference's figure
(analyse.py:303-351); its two scales are drawn as two stacked aligned
panels sharing the x axis rather than twin y-axes on one panel.
"""

from __future__ import annotations

import html
from collections.abc import Sequence

# Validated (dataviz six-checks, light surface): lightness band, chroma
# floor, CVD ΔE 14.3 worst pair, normal ΔE 30.1, contrast ≥ 3:1.
PALETTE = ("#2e6fba", "#ee6677")
_SURFACE = "#fcfcfb"
_INK = "#333333"
_MUTED = "#767676"
_GRID = "#e4e4e0"

_FONT = 'font-family="sans-serif"'


def _esc(v: object) -> str:
    return html.escape(str(v), quote=True)


def _ticks(lo: float, hi: float, n: int = 5) -> list[float]:
    """~n 'nice' tick positions covering [lo, hi]."""
    if hi <= lo:
        hi = lo + 1.0
    raw = (hi - lo) / max(n - 1, 1)
    mag = 10 ** len(str(int(abs(raw)))) if abs(raw) >= 1 else 1.0
    for step in (0.1, 0.2, 0.25, 0.5, 1, 2, 2.5, 5, 10, 20, 25, 50):
        s = step * (mag / 10 if abs(raw) >= 1 else 1)
        if s >= raw:
            break
    else:
        s = raw
    first = int(lo / s) * s
    out = []
    t = first
    while t <= hi + s * 1e-9:
        if t >= lo - s * 1e-9:
            out.append(round(t, 10))
        t += s
    return out or [lo, hi]


def _fmt(v: float) -> str:
    return f"{v:g}"


class _Panel:
    """One cartesian panel: maps data coords to pixel coords and collects
    SVG elements."""

    def __init__(self, x0: int, y0: int, w: int, h: int, xlo: float, xhi: float, ylo: float, yhi: float):
        self.x0, self.y0, self.w, self.h = x0, y0, w, h
        self.xlo, self.xhi = xlo, (xhi if xhi > xlo else xlo + 1)
        self.ylo, self.yhi = ylo, (yhi if yhi > ylo else ylo + 1)
        self.elems: list[str] = []

    def px(self, x: float) -> float:
        return self.x0 + (x - self.xlo) / (self.xhi - self.xlo) * self.w

    def py(self, y: float) -> float:
        return self.y0 + self.h - (y - self.ylo) / (self.yhi - self.ylo) * self.h

    def grid_and_yaxis(self) -> None:
        for t in _ticks(self.ylo, self.yhi):
            y = self.py(t)
            self.elems.append(
                f'<line x1="{self.x0}" y1="{y:.1f}" x2="{self.x0 + self.w}" y2="{y:.1f}" '
                f'stroke="{_GRID}" stroke-width="1"/>'
            )
            self.elems.append(
                f'<text x="{self.x0 - 6}" y="{y + 3:.1f}" text-anchor="end" '
                f'{_FONT} font-size="10" fill="{_MUTED}">{_fmt(t)}</text>'
            )

    def line(self, xs: Sequence[float], ys: Sequence[float], color: str) -> None:
        pts = " ".join(f"{self.px(x):.1f},{self.py(y):.1f}" for x, y in zip(xs, ys))
        self.elems.append(
            f'<polyline points="{pts}" fill="none" stroke="{color}" '
            'stroke-width="2" stroke-linejoin="round"/>'
        )

    def bars(self, ys: Sequence[float], color: str) -> None:
        n = len(ys)
        if not n:
            return
        slot = self.w / n
        bw = max(slot - 2, 1)  # 2px surface gap between adjacent bars
        base = self.py(max(self.ylo, 0.0))
        for i, v in enumerate(ys):
            top = self.py(v)
            y, hgt = (top, base - top) if base >= top else (base, top - base)
            self.elems.append(
                f'<rect x="{self.x0 + i * slot + 1:.1f}" y="{y:.1f}" width="{bw:.1f}" '
                f'height="{max(hgt, 0):.1f}" rx="2" fill="{color}"/>'
            )

    def xlabels(self, labels: Sequence[object], max_labels: int = 12) -> None:
        n = len(labels)
        if not n:
            return
        step = max(1, (n + max_labels - 1) // max_labels)
        slot = self.w / n
        y = self.y0 + self.h + 14
        for i in range(0, n, step):
            x = self.x0 + (i + 0.5) * slot
            self.elems.append(
                f'<text x="{x:.1f}" y="{y}" text-anchor="middle" {_FONT} '
                f'font-size="10" fill="{_MUTED}">{_esc(labels[i])}</text>'
            )


def _doc(width: int, height: int, title: str, body: list[str]) -> str:
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" height="{height}" '
        f'viewBox="0 0 {width} {height}">',
        f'<rect width="{width}" height="{height}" fill="{_SURFACE}"/>',
        f'<text x="16" y="22" {_FONT} font-size="13" fill="{_INK}">{_esc(title)}</text>',
        *body,
        "</svg>",
    ]
    return "\n".join(parts)


def render_line(xs: Sequence[float], ys: Sequence[float], out_path: str, title: str, xlabel: str, ylabel: str) -> str:
    w, h = 640, 320
    p = _Panel(56, 40, w - 80, h - 90, min(xs, default=0), max(xs, default=1), min(list(ys) + [0.0]), max(ys, default=1))
    p.grid_and_yaxis()
    p.line(list(xs), list(ys), PALETTE[0])
    for t in _ticks(p.xlo, p.xhi, 6):
        p.elems.append(
            f'<text x="{p.px(t):.1f}" y="{p.y0 + p.h + 14}" text-anchor="middle" '
            f'{_FONT} font-size="10" fill="{_MUTED}">{_fmt(t)}</text>'
        )
    axis_labels = [
        f'<text x="{w / 2}" y="{h - 6}" text-anchor="middle" {_FONT} font-size="11" fill="{_INK}">{_esc(xlabel)}</text>',
        f'<text x="14" y="{h / 2}" transform="rotate(-90 14 {h / 2})" text-anchor="middle" {_FONT} font-size="11" fill="{_INK}">{_esc(ylabel)}</text>',
    ]
    svg = _doc(w, h, title, p.elems + axis_labels)
    with open(out_path, "w") as f:
        f.write(svg)
    return out_path


def render_bar_line(
    labels: Sequence[object],
    bars: Sequence[float],
    line: Sequence[float],
    out_path: str,
    title: str,
    bars_name: str,
    line_name: str,
) -> str:
    """Two stacked aligned panels sharing the x axis (the one-axis-per-panel
    rendering of the reference's bar+line time-of-day figure)."""
    w, h = 720, 460
    ph = 160
    top = _Panel(56, 40, w - 80, ph, 0, max(len(bars), 1), min(list(bars) + [0.0]), max(bars, default=1))
    top.grid_and_yaxis()
    top.bars(list(bars), PALETTE[0])
    bot = _Panel(56, 40 + ph + 50, w - 80, ph, 0, max(len(line), 1), min(list(line) + [0.0]), max(line, default=1))
    bot.grid_and_yaxis()
    bot.line([i + 0.5 for i in range(len(line))], list(line), PALETTE[1])
    bot.xlabels(labels)
    legends = [
        f'<rect x="56" y="46" width="8" height="8" rx="2" fill="{PALETTE[0]}"/>',
        f'<text x="68" y="54" {_FONT} font-size="10" fill="{_INK}">{_esc(bars_name)}</text>',
        f'<rect x="56" y="{40 + ph + 56}" width="8" height="8" rx="2" fill="{PALETTE[1]}"/>',
        f'<text x="68" y="{40 + ph + 64}" {_FONT} font-size="10" fill="{_INK}">{_esc(line_name)}</text>',
    ]
    svg = _doc(w, h, title, top.elems + bot.elems + legends)
    with open(out_path, "w") as f:
        f.write(svg)
    return out_path


def render_barh(labels: Sequence[object], values: Sequence[float], out_path: str, title: str, xlabel: str) -> str:
    n = len(values)
    row_h = 22
    w, h = 640, 70 + n * row_h
    vmax = max(list(values) + [1.0])
    x0, plot_w = 140, w - 180
    elems = []
    for t in _ticks(0, vmax):
        x = x0 + t / vmax * plot_w
        elems.append(f'<line x1="{x:.1f}" y1="36" x2="{x:.1f}" y2="{40 + n * row_h}" stroke="{_GRID}"/>')
        elems.append(
            f'<text x="{x:.1f}" y="{52 + n * row_h}" text-anchor="middle" {_FONT} '
            f'font-size="10" fill="{_MUTED}">{_fmt(t)}</text>'
        )
    for i, (lab, v) in enumerate(zip(labels, values)):
        y = 40 + i * row_h
        elems.append(
            f'<text x="{x0 - 8}" y="{y + row_h / 2 + 3}" text-anchor="end" {_FONT} '
            f'font-size="10" fill="{_INK}">{_esc(lab)}</text>'
        )
        elems.append(
            f'<rect x="{x0}" y="{y + 3}" width="{max(v, 0) / vmax * plot_w:.1f}" '
            f'height="{row_h - 6}" rx="2" fill="{PALETTE[0]}"/>'
        )
    elems.append(
        f'<text x="{x0 + plot_w / 2}" y="{h - 4}" text-anchor="middle" {_FONT} '
        f'font-size="11" fill="{_INK}">{_esc(xlabel)}</text>'
    )
    svg = _doc(w, h, title, elems)
    with open(out_path, "w") as f:
        f.write(svg)
    return out_path
