"""Chart artifacts (S8 parity surface) rendered from DRIVER-SIDE K-ROW
AGGREGATES — never from collected row data.

The reference renders its PNGs from pandas frames collected to the driver
(reference preprocessing.py:63-148, model_logistic_regression.py:261-296,
compare_models.py:20-59) — a non-starter at 100 TB. Here every chart input
is the output of a distributed aggregation (label counts, length-histogram
bins, confusion counts, binned ROC points), so chart rendering cost is
O(pixels), independent of data scale.

Rendering is a self-contained rasterizer (numpy canvas + stdlib zlib PNG
encoder + 5×7 bitmap font): the container has no matplotlib, and the charts
must be producible — and smoke-testable — everywhere the engine runs.
Swapping in matplotlib for prettier output is cosmetic; the data contract
(aggregate in, PNG out) is the part that matters.
"""

from __future__ import annotations

import os
import struct
import zlib
from collections.abc import Sequence

import numpy as np

WHITE = (255, 255, 255)
BLACK = (20, 20, 20)
GRAY = (160, 160, 160)
RED = (205, 70, 60)
GREEN = (70, 160, 90)
BLUE = (60, 110, 200)
SKYBLUE = (120, 180, 230)
ORANGE = (230, 150, 50)
PALETTE = [BLUE, ORANGE, GREEN, RED, (140, 100, 180), (100, 170, 170)]

# 5×7 bitmap font ('#' = on). Unknown glyphs render as blanks.
_F = {
    "A": "01110 10001 10001 11111 10001 10001 10001",
    "B": "11110 10001 10001 11110 10001 10001 11110",
    "C": "01110 10001 10000 10000 10000 10001 01110",
    "D": "11110 10001 10001 10001 10001 10001 11110",
    "E": "11111 10000 10000 11110 10000 10000 11111",
    "F": "11111 10000 10000 11110 10000 10000 10000",
    "G": "01110 10001 10000 10111 10001 10001 01111",
    "H": "10001 10001 10001 11111 10001 10001 10001",
    "I": "01110 00100 00100 00100 00100 00100 01110",
    "J": "00111 00010 00010 00010 00010 10010 01100",
    "K": "10001 10010 10100 11000 10100 10010 10001",
    "L": "10000 10000 10000 10000 10000 10000 11111",
    "M": "10001 11011 10101 10101 10001 10001 10001",
    "N": "10001 11001 10101 10011 10001 10001 10001",
    "O": "01110 10001 10001 10001 10001 10001 01110",
    "P": "11110 10001 10001 11110 10000 10000 10000",
    "Q": "01110 10001 10001 10001 10101 10010 01101",
    "R": "11110 10001 10001 11110 10100 10010 10001",
    "S": "01111 10000 10000 01110 00001 00001 11110",
    "T": "11111 00100 00100 00100 00100 00100 00100",
    "U": "10001 10001 10001 10001 10001 10001 01110",
    "V": "10001 10001 10001 10001 10001 01010 00100",
    "W": "10001 10001 10001 10101 10101 11011 10001",
    "X": "10001 10001 01010 00100 01010 10001 10001",
    "Y": "10001 10001 01010 00100 00100 00100 00100",
    "Z": "11111 00001 00010 00100 01000 10000 11111",
    "0": "01110 10001 10011 10101 11001 10001 01110",
    "1": "00100 01100 00100 00100 00100 00100 01110",
    "2": "01110 10001 00001 00010 00100 01000 11111",
    "3": "11110 00001 00001 01110 00001 00001 11110",
    "4": "00010 00110 01010 10010 11111 00010 00010",
    "5": "11111 10000 11110 00001 00001 10001 01110",
    "6": "00110 01000 10000 11110 10001 10001 01110",
    "7": "11111 00001 00010 00100 01000 01000 01000",
    "8": "01110 10001 10001 01110 10001 10001 01110",
    "9": "01110 10001 10001 01111 00001 00010 01100",
    ".": "00000 00000 00000 00000 00000 01100 01100",
    ",": "00000 00000 00000 00000 01100 00100 01000",
    "-": "00000 00000 00000 01110 00000 00000 00000",
    "_": "00000 00000 00000 00000 00000 00000 11111",
    "=": "00000 00000 11111 00000 11111 00000 00000",
    "(": "00010 00100 01000 01000 01000 00100 00010",
    ")": "01000 00100 00010 00010 00010 00100 01000",
    "/": "00001 00010 00010 00100 01000 01000 10000",
    "%": "11001 11010 00010 00100 01000 01011 10011",
    ":": "00000 01100 01100 00000 01100 01100 00000",
    " ": "00000 00000 00000 00000 00000 00000 00000",
}
_FONT = {
    ch: np.array(
        [[c == "1" for c in row] for row in rows.split()], dtype=bool
    )
    for ch, rows in _F.items()
}


class Canvas:
    """RGB raster canvas with the few primitives the charts need."""

    def __init__(self, width: int, height: int):
        self.w, self.h = width, height
        self.px = np.full((height, width, 3), 255, dtype=np.uint8)

    def rect(self, x0: int, y0: int, x1: int, y1: int, color, fill=True) -> None:
        x0, x1 = sorted((max(0, int(x0)), min(self.w, int(x1))))
        y0, y1 = sorted((max(0, int(y0)), min(self.h, int(y1))))
        if fill:
            self.px[y0:y1, x0:x1] = color
        else:
            self.px[y0:y1, x0 : min(x0 + 1, self.w)] = color
            self.px[y0:y1, max(x1 - 1, 0) : x1] = color
            self.px[y0 : min(y0 + 1, self.h), x0:x1] = color
            self.px[max(y1 - 1, 0) : y1, x0:x1] = color

    def line(self, x0: float, y0: float, x1: float, y1: float, color, dashed=False) -> None:
        n = int(max(abs(x1 - x0), abs(y1 - y0), 1)) * 2
        xs = np.linspace(x0, x1, n).round().astype(int)
        ys = np.linspace(y0, y1, n).round().astype(int)
        keep = (xs >= 0) & (xs < self.w) & (ys >= 0) & (ys < self.h)
        if dashed:
            keep &= (np.arange(n) // 8) % 2 == 0
        self.px[ys[keep], xs[keep]] = color

    def text(self, x: int, y: int, s: str, color=BLACK, scale: int = 1) -> None:
        cx = int(x)
        for ch in str(s).upper():
            glyph = _FONT.get(ch)
            if glyph is not None:
                g = np.kron(glyph, np.ones((scale, scale), dtype=bool))
                gh, gw = g.shape
                y0, x0 = int(y), cx
                y1, x1 = min(y0 + gh, self.h), min(x0 + gw, self.w)
                if y1 > y0 >= 0 and x1 > x0 >= 0:
                    region = self.px[y0:y1, x0:x1]
                    region[g[: y1 - y0, : x1 - x0]] = color
            cx += 6 * scale

    def text_center(self, xc: int, y: int, s: str, color=BLACK, scale: int = 1) -> None:
        self.text(xc - len(str(s)) * 6 * scale // 2, y, s, color, scale)

    def save(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        h, w, _ = self.px.shape
        raw = b"".join(b"\x00" + self.px[r].tobytes() for r in range(h))

        def chunk(tag: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data))
                + tag
                + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        with open(path, "wb") as f:
            f.write(
                b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw, 6))
                + chunk(b"IEND", b"")
            )


def _axes(c: Canvas, title: str, ml=60, mr=20, mt=40, mb=50):
    """Draw title + plot frame; return (x0, y0, x1, y1) plot box."""
    x0, y0, x1, y1 = ml, mt, c.w - mr, c.h - mb
    c.text_center(c.w // 2, 12, title, scale=2)
    c.rect(x0, y0, x1, y1, GRAY, fill=False)
    return x0, y0, x1, y1


def _fmt(v: float) -> str:
    if isinstance(v, float) and not v.is_integer():
        return f"{v:.2f}" if abs(v) < 100 else f"{v:.0f}"
    return str(int(v))


def bar_chart(
    path: str,
    labels: Sequence[str],
    values: Sequence[float],
    title: str = "",
    colors: Sequence | None = None,
    width: int = 640,
    height: int = 420,
) -> str:
    """Sentiment-distribution-style bar chart (reference preprocessing.py:63-69)."""
    c = Canvas(width, height)
    x0, y0, x1, y1 = _axes(c, title)
    vmax = max(max(values, default=0), 1)
    n = max(len(values), 1)
    slot = (x1 - x0) / n
    for i, (lab, v) in enumerate(zip(labels, values)):
        color = (colors or PALETTE)[i % len(colors or PALETTE)]
        bx0 = x0 + i * slot + slot * 0.15
        bx1 = x0 + (i + 1) * slot - slot * 0.15
        by = y1 - (y1 - y0 - 10) * (v / vmax)
        c.rect(bx0, by, bx1, y1, color)
        c.text_center(int(x0 + (i + 0.5) * slot), y1 + 8, str(lab))
        c.text_center(int(x0 + (i + 0.5) * slot), int(by) - 12, _fmt(v))
    c.text(6, y0, _fmt(vmax))
    c.text(6, y1 - 8, "0")
    c.save(path)
    return path


def grouped_bar_chart(
    path: str,
    group_labels: Sequence[str],
    series: dict[str, Sequence[float]],
    title: str = "",
    width: int = 700,
    height: int = 440,
) -> str:
    """Model-comparison grouped bars (reference compare_models.py:20-38)."""
    c = Canvas(width, height)
    x0, y0, x1, y1 = _axes(c, title)
    vmax = max((max(v, default=0) for v in series.values()), default=0) or 1
    ng, ns = max(len(group_labels), 1), max(len(series), 1)
    slot = (x1 - x0) / ng
    bw = slot * 0.8 / ns
    for si, (name, vals) in enumerate(series.items()):
        color = PALETTE[si % len(PALETTE)]
        for gi, v in enumerate(vals):
            bx0 = x0 + gi * slot + slot * 0.1 + si * bw
            by = y1 - (y1 - y0 - 10) * (v / vmax)
            c.rect(bx0, by, bx0 + bw * 0.9, y1, color)
        # legend swatch
        ly = 28 + 0  # below title
        lx = x0 + si * 150
        c.rect(lx, ly, lx + 10, ly + 10, color)
        c.text(lx + 14, ly + 1, name)
    for gi, lab in enumerate(group_labels):
        c.text_center(int(x0 + (gi + 0.5) * slot), y1 + 8, str(lab))
    c.text(6, y0, _fmt(float(vmax)))
    c.text(6, y1 - 8, "0")
    c.save(path)
    return path


def histogram(
    path: str,
    bins: Sequence[tuple[float, int]],
    bin_width: float,
    title: str = "",
    vline: float | None = None,
    color=SKYBLUE,
    width: int = 700,
    height: int = 420,
) -> str:
    """Length histogram from pre-aggregated (bin_start, count) rows
    (reference preprocessing.py:125-145 — there via driver-side pandas)."""
    c = Canvas(width, height)
    x0, y0, x1, y1 = _axes(c, title)
    if bins:
        bmin = min(b for b, _ in bins)
        bmax = max(b for b, _ in bins) + bin_width
        vmax = max(n for _, n in bins) or 1
        span = max(bmax - bmin, 1e-9)
        for bstart, n in bins:
            bx0 = x0 + (bstart - bmin) / span * (x1 - x0)
            bx1 = x0 + (bstart + bin_width - bmin) / span * (x1 - x0)
            by = y1 - (y1 - y0 - 10) * (n / vmax)
            c.rect(bx0, by, max(bx1 - 1, bx0 + 1), y1, color)
        if vline is not None and bmin <= vline <= bmax:
            vx = x0 + (vline - bmin) / span * (x1 - x0)
            c.line(vx, y0, vx, y1, RED, dashed=True)
        c.text(6, y0, _fmt(vmax))
        c.text(6, y1 - 8, "0")
        c.text(x0, y1 + 8, _fmt(float(bmin)))
        c.text(x1 - 30, y1 + 8, _fmt(float(bmax)))
    c.save(path)
    return path


def heatmap(
    path: str,
    matrix: Sequence[Sequence[float]],
    title: str = "",
    xlabel: str = "PREDICTED",
    ylabel: str = "ACTUAL",
    width: int = 460,
    height: int = 440,
) -> str:
    """Annotated confusion-matrix heatmap
    (reference model_logistic_regression.py:261-273)."""
    c = Canvas(width, height)
    x0, y0, x1, y1 = _axes(c, title, ml=70, mb=60)
    m = np.asarray(matrix, dtype=float)
    vmax = m.max() or 1.0
    rows, cols = m.shape
    cw, ch = (x1 - x0) / cols, (y1 - y0) / rows
    for r in range(rows):
        for col in range(cols):
            frac = m[r, col] / vmax
            # white → blue ramp
            color = tuple(int(255 + (b - 255) * frac) for b in BLUE)
            cx0, cy0 = x0 + col * cw, y0 + r * ch
            c.rect(cx0 + 1, cy0 + 1, cx0 + cw - 1, cy0 + ch - 1, color)
            txt_color = WHITE if frac > 0.55 else BLACK
            c.text_center(int(cx0 + cw / 2), int(cy0 + ch / 2) - 4, _fmt(m[r, col]), txt_color)
            if r == rows - 1:
                c.text_center(int(cx0 + cw / 2), y1 + 8, str(col))
        c.text(x0 - 16, int(y0 + r * ch + ch / 2) - 4, str(r))
    c.text_center((x0 + x1) // 2, height - 24, xlabel)
    c.text(6, (y0 + y1) // 2, ylabel[:1])
    c.save(path)
    return path


def confusion_heatmap(path: str, cm: dict[str, int], title: str) -> str:
    """``heatmap`` of a metrics-JSON confusion dict (``"label_prediction"``
    → count): the k×k matrix over every class seen as a label or a
    prediction, absent cells 0."""
    classes = sorted({int(c) for key in cm for c in key.split("_")})
    return heatmap(path, [[cm.get(f"{a}_{p}", 0) for p in classes] for a in classes], title=title)


def roc_curve_png(
    path: str,
    points: Sequence[tuple[float, float]],
    auc_value: float | None = None,
    title: str = "ROC CURVE",
    width: int = 520,
    height: int = 500,
) -> str:
    """ROC polyline + chance diagonal from BINNED (fpr, tpr) points
    (reference model_logistic_regression.py:282-296)."""
    c = Canvas(width, height)
    x0, y0, x1, y1 = _axes(c, title)
    c.line(x0, y1, x1, y0, GRAY, dashed=True)
    pts = sorted([(0.0, 0.0), *points, (1.0, 1.0)])
    for (fa, ta), (fb, tb) in zip(pts, pts[1:]):
        c.line(
            x0 + fa * (x1 - x0), y1 - ta * (y1 - y0),
            x0 + fb * (x1 - x0), y1 - tb * (y1 - y0),
            BLUE,
        )
    if auc_value is not None:
        c.text(x0 + 10, y1 - 20, f"AUC = {auc_value:.4f}")
    c.text_center((x0 + x1) // 2, height - 24, "FPR")
    c.text(6, (y0 + y1) // 2, "T")
    c.text(x0 - 10, y1 + 8, "0")
    c.text(x1 - 5, y1 + 8, "1")
    c.save(path)
    return path


def boxplot(
    path: str,
    stats_list: Sequence[dict],
    labels: Sequence[str],
    title: str = "",
    width: int = 520,
    height: int = 440,
) -> str:
    """Boxplot from distributed five-number summaries — each dict needs
    min/q25/median/q75/max (reference preprocessing.py:72-84 drew this from
    a collected sample; the quartiles here come from approx_percentile)."""
    c = Canvas(width, height)
    x0, y0, x1, y1 = _axes(c, title)
    finite = [s for s in stats_list if s.get("max") is not None]
    vmax = max((s["max"] for s in finite), default=1) or 1
    vmin = min((s["min"] for s in finite), default=0)
    span = max(vmax - vmin, 1e-9)

    def ypix(v: float) -> float:
        return y1 - (v - vmin) / span * (y1 - y0 - 10)

    n = max(len(stats_list), 1)
    slot = (x1 - x0) / n
    for i, (s, lab) in enumerate(zip(stats_list, labels)):
        if s.get("max") is None:
            continue
        cx = x0 + (i + 0.5) * slot
        bw = slot * 0.25
        c.line(cx, ypix(s["min"]), cx, ypix(s["q25"]), BLACK)
        c.line(cx, ypix(s["q75"]), cx, ypix(s["max"]), BLACK)
        for v in (s["min"], s["max"]):
            c.line(cx - bw / 2, ypix(v), cx + bw / 2, ypix(v), BLACK)
        c.rect(cx - bw, ypix(s["q75"]), cx + bw, ypix(s["q25"]), SKYBLUE)
        c.rect(cx - bw, ypix(s["q75"]), cx + bw, ypix(s["q25"]), BLACK, fill=False)
        c.line(cx - bw, ypix(s["median"]), cx + bw, ypix(s["median"]), RED)
        c.text_center(int(cx), y1 + 8, str(lab))
    c.text(6, y0, _fmt(float(vmax)))
    c.text(6, y1 - 8, _fmt(float(vmin)))
    c.save(path)
    return path
