"""Page geometry: positioned text runs + vector stroke segments.

A second, layout-oriented content-stream interpreter (the first,
text.py, is fitted to pypdf's reading-order output; this one feeds the
table detectors).  Produces per page:

- text runs: device-space quads (start/end of the shown string on its
  baseline) + decoded text + effective font size,
- stroke segments: path construction ops (m/l/re, h) flushed at
  painting ops (S/s/B/b/f when rule-thin), transformed to device space,
- page rotation normalization: the dominant text orientation defines
  reading coordinates (x' = reading direction, y' = top-to-bottom), the
  same normalization camelot achieves by physically rotating the page
  before processing (camelot.handlers, public).

Reference parity target: the tables in
/root/reference/exports/Snack_planogram_12_05_2025_parsed.json, which
the reference produced via camelot lattice
(/root/reference/src/table_extractor.py:138-200).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

from .content import tokenize
from .document import PdfDocument
from .fonts import Font, fonts_for
from .objects import StreamObject
from .text import _IDENTITY, _mult, _orient


@dataclass
class Run:
    """One shown string: baseline start→end in device space."""

    x0: float
    y0: float
    x1: float
    y1: float
    text: str
    size: float     # effective (device) font size
    o: int          # orientation at show time


@dataclass
class Seg:
    x0: float
    y0: float
    x1: float
    y1: float
    seq: int = 0    # draw order (overpaint resolution)
    lum: float = 0.0  # mark luminance (diagnostics; 0=black)


def _tx(m, x, y) -> Tuple[float, float]:
    return (m[0] * x + m[2] * y + m[4], m[1] * x + m[3] * y + m[5])


def _clip_line(p0, p1, cb):
    """Liang-Barsky line clip against bbox cb=(x0,y0,x1,y1);
    returns (q0, q1) or None if fully outside."""
    x0, y0 = p0
    x1, y1 = p1
    dx, dy = x1 - x0, y1 - y0
    t0, t1 = 0.0, 1.0
    for p, q in ((-dx, x0 - cb[0]), (dx, cb[2] - x0),
                 (-dy, y0 - cb[1]), (dy, cb[3] - y0)):
        if p == 0:
            if q < 0:
                return None
            continue
        t = q / p
        if p < 0:
            if t > t1:
                return None
            if t > t0:
                t0 = t
        else:
            if t < t0:
                return None
            if t < t1:
                t1 = t
    return ((x0 + t0 * dx, y0 + t0 * dy), (x0 + t1 * dx, y0 + t1 * dy))


class _GeomExtractor:
    def __init__(self, doc: PdfDocument) -> None:
        self.doc = doc
        self._font_cache: Dict[int, Font] = {}
        self.runs: List[Run] = []
        self.segs: List[Seg] = []
        self.fill_rects: List[Tuple[float, float, float, float]] = []
        # near-white fills painted LATER erase earlier dark marks in a
        # raster — recorded with draw order for the overpaint pass
        self.white_rects: List[Tuple[int, float, float, float, float]] = []
        # every Image XObject paint: (seq, bbox, stream_obj, has_mask)
        # — the pixel-informed overpaint pass reads these
        self.image_paints: List[tuple] = []
        self._draw_seq = 0

    def extract(self, content: bytes, resources, depth: int = 0,
                init: Optional[tuple] = None) -> None:
        doc = self.doc
        fonts = fonts_for(doc, resources, self._font_cache)

        tm = list(_IDENTITY)
        stack: List[tuple] = []
        font: Optional[Font] = None
        font_size = 12.0
        char_scale = 1.0
        TL = 0.0
        if init is not None:
            # Form XObject recursion INHERITS the caller's graphics
            # state (PDF 32000 §8.10.1) — notably the dash pattern,
            # colors, and CLIP, which gate rule detection
            cm, stroke_lum, fill_lum, dashed, clip = init
            cm = list(cm)
        else:
            cm = list(_IDENTITY)
            stroke_lum = 0.0   # stroking luminance (0=black); raster-equiv:
            fill_lum = 0.0     # light marks threshold out in binarization
            dashed = False     # dashed strokes rasterize as short runs that
            # camelot's long-kernel erosion destroys — never table rules
            clip = None  # device-space clip bbox (axis-aligned approx of
            # W/W* regions — the raster never shows marks outside it)
        pending_clip = False
        path: List[List[Tuple[float, float]]] = []  # subpaths of points
        cur: List[Tuple[float, float]] = []

        def apply_pending_clip() -> None:
            """W/W* semantics: after the NEXT painting op, the clip
            becomes the intersection with the current path's region
            (bbox approximation; planogram clips are rects)."""
            nonlocal clip, pending_clip
            if not pending_clip:
                return
            pending_clip = False
            pts = [_tx(cm, x, y) for sub in (path + ([cur] if cur else []))
                   for x, y in sub]
            if not pts:
                return
            xs = [p[0] for p in pts]
            ys = [p[1] for p in pts]
            nb = (min(xs), min(ys), max(xs), max(ys))
            if clip is None:
                clip = nb
            else:
                clip = (max(clip[0], nb[0]), max(clip[1], nb[1]),
                        min(clip[2], nb[2]), min(clip[3], nb[3]))

        def _bbox_clip(x0, y0, x1, y1):
            """Intersect an axis bbox with the active clip (None if
            fully outside)."""
            if clip is None:
                return (x0, y0, x1, y1)
            nx0, ny0 = max(x0, clip[0]), max(y0, clip[1])
            nx1, ny1 = min(x1, clip[2]), min(y1, clip[3])
            if nx0 > nx1 or ny0 > ny1:
                return None
            return (nx0, ny0, nx1, ny1)

        def flush_path(stroke: bool, fill: bool) -> None:
            nonlocal path, cur
            if cur:
                path.append(cur)
                cur = []
            self._draw_seq += 1
            seq = self._draw_seq
            lum = stroke_lum if stroke else fill_lum
            if lum > 0.85:  # near-white marks vanish in camelot's
                # binarization — and near-white FILLS erase what they
                # cover (overpaint), so record their extents
                if fill:
                    for sub in path:
                        pts = [_tx(cm, x, y) for x, y in sub]
                        if pts:
                            xs = [p[0] for p in pts]
                            ys = [p[1] for p in pts]
                            b = _bbox_clip(min(xs), min(ys),
                                           max(xs), max(ys))
                            if b:
                                self.white_rects.append((seq,) + b)
                apply_pending_clip()
                path = []
                return
            if stroke and dashed:
                apply_pending_clip()
                path = []
                return
            for sub in path:
                pts = [_tx(cm, x, y) for x, y in sub]
                if stroke:
                    for a, b in zip(pts, pts[1:]):
                        if clip is not None:
                            cl = _clip_line(a, b, clip)
                            if cl is None:
                                continue
                            a, b = cl
                        self.segs.append(
                            Seg(a[0], a[1], b[0], b[1], seq, lum))
                elif fill and pts:
                    # filled areas: thin ones act as rules; wider
                    # bands survive camelot's raster morphology as
                    # thick line regions whose V-crossings make joints
                    xs = [p[0] for p in pts]
                    ys = [p[1] for p in pts]
                    bb = _bbox_clip(min(xs), min(ys), max(xs), max(ys))
                    if bb is None:
                        continue
                    x0, y0, x1, y1 = bb
                    if (x1 - x0) < 2.5 or (y1 - y0) < 2.5:
                        self.segs.append(Seg(x0, (y0 + y1) / 2,
                                             x1, (y0 + y1) / 2, seq, lum)
                                         if (y1 - y0) < 2.5 else
                                         Seg((x0 + x1) / 2, y0,
                                             (x0 + x1) / 2, y1, seq, lum))
                    else:
                        self.fill_rects.append((x0, y0, x1, y1))
            apply_pending_clip()
            path = []

        def advance_units(raw: bytes) -> float:
            """String displacement in unscaled text units."""
            if font is None:
                return len(raw) * 500.0
            return font.text_width(raw)

        def show(raw, tj_offset: float = 0.0) -> None:
            nonlocal tm
            if not isinstance(raw, bytes):
                return
            m = _mult(tm, cm)
            adv = advance_units(raw) / 1000.0 * font_size * char_scale
            x0d, y0d = m[4], m[5]
            x1d, y1d = _tx(m, adv, 0.0)
            k = math.sqrt(abs(m[0] * m[3]) + abs(m[1] * m[2]))
            txt = font.decode(raw) if font is not None else raw.decode(
                "latin-1", "replace")
            if txt:
                self.runs.append(Run(x0d, y0d, x1d, y1d, txt,
                                     font_size * k, _orient(m)))
            tm = _mult([1, 0, 0, 1, adv, 0], tm)

        for operands, op in tokenize(content):
            try:
                if op == b"BT":
                    tm = list(_IDENTITY)
                elif op == b"q":
                    stack.append((list(cm), font, font_size, char_scale, TL,
                                  stroke_lum, fill_lum, dashed, clip))
                elif op == b"Q":
                    if stack:
                        (cm, font, font_size, char_scale, TL,
                         stroke_lum, fill_lum, dashed, clip) = stack.pop()
                        cm = list(cm)
                elif op == b"d":
                    arr = operands[0] if operands else []
                    dashed = bool(isinstance(arr, list) and
                                  any(float(v) > 0 for v in arr))
                elif op in (b"G", b"RG", b"K", b"g", b"rg", b"k"):
                    vals = [float(v) for v in operands]
                    if op in (b"G", b"g"):
                        lum = vals[0]
                    elif op in (b"RG", b"rg"):
                        lum = (0.299 * vals[0] + 0.587 * vals[1]
                               + 0.114 * vals[2])
                    else:  # K/k cmyk
                        lum = 1.0 - min(1.0, vals[3] + 0.3 * (
                            vals[0] + vals[1] + vals[2]))
                    if op.isupper() or op in (b"G", b"RG", b"K"):
                        stroke_lum = lum
                    else:
                        fill_lum = lum
                elif op == b"cm" and len(operands) == 6:
                    cm = _mult([float(x) for x in operands], cm)
                elif op == b"Tf" and len(operands) >= 2:
                    font = fonts.get(str(operands[0]))
                    font_size = float(operands[1])
                elif op == b"Tz":
                    char_scale = float(operands[0]) / 100.0
                elif op == b"TL":
                    TL = float(operands[0])
                elif op == b"Td":
                    tm = _mult([1, 0, 0, 1, float(operands[0]),
                                float(operands[1])], tm)
                elif op == b"TD":
                    TL = -float(operands[1])
                    tm = _mult([1, 0, 0, 1, float(operands[0]),
                                float(operands[1])], tm)
                elif op == b"Tm" and len(operands) == 6:
                    tm = [float(x) for x in operands]
                elif op == b"T*":
                    tm = _mult([1, 0, 0, 1, 0, -TL], tm)
                elif op == b"Tj":
                    if operands:
                        show(operands[0])
                elif op == b"'":
                    tm = _mult([1, 0, 0, 1, 0, -TL], tm)
                    if operands:
                        show(operands[0])
                elif op == b'"':
                    tm = _mult([1, 0, 0, 1, 0, -TL], tm)
                    if len(operands) >= 3:
                        show(operands[2])
                elif op == b"TJ":
                    if operands and isinstance(operands[0], list):
                        for item in operands[0]:
                            if isinstance(item, bytes):
                                show(item)
                            else:
                                try:
                                    d = -float(item) / 1000.0 * font_size * char_scale
                                    tm = _mult([1, 0, 0, 1, d, 0], tm)
                                except (TypeError, ValueError):
                                    pass
                elif op == b"m" and len(operands) >= 2:
                    if cur:
                        path.append(cur)
                    cur = [(float(operands[0]), float(operands[1]))]
                elif op == b"l" and len(operands) >= 2:
                    cur.append((float(operands[0]), float(operands[1])))
                elif op == b"h":
                    if cur and len(cur) > 1:
                        cur.append(cur[0])
                elif op == b"re" and len(operands) >= 4:
                    x, y, w, h = (float(v) for v in operands[:4])
                    if cur:
                        path.append(cur)
                        cur = []
                    path.append([(x, y), (x + w, y), (x + w, y + h),
                                 (x, y + h), (x, y)])
                elif op in (b"W", b"W*"):
                    pending_clip = True
                elif op in (b"S", b"s", b"B", b"B*", b"b", b"b*"):
                    flush_path(stroke=True, fill=False)
                elif op in (b"f", b"F", b"f*"):
                    flush_path(stroke=False, fill=True)
                elif op == b"n":
                    if cur:
                        path.append(cur)
                        cur = []
                    apply_pending_clip()
                    path, cur = [], []
                elif op == b"Do" and depth < 4:
                    r = doc.resolve
                    res = r(resources)
                    if isinstance(res, StreamObject):
                        res = res.dict
                    xo = None
                    if isinstance(res, dict) and operands:
                        xod = r(res.get("XObject"))
                        if isinstance(xod, dict):
                            xo = r(xod.get(str(operands[0])))
                    if isinstance(xo, StreamObject) and r(
                            xo.dict.get("Subtype")) == "Form":
                        inner_cm = list(cm)
                        mtx = r(xo.dict.get("Matrix"))
                        if isinstance(mtx, list) and len(mtx) == 6:
                            inner_cm = _mult([float(v) for v in mtx], cm)
                        inner_res = xo.dict.get("Resources", resources)
                        try:
                            self.extract(
                                doc.stream_data(xo), inner_res, depth + 1,
                                init=(inner_cm, stroke_lum, fill_lum,
                                      dashed, clip),
                            )
                        except Exception:
                            pass
                    elif isinstance(xo, StreamObject) and r(
                            xo.dict.get("Subtype")) == "Image":
                        # an OPAQUE image paint (no /SMask//Mask
                        # transparency) covers every earlier mark under
                        # it in the raster — exactly how camelot's
                        # pipeline loses rules beneath product
                        # thumbnails painted over schematic art. Record
                        # the image's unit-square device bbox as a
                        # cover, same mechanism as near-white fills.
                        has_mask = bool(xo.dict.get("SMask")
                                        or xo.dict.get("Mask"))
                        if not has_mask:
                            self._draw_seq += 1
                            pts = [_tx(cm, x, y)
                                   for x, y in ((0, 0), (1, 0),
                                                (0, 1), (1, 1))]
                            xs = [p[0] for p in pts]
                            ys = [p[1] for p in pts]
                            # unlike a white fill (whose boundary
                            # anti-aliases WITH an underlying rule so
                            # edge-aligned rules survive), an opaque
                            # image overwrites its edge pixels too —
                            # grow the bbox past the erase pass's
                            # boundary exemption inset
                            g = 0.6
                            b = _bbox_clip(min(xs) - g, min(ys) - g,
                                           max(xs) + g, max(ys) + g)
                            if b:
                                self.white_rects.append(
                                    (self._draw_seq,) + b)
                                self.image_paints.append(
                                    (self._draw_seq, b, xo, has_mask))
            except (TypeError, ValueError, IndexError):
                continue


def _erase_overpainted(segs: List[Seg],
                       white_rects: List[tuple],
                       edge: float = 1.0) -> List[Seg]:
    """Raster overpaint semantics: a near-white fill painted AFTER a
    dark mark erases the covered portion.  Only the rect INTERIOR
    (inset by `edge`) erases — rules drawn along a fill's boundary
    survive in the raster (the fill's pixels stop at the line).
    Axis-aligned segments are trimmed; surviving pieces are what the
    binarized raster still shows."""
    if not white_rects:
        return segs
    out: List[Seg] = []
    work = list(segs)
    while work:
        s = work.pop()
        covered = False
        for seq, x0, y0, x1, y1 in white_rects:
            if seq <= s.seq:
                continue
            # interior inset scales down for thin white covers (a 1pt
            # white stripe painted over a rule erases it; a big white
            # panel leaves rules drawn along its boundary visible)
            ex_ = min(edge, (x1 - x0) / 4) - 0.5
            ey_ = min(edge, (y1 - y0) / 4) - 0.5
            ix0, iy0, ix1, iy1 = x0 + ex_, y0 + ey_, x1 - ex_, y1 - ey_
            if ix0 >= ix1 or iy0 >= iy1:
                continue
            sx0, sx1 = min(s.x0, s.x1), max(s.x0, s.x1)
            sy0, sy1 = min(s.y0, s.y1), max(s.y0, s.y1)
            if sx0 >= ix0 and sx1 <= ix1 and sy0 >= iy0 and sy1 <= iy1:
                covered = True          # fully erased
                break
            if abs(s.y0 - s.y1) <= 1e-6 and iy0 <= s.y0 <= iy1 \
                    and sx1 > ix0 and sx0 < ix1:
                # horizontal segment partially covered: keep outer parts
                if sx0 < ix0:
                    work.append(Seg(sx0, s.y0, ix0, s.y1, s.seq))
                if sx1 > ix1:
                    work.append(Seg(ix1, s.y0, sx1, s.y1, s.seq))
                covered = True
                break
            if abs(s.x0 - s.x1) <= 1e-6 and ix0 <= s.x0 <= ix1 \
                    and sy1 > iy0 and sy0 < iy1:
                if sy0 < iy0:
                    work.append(Seg(s.x0, sy0, s.x1, iy0, s.seq))
                if sy1 > iy1:
                    work.append(Seg(s.x0, iy1, s.x1, sy1, s.seq))
                covered = True
                break
        if not covered:
            out.append(s)
    return out


def page_geometry(doc: PdfDocument, page: dict):
    """(runs, stroke segments, filled rect bboxes) for one page."""
    ex = _GeomExtractor(doc)
    content = doc.page_content(page)
    if content:
        ex.extract(content, page.get("Resources"))
    segs = _erase_overpainted(ex.segs, ex.white_rects)
    return ex.runs, segs, ex.fill_rects


# ------------------------------------------------- rotation normalize


def dominant_orientation(runs: List[Run]) -> int:
    counts: Dict[int, int] = {}
    for r in runs:
        counts[r.o] = counts.get(r.o, 0) + len(r.text)
    return max(counts, key=counts.get) if counts else 0


def normalize(runs: List[Run], segs: List[Seg], o: int,
              rects: Optional[List[Tuple[float, float, float, float]]] = None):
    """Rotate device coords so text reads +x and lines stack +y (top to
    bottom).  Returns (norm_runs, norm_segs[, norm_rects]) as plain
    dict/bbox lists: runs -> (x0, y0down, x1, size, text), y the
    baseline; rects -> (x0, y0, x1, y1) normalized bboxes."""

    def pt(x, y):
        if o == 0:
            return (x, -y)        # PDF y grows up; we want down
        if o == 180:
            return (-x, y)
        if o == 90:
            return (y, x)         # reading = +y dev, down = +x dev
        return (-y, -x)           # o == 270

    nruns = []
    for r in runs:
        if r.o != o:
            continue
        a, b = pt(r.x0, r.y0), pt(r.x1, r.y1)
        nruns.append({"x0": min(a[0], b[0]), "x1": max(a[0], b[0]),
                      "y": a[1], "size": r.size, "text": r.text})
    nsegs = []
    for s in segs:
        a, b = pt(s.x0, s.y0), pt(s.x1, s.y1)
        nsegs.append(Seg(a[0], a[1], b[0], b[1]))
    if rects is None:
        return nruns, nsegs
    nrects = []
    for x0, y0, x1, y1 in rects:
        a, b = pt(x0, y0), pt(x1, y1)
        nrects.append((min(a[0], b[0]), min(a[1], b[1]),
                       max(a[0], b[0]), max(a[1], b[1])))
    return nruns, nsegs, nrects
