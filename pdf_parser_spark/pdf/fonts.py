"""Font decoding: code→unicode maps and width tables.

Covers the font machinery text extraction needs (PDF 32000-1:2008 §9):
- /ToUnicode CMap parsing (bfchar / bfrange, codespace ranges),
- Type0/CID fonts (Identity-H/V, /W width arrays, /DW default),
- simple fonts (/Encoding base + /Differences, /Widths, /FirstChar).

Parity target: pypdf's ``build_char_map`` as exercised by
/root/reference/src/pdf_parser.py:101-114 (page.extract_text).
"""

from __future__ import annotations

import re
from typing import Dict, Optional, Tuple

from .encodings import base_encoding_map, glyph_to_unicode
from .objects import Name, StreamObject


def _utf16be(b: bytes) -> str:
    try:
        return b.decode("utf-16-be", errors="replace")
    except Exception:
        return ""


def parse_tounicode(cmap_bytes: bytes) -> Tuple[Dict[int, str], list[Tuple[int, int]]]:
    """Parse a ToUnicode CMap → (code→str map, codespace byte-ranges)."""
    out: Dict[int, str] = {}
    spaces: list[Tuple[int, int]] = []  # (nbytes, nbytes) pairs kept as byte counts
    txt = cmap_bytes

    for m in re.finditer(rb"begincodespacerange(.*?)endcodespacerange", txt, re.S):
        for hm in re.finditer(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", m.group(1)):
            lo, hi = hm.group(1), hm.group(2)
            spaces.append((len(lo) // 2, len(hi) // 2))

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", txt, re.S):
        for hm in re.finditer(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]*)>", m.group(1)):
            code = int(hm.group(1), 16)
            dst = bytes.fromhex(hm.group(2).decode("ascii")) if hm.group(2) else b""
            out[code] = _utf16be(dst)

    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", txt, re.S):
        body = m.group(1)
        # form 1: <lo> <hi> <dst>
        pos = 0
        token_re = re.compile(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(\[(?:[^\]]*)\]|<[0-9A-Fa-f]*>)", re.S
        )
        for hm in token_re.finditer(body):
            lo = int(hm.group(1), 16)
            hi = int(hm.group(2), 16)
            dst = hm.group(3)
            if hi - lo > 65535:
                continue
            if dst.startswith(b"["):
                items = re.findall(rb"<([0-9A-Fa-f]*)>", dst)
                for i, it in enumerate(items):
                    if lo + i > hi:
                        break
                    out[lo + i] = _utf16be(bytes.fromhex(it.decode("ascii"))) if it else ""
            else:
                base = dst.strip(b"<>")
                if not base:
                    continue
                bb = bytes.fromhex(base.decode("ascii"))
                # increment the last code unit
                if len(bb) >= 2:
                    prefix, last = bb[:-2], int.from_bytes(bb[-2:], "big")
                    for i in range(hi - lo + 1):
                        out[lo + i] = _utf16be(prefix + ((last + i) & 0xFFFF).to_bytes(2, "big"))
                else:
                    last = bb[0] if bb else 0
                    for i in range(hi - lo + 1):
                        out[lo + i] = chr((last + i) & 0xFF)
    return out, spaces


class Font:
    """A decoded font: maps raw string bytes → unicode, plus widths."""

    def __init__(self) -> None:
        self.code_bytes: int = 1          # bytes per code (2 for Identity CID)
        self.map: Dict[int, str] = {}     # code → unicode
        self.widths: Dict[int, float] = {}  # code → glyph width (1000 units/em)
        self.default_width: float = 500.0
        self.space_code: Optional[int] = None
        self.space_width: float = 250.0   # width of the space glyph
        self._wtbl: Optional[list] = None  # lazy 1-byte width table

    def decode(self, raw: bytes) -> str:
        nb = self.code_bytes
        if nb == 1:
            # hot path: latin-1 decode is the chr(c) identity and
            # str.translate applies the code→unicode map at C speed
            # with exactly the same missing-code fallback
            return raw.decode("latin-1").translate(self.map)
        out = []
        for i in range(0, len(raw) - nb + 1, nb):
            code = int.from_bytes(raw[i : i + nb], "big")
            u = self.map.get(code)
            if u is None:
                u = "�"
            out.append(u)
        # trailing odd byte for 2-byte fonts: decode as 1-byte (lenient)
        if len(raw) % 2:
            out.append(chr(raw[-1]))
        return "".join(out)

    def text_width(self, raw: bytes) -> float:
        """Sum of glyph widths (1000-units/em) for a shown string."""
        nb = self.code_bytes
        if nb == 1:
            # lazily cached 256-entry table -> C-speed map/sum
            tbl = self._wtbl
            if tbl is None:
                dw = self.default_width
                w = self.widths
                tbl = [w.get(c, dw) for c in range(256)]
                self._wtbl = tbl
            return float(sum(map(tbl.__getitem__, raw)))
        total = 0.0
        for i in range(0, len(raw) - nb + 1, nb):
            code = int.from_bytes(raw[i : i + nb], "big")
            total += self.widths.get(code, self.default_width)
        return total


def build_font(doc, font_dict: dict) -> Font:
    """Build a Font from a /Font resource dictionary."""
    r = doc.resolve
    f = Font()
    subtype = r(font_dict.get("Subtype"))

    tou = r(font_dict.get("ToUnicode"))
    tou_map: Dict[int, str] = {}
    if isinstance(tou, StreamObject):
        try:
            tou_map, spaces = parse_tounicode(doc.stream_data(tou))
        except Exception:
            tou_map, spaces = {}, []
    else:
        spaces = []

    if subtype == "Type0":
        f.code_bytes = 2
        if spaces and all(s[0] == 1 for s in spaces):
            f.code_bytes = 1
        enc = r(font_dict.get("Encoding"))
        desc = r(font_dict.get("DescendantFonts"))
        d0 = r(desc[0]) if isinstance(desc, list) and desc else {}
        if isinstance(d0, StreamObject):
            d0 = d0.dict
        f.map = dict(tou_map)
        # widths from /W, default /DW
        if isinstance(d0, dict):
            dw = r(d0.get("DW"))
            if isinstance(dw, (int, float)):
                f.default_width = float(dw)
            else:
                f.default_width = 1000.0
            w = r(d0.get("W"))
            if isinstance(w, list):
                i = 0
                while i < len(w):
                    a = r(w[i])
                    if i + 1 < len(w) and isinstance(r(w[i + 1]), list):
                        arr = r(w[i + 1])
                        for j, wv in enumerate(arr):
                            wv = r(wv)
                            if isinstance(wv, (int, float)):
                                f.widths[int(a) + j] = float(wv)
                        i += 2
                    elif i + 2 < len(w):
                        b, wv = r(w[i + 1]), r(w[i + 2])
                        try:
                            for c in range(int(a), int(b) + 1):
                                f.widths[c] = float(wv)
                        except (TypeError, ValueError):
                            pass
                        i += 3
                    else:
                        break
        # space: the code mapping to ' '
        for code, u in f.map.items():
            if u == " ":
                f.space_code = code
                break
        if f.space_code is not None:
            f.space_width = f.widths.get(f.space_code, f.default_width)
        else:
            f.space_width = f.default_width
        return f

    # --- simple fonts (Type1 / TrueType / Type3) ---
    f.code_bytes = 1
    enc = r(font_dict.get("Encoding"))
    base_name = "StandardEncoding"
    diffs = None
    if isinstance(enc, Name) or isinstance(enc, str):
        base_name = str(enc)
    elif isinstance(enc, dict) or isinstance(enc, StreamObject):
        ed = enc.dict if isinstance(enc, StreamObject) else enc
        be = r(ed.get("BaseEncoding"))
        if be:
            base_name = str(be)
        diffs = r(ed.get("Differences"))
    base = base_encoding_map(base_name)
    f.map = dict(base)
    if isinstance(diffs, list):
        code = 0
        for item in diffs:
            item = r(item)
            if isinstance(item, (int, float)):
                code = int(item)
            elif isinstance(item, (Name, str)):
                u = glyph_to_unicode(str(item))
                f.map[code] = u
                code += 1
    # ToUnicode wins where present
    for code, u in tou_map.items():
        if 0 <= code <= 255:
            f.map[code] = u

    fc = r(font_dict.get("FirstChar"))
    widths = r(font_dict.get("Widths"))
    if isinstance(widths, list) and isinstance(fc, (int, float)):
        for i, wv in enumerate(widths):
            wv = r(wv)
            if isinstance(wv, (int, float)):
                f.widths[int(fc) + i] = float(wv)
    f.default_width = 500.0
    # space glyph
    for code, u in f.map.items():
        if u == " ":
            f.space_code = code
            break
    if f.space_code is None:
        f.space_code = 32
    f.space_width = f.widths.get(f.space_code, 250.0)
    return f


def fonts_for(doc, resources, cache: Dict[int, Font]) -> Dict[str, Font]:
    """Resolve the /Font entries of a resource dictionary to Fonts.

    Each font dictionary is built once per `cache` (keyed by the id of
    the resolved dict); a font that fails to build maps to a default
    Font so one bad resource cannot abort the page."""
    r = doc.resolve
    res = r(resources)
    if isinstance(res, StreamObject):
        res = res.dict
    fonts: Dict[str, Font] = {}
    if isinstance(res, dict):
        fdict = r(res.get("Font"))
        if isinstance(fdict, dict):
            for name, fref in fdict.items():
                fd = r(fref)
                if isinstance(fd, StreamObject):
                    fd = fd.dict
                if isinstance(fd, dict):
                    key = id(fd)
                    if key not in cache:
                        try:
                            cache[key] = build_font(doc, fd)
                        except Exception:
                            cache[key] = Font()
                    fonts[str(name)] = cache[key]
    return fonts
