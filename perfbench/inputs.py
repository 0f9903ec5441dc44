"""Seeded input generators for the benchmark workloads.

Every page comes with the text the engine must produce for it (the
post-clean `text` column of the documents table) and, for HTML, the
charset the sniffer must report. The engine never sees these; the
benchmark compares them with what the engine committed.

Pages are built from the repo's own generators
(`pdf_parser_spark.datagen`): `make_html_page` for HTML articles and
`build_pdf` for PDFs, wrapped here to reach the size, charset, table
and duplication properties each workload needs. Same seed, same bytes.
"""

from __future__ import annotations

import functools
import math
import os
import random
import zlib
from dataclasses import dataclass
from typing import List, Optional

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_parser_spark.datagen.htmlgen import make_html_page
from pdf_parser_spark.datagen.pdfgen import build_pdf
from pdf_parser_spark.functions.clean import clean_text
from pdf_parser_spark.jobs.extract import DEFAULT_HEAVY_BYTES


@dataclass
class Page:
    url: str
    payload: bytes
    expected_text: str
    kind: str                      # html | pdf
    charset: Optional[str] = None  # html only: what sniff_bytes must say


# ------------------------------------------------------------------ html

_JS_WORDS = ("track load init event user view click render state fetch "
             "cache queue node value index").split()
_CSS_PROPS = ("color margin padding border width height font display "
              "float position").split()
_NAV_WORDS = ("news sport world tech video shop deals travel food "
              "health style money games music").split()

#: windows-1252 pages swap these words for same-length non-ASCII
#: spellings, so block densities (and the boilerplate verdict) are
#: unchanged while the decoder has C1 (0x80) and Latin-1 bytes to map
_CP1252_SWAPS = (("data", "daté"), ("text", "t€xt"))

HTML_MEDIAN_BYTES = 20_000
HTML_SIGMA = 1.0
HTML_MAX_BYTES = 1 << 20
CP1252_SHARE = 0.1


def _script_line(rng: random.Random) -> str:
    w = rng.choice(_JS_WORDS)
    return (f"var {w}{rng.randint(0, 9999)} = \"{w} {rng.choice(_JS_WORDS)}\";"
            f" function {w}_{rng.randint(0, 999)}() {{ return "
            f"{rng.randint(0, 99999)}; }}\n")


def _style_line(rng: random.Random) -> str:
    return (f".c{rng.randint(0, 99999)} {{ {rng.choice(_CSS_PROPS)}: "
            f"{rng.randint(0, 999)}px; {rng.choice(_CSS_PROPS)}: "
            f"#{rng.randint(0, 0xFFFFFF):06x} }}\n")


def _nav_line(rng: random.Random) -> str:
    w = rng.choice(_NAV_WORDS)
    return f'<li><a href="/{w}/{rng.randint(0, 99999)}">{w.title()}</a></li>\n'


class _Pool:
    """Seeded bulk text of whole lines; a page's padding is a seeded
    slice of it (cheaper than drawing every padding line per page)."""

    def __init__(self, rng: random.Random, line, size: int) -> None:
        lines, ends, total = [], [], 0
        while total < size:
            ln = line(rng)
            lines.append(ln)
            total += len(ln)
            ends.append(total)
        self.text = "".join(lines)
        self.starts = [0] + ends[:-1]

    def take(self, rng: random.Random, n: int) -> str:
        """About n chars of whole lines from a seeded line start."""
        if n <= 0:
            return ""
        s = self.starts[rng.randrange(len(self.starts))]
        text = self.text[s:s + n]
        if len(text) < n:  # wrap to the pool's start (a line start)
            text += self.text[:n - len(text)]
        return text[:text.rfind("\n") + 1]


@functools.lru_cache(maxsize=2)
def _pools(seed: int):
    rng = random.Random(f"html-pools:{seed}")
    return (_Pool(rng, _script_line, 1 << 20),
            _Pool(rng, _style_line, 1 << 19),
            _Pool(rng, _nav_line, 1 << 19))


def html_page(seed: int, i: int, url: str) -> Page:
    """A `make_html_page` article padded with script, style and nav
    bulk to a log-normal size (median HTML_MEDIAN_BYTES); a
    CP1252_SHARE of pages are windows-1252 with a meta charset tag."""
    raw, expected = make_html_page(seed, i)
    html = raw.decode("utf-8")
    rng = random.Random(f"html-pad:{seed}:{i}")
    target = min(HTML_MAX_BYTES,
                 int(HTML_MEDIAN_BYTES * math.exp(rng.gauss(0.0, HTML_SIGMA))))
    pad = max(0, target - len(raw))
    script_pool, style_pool, nav_pool = _pools(seed)
    script = script_pool.take(rng, pad // 2)
    style = style_pool.take(rng, pad // 4)
    nav = nav_pool.take(rng, pad - pad // 2 - pad // 4)
    cp1252 = rng.random() < CP1252_SHARE
    head_extra = (('<meta charset="windows-1252">' if cp1252 else "")
                  + f"<style>{style}</style><script>{script}</script>")
    html = html.replace("</head>", head_extra + "</head>", 1)
    html = html.replace("</ul></nav>", nav + "</ul></nav>", 1)
    if cp1252:
        for a, b in _CP1252_SWAPS:
            html = html.replace(a, b)
            expected = expected.replace(a, b)
        payload, charset = html.encode("cp1252"), "windows-1252"
    else:
        payload, charset = html.encode("utf-8"), "utf-8"
    return Page(url, payload, clean_text(expected), "html", charset)


# ------------------------------------------------------------------- pdf

_PDF_WORDS = ("report total revenue units price margin region quarter item "
              "category stock shelf vendor batch order invoice summary").split()


def pdf_doc(rng: random.Random, url: str, n_pages: int, table_share: float,
            ruled_share: float = 1.0, title: str = "doc") -> Page:
    """A `build_pdf` document of `n_pages` body pages; each page carries
    a table with probability `table_share`. Tables are vector-ruled
    (lattice path) with probability `ruled_share`, else rule-free
    (the stream fallback). Expected text follows the datagen rule:
    body lines, then one line per table row with cells joined by a
    space, pages joined by newlines, then `clean_text`."""
    pages, tables, exp_parts = [], {}, []
    for p in range(n_pages):
        lines = [" ".join(rng.choice(_PDF_WORDS)
                          for _ in range(rng.randint(4, 10)))
                 for _ in range(rng.randint(8, 25))]
        pages.append(lines)
        page_exp = "\n".join(lines)
        if rng.random() < table_share:
            ncols, nrows = rng.randint(2, 5), rng.randint(2, 8)
            headers = [f"col{c}" for c in range(ncols)]
            rows = [[str(rng.randint(0, 9999)) for _ in range(ncols)]
                    for _ in range(nrows)]
            tables[p] = (headers, rows)
            page_exp += "\n" + "\n".join(" ".join(r) for r in [headers] + rows)
        exp_parts.append(page_exp)
    info = {"Title": title, "Producer": "perfbench"}
    draw_rules = rng.random() < ruled_share
    payload = build_pdf(pages, tables, info, draw_rules=draw_rules)
    return Page(url, payload, clean_text("\n".join(exp_parts)), "pdf")


def with_image_stream(pdf: bytes, n_bytes: int, rng: random.Random) -> bytes:
    """Append an incremental update holding one unreferenced,
    uncompressed DeviceGray image XObject of ~n_bytes seeded noise:
    byte-heavy, parse-light (no page draws it)."""
    size = int(pdf.rsplit(b"/Size ", 1)[1].split(None, 1)[0])
    prev = int(pdf.rsplit(b"startxref", 1)[1].split()[0])
    root = pdf.rsplit(b"/Root ", 1)[1].split(b" R", 1)[0] + b" R"
    side = int(math.sqrt(n_bytes))
    body = rng.randbytes(side * side)
    out = bytearray(pdf)
    off = len(out)
    out += (b"%d 0 obj\n<< /Type /XObject /Subtype /Image /Width %d "
            b"/Height %d /ColorSpace /DeviceGray /BitsPerComponent 8 "
            b"/Length %d >>\nstream\n" % (size, side, side, len(body)))
    out += body + b"\nendstream\nendobj\n"
    xref = len(out)
    out += b"xref\n%d 1\n%010d 00000 n \n" % (size, off)
    out += (b"trailer\n<< /Size %d /Root %s /Prev %d >>\nstartxref\n%d\n"
            b"%%%%EOF\n" % (size + 1, root, prev, xref))
    return bytes(out)


# ------------------------------------------------------------- workloads

def html_crawl_pages(seed: int, n: int) -> List[Page]:
    return [html_page(seed, i, f"https://crawl.example/{seed}/p/{i:07d}")
            for i in range(n)]


#: pdf_tables: exactly LONG_SHARE of documents run LONG_PAGES pages
LONG_SHARE = 0.01
LONG_PAGES = (200, 300)


def pdf_tables_pages(seed: int, n: int) -> List[Page]:
    """PDFs of 1-4 pages; the long ones sit at even strides, so every
    prefix of the list (the warm-up, the traced sample) holds its
    share of them."""
    n_long = round(n * LONG_SHARE)
    long_ix = {int((k + 0.5) * n / n_long) for k in range(n_long)}
    out = []
    for i in range(n):
        drng = random.Random(f"pdf_tables:{seed}:{i}")
        n_pages = (drng.randint(*LONG_PAGES) if i in long_ix
                   else drng.randint(1, 4))
        out.append(pdf_doc(drng, f"https://docs.example/{seed}/d/{i:07d}",
                           n_pages, table_share=0.6, ruled_share=0.5,
                           title=f"pdf-{i}"))
    return out


#: crawl_job: share of rows that copy an earlier row's payload
DUP_SHARE = 0.2
HEAVY_DOCS = 2
HEAVY_EXTRA = DEFAULT_HEAVY_BYTES + (1 << 19)


def crawl_job_pages(seed: int, n: int) -> List[Page]:
    """3:1 HTML:PDF, DUP_SHARE exact-duplicate payloads at fresh urls,
    HEAVY_DOCS PDFs padded past the heavy-tier cutoff (never
    duplicated, so the heavy share of input bytes is fixed)."""
    rng = random.Random(f"crawl_job:{seed}")
    n_dup = int(n * DUP_SHARE)
    n_orig = n - n_dup
    heavy_ix = set(rng.sample(
        [i for i in range(n_orig) if i % 4 == 3], HEAVY_DOCS))
    out: List[Page] = []
    for i in range(n_orig):
        url = f"https://mix.example/{seed}/u/{i:07d}"
        if i % 4 == 3:
            drng = random.Random(f"crawl_job:{seed}:{i}")
            page = pdf_doc(drng, url, drng.randint(1, 4), table_share=0.5,
                           ruled_share=0.5, title=f"mix-{i}")
            if i in heavy_ix:
                page.payload = with_image_stream(page.payload, HEAVY_EXTRA,
                                                 drng)
        else:
            page = html_page(seed, i, url)
        out.append(page)
    light = [p for p in out if len(p.payload) < DEFAULT_HEAVY_BYTES]
    for j in range(n_dup):
        src = light[rng.randrange(len(light))]
        out.append(Page(f"https://mirror.example/{seed}/m/{j:07d}",
                        src.payload, src.expected_text, src.kind,
                        src.charset))
    rng.shuffle(out)
    return out


def stream_file_pages(seed: int, file_no: int, n: int) -> List[Page]:
    """One small landing file: 3:1 HTML:PDF, short documents."""
    out = []
    for k in range(n):
        i = file_no * n + k
        url = f"https://live.example/{seed}/s/{i:08d}"
        if k % 4 == 3:
            drng = random.Random(f"stream:{seed}:{i}")
            out.append(pdf_doc(drng, url, drng.randint(1, 2), table_share=0.3,
                               title=f"live-{i}"))
        else:
            raw, expected = make_html_page(seed, i)
            out.append(Page(url, raw, clean_text(expected), "html", "utf-8"))
    return out


# ----------------------------------------------------------- parquet I/O

PAGES_ARROW_SCHEMA = pa.schema([("url", pa.string()), ("html", pa.binary())])


def write_pages(pages: List[Page], path: str, n_files: int = 1) -> None:
    """Land pages as `n_files` parquet files in directory `path` (each
    file written to a dot-name first and renamed, so a streaming
    source never lists a half-written file)."""
    os.makedirs(path, exist_ok=True)
    step = max(1, math.ceil(len(pages) / n_files))
    for f, start in enumerate(range(0, len(pages), step)):
        chunk = pages[start:start + step]
        table = pa.table({"url": [p.url for p in chunk],
                          "html": [p.payload for p in chunk]},
                         schema=PAGES_ARROW_SCHEMA)
        name = f"part-{f:05d}-{zlib.crc32(chunk[0].url.encode()):08x}.parquet"
        tmp = os.path.join(path, "." + name)
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(path, name))


def payload_bytes(pages: List[Page]) -> int:
    return sum(len(p.payload) for p in pages)
