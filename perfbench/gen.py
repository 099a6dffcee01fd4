"""Seeded input generators for the benchmark's inputs.

Every generator is a pure function of its seed: the same seed gives
byte-identical rows, and a different seed gives different rows with the
same shape.  Sizes and class counts are stratified (one draw per
quantile slot, jittered inside the slot, then shuffled), so the total
work of a shard barely moves between seeds while every payload differs.

* ``html_pages``   — Common-Crawl-like HTML: 3 KB to 300 KB, a fixed
  tail above 1 MiB, a third non-UTF-8 with a meta charset, varied
  boilerplate and link density.
* ``pdf_docs``     — distinct PDFs built with ``fixtures.gen.PdfBuilder``:
  Flate text documents of 1 to 60 pages, xref-stream/ObjStm documents,
  ToUnicode documents, table pages, malformed documents, large-but-cheap
  image-stream documents and small-but-costly dense documents.
* ``curate_rows``  — an extracted table in ``OUTPUT_COLUMNS`` shape with
  planted spam URLs, decode errors, host banners, exact duplicates,
  near-duplicate clusters and repeated spans.

Rows are written with pyarrow, so the program sees only parquet.
"""

from __future__ import annotations

import math
import random
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fixtures.gen import PdfBuilder

MIB = 1 << 20
BASE_TS_US = 1_735_689_600_000_000  # 2025-01-01T00:00:00Z
ROW_GROUP_ROWS = 4  # many small row groups, so scan splits balance by bytes

# English-like vocabulary: stopwords keep the curate quality floor
# meaningful, content words make the text read like prose.
STOPWORDS = (
    "the of and to in a is that for it as was with be by on not he this are "
    "or his from at which but have an they you were her she there been one "
    "all we their has would when if so no will can more about its into than"
).split()
CONTENT = (
    "data system network model market policy energy water city school health "
    "research study result method report growth price value team season game "
    "player music film story book history science language computer software "
    "service product company business community government council election "
    "program project process design analysis control power force light sound "
    "river mountain island forest garden village street bridge station museum "
    "church castle harbor valley coast desert climate weather storm summer "
    "winter spring autumn morning evening number letter record channel signal "
    "engine vehicle aircraft vessel railway highway airport factory industry "
    "farmer worker student teacher doctor artist author leader member partner "
    "article chapter section figure table source review survey sample measure "
    "increase decrease develop improve support provide include require create "
    "describe explain consider suggest publish release announce establish"
).split()
VOCAB = STOPWORDS + CONTENT

# non-UTF-8 pages: (meta label, python codec, words encodable in it)
CHARSETS = (
    ("windows-1252", "cp1252", tuple("café naïve résumé façade “quoted” déjà—vu".split())),
    ("iso-8859-2", "iso8859_2", tuple("łódź źródło część miasto rzeka żółty".split())),
    ("koi8-r", "koi8_r", tuple("привет данные текст город история наука".split())),
    ("shift_jis", "shift_jis", tuple("データ テキスト 東京 研究 歴史 音楽".split())),
)


def _stratified(rng: random.Random, n: int) -> list[float]:
    """n draws in [0, 1), one per equal-width slot, in random order."""
    u = [(i + rng.random()) / n for i in range(n)]
    rng.shuffle(u)
    return u


class Source:
    """A seeded python ``Random`` for structure plus numpy word streams
    for prose: drawing words in blocks of 64k keeps generating a
    25 MB shard well under a second."""

    BLOCK = 1 << 16

    def __init__(self, label: str):
        self.rng = random.Random(label)
        self._np = np.random.default_rng(zlib.crc32(label.encode()))
        self._streams: dict[tuple, list] = {}

    def words(self, n: int, extra: tuple[str, ...] = ()) -> str:
        buf, pos = self._streams.get(extra, ([], 0))
        if pos + n > len(buf):
            vocab = np.array(VOCAB + list(extra))
            fresh = vocab[self._np.integers(0, len(vocab), max(n, self.BLOCK))]
            buf, pos = buf[pos:] + fresh.tolist(), 0
        self._streams[extra] = (buf, pos + n)
        return " ".join(buf[pos:pos + n])

    def between(self, lo: int, hi: int) -> int:
        """Uniform in [lo, hi]; cheaper than ``Random.randint``."""
        return lo + int(self.rng.random() * (hi - lo + 1))

    def pick(self, seq):
        return seq[int(self.rng.random() * len(seq))]

    def sentence(self, extra: tuple[str, ...] = ()) -> str:
        s = self.words(8 + int(self.rng.random() * 13), extra)
        return s[0].upper() + s[1:] + "."


def _write(path: str, schema: pa.Schema, rows: list[tuple]) -> None:
    cols = list(zip(*rows))
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )
    pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS)


PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def write_pages(path: str, docs: list[tuple[str, bytes]]) -> None:
    """(url, payload) pairs → a pages-table parquet file."""
    rows = [
        (url, BASE_TS_US + i * 1_000_000, data, "", "en")
        for i, (url, data) in enumerate(docs)
    ]
    _write(path, PAGES_SCHEMA, rows)


# ------------------------------------------------------------------ HTML


def _html_page(src: Source, url: str, target: int,
               charset: tuple | None) -> bytes:
    rng = src.rng
    label, codec, extra = charset or ("utf-8", "utf-8", ())
    link_density = rng.random() * 0.6
    boiler = src.between(1, 4)
    host = url.split("/")[2]

    def links(n: int) -> str:
        return " ".join(
            f"<a href='/{src.pick(CONTENT)}/{src.between(0, 10**6 - 1)}'>"
            f"{src.words(src.between(1, 3))}</a>"
            for _ in range(n)
        )

    def paragraph() -> str:
        s = src.words(src.between(25, 90), extra)
        s = s[0].upper() + s[1:] + "."
        r = rng.random()
        if r < link_density * 0.5:
            s = f"{s} {links(src.between(1, 3))}"
        elif r < 0.3:
            s = f"<b>{s}</b>"
        elif r < 0.4:
            s = f"<em>{s}</em> <span class='n'>{src.between(0, 999)}</span>"
        return f"<p>{s}</p>"

    head = [
        "<!DOCTYPE html><html><head>",
        f'<meta charset="{label}">' if rng.random() < 0.5 else
        f'<meta http-equiv="Content-Type" content="text/html; charset={label}">',
        f"<title>{src.words(5)} | {host}</title>",
        "<style>body{margin:0} .nav a{padding:4px} .n{color:#888}</style>",
        f"<script>var cfg={{id:{src.between(0, 10**9 - 1)},ads:true}};</script>",
        "</head><body>",
    ]
    chrome = [
        f"<header><div class='banner'>{host} {src.words(6)}</div>",
        f"<nav class='nav'>{links(src.between(5, 25))}</nav></header>",
    ]
    for _ in range(boiler - 1):
        chrome.append(f"<div class='widget'>{links(src.between(4, 12))}</div>")
    body = [f"<main><article><h1>{src.words(src.between(3, 8))}</h1>"]
    tail = [
        "</article>",
        f"<aside><h3>Related</h3>{links(src.between(3, 15))}</aside></main>",
        f"<footer>Copyright {src.between(1998, 2025)} {host}. "
        f"{links(src.between(2, 6))}</footer>",
        f"<!-- {url} -->",
        "</body></html>",
    ]
    size = sum(len(s) for s in head + chrome + body + tail)
    while size < target:
        r = rng.random()
        if r < 0.12:
            block = f"<h2>{src.words(src.between(2, 7))}</h2>"
        elif r < 0.16:
            cells = "".join(
                "<tr>" + "".join(
                    f"<td>{src.pick(CONTENT)}</td><td>{src.between(0, 10**4 - 1)}</td>"
                    for _ in range(3)) + "</tr>"
                for _ in range(src.between(2, 6))
            )
            block = f"<table>{cells}</table>"
        elif r < 0.16 + link_density * 0.3:
            block = f"<ul>{''.join(f'<li>{links(1)}</li>' for _ in range(5))}</ul>"
        else:
            block = paragraph()
        body.append(block)
        size += len(block)
    return "".join(head + chrome + body + tail).encode(codec)


def html_pages(seed: int, shard: int = 0,
               scale: float = 1.0) -> list[tuple[str, bytes]]:
    """300 pages of 3-300 KB (log-uniform) plus 3 pages of 1.05-1.6 MiB,
    times ``scale``; a third of all pages are non-UTF-8.  The size law
    and the 1% heavy share are assumptions (see README.md)."""
    src = Source(f"html-crawl/{seed}/{shard}")
    rng = src.rng
    n, n_heavy = round(300 * scale), max(1, round(3 * scale))
    total = n + n_heavy
    sizes = [int(3000 * math.exp(u * math.log(100))) for u in _stratified(rng, n)]
    sizes += [int(MIB * (1.05 + 0.55 * u)) for u in _stratified(rng, n_heavy)]
    non_utf8 = set(rng.sample(range(total), total // 3))
    docs = []
    for i, target in enumerate(sizes):
        host = f"www.{src.pick(CONTENT)}{src.between(0, 99)}.example"
        url = f"https://{host}/s{shard}/{src.pick(CONTENT)}/{i}.html"
        cs = CHARSETS[i % len(CHARSETS)] if i in non_utf8 else None
        docs.append((url, _html_page(src, url, target, cs)))
    rng.shuffle(docs)
    return docs


# ------------------------------------------------------------------- PDF


def _text_content(src: Source, lines: int, dense: bool) -> bytes:
    """One page of content: a heading, then 12pt body lines in
    paragraphs.  ``dense`` lines are per-word kerned TJ arrays, the
    costly shape real typeset PDFs have."""
    rng = src.rng
    parts = [b"BT /F1 18 Tf 1 0 0 1 72 750 Tm (%s) Tj"
             % src.words(src.between(3, 6)).encode()]
    kerns = [b"-%d" % src.between(150, 300) for _ in range(16)]
    y = 720
    for j in range(lines):
        if rng.random() < 0.08:
            y -= 14  # paragraph gap
        text = src.words(src.between(8, 14))
        if dense:
            arr = b" ".join(b"(%s) %s" % (w.encode(), kerns[k % 16])
                            for k, w in enumerate(text.split()))
            parts.append(b"/F1 10 Tf 1 0 0 1 60 %d Tm [%s] TJ" % (y, arr))
        else:
            parts.append(b"/F1 12 Tf 1 0 0 1 72 %d Tm (%s) Tj" % (y, text.encode()))
        y -= 10 if dense else 14
        if y < 40:
            y = 720
    parts.append(b"ET")
    return b"\n".join(parts)


def _table_content(src: Source) -> bytes:
    rng = src.rng
    xs = (60, 170, 300, 420)
    parts = [b"BT"]
    for r in range(src.between(5, 20)):
        y = 720 - 20 * r
        for x in xs:
            cell = src.pick(CONTENT) if x == 60 else f"{rng.uniform(-999, 9999):.2f}"
            parts.append(b"/F1 10 Tf 1 0 0 1 %d %d Tm (%s) Tj" % (x, y, cell.encode()))
    parts.append(b"ET")
    return b" ".join(parts)


def _pdf_pages(contents: list[bytes], *, font: bytes | None = None,
               font_program: bytes = b"", image: bytes | None = None,
               extra: dict | None = None) -> bytes:
    """Classic-xref PDF, one Flate content stream per page.  A
    ``font_program`` is embedded as the Type1 font's FontFile; the
    engine never decodes it."""
    b = PdfBuilder()
    n = len(contents)
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    kids = b" ".join(b"%d 0 R" % (10 + 2 * i) for i in range(n))
    b.add(2, b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, n))
    if font is None and font_program:
        font = (b"<< /Type /Font /Subtype /Type1 /BaseFont /BenchSerif "
                b"/FontDescriptor 6 0 R >>")
        b.add(6, b"<< /Type /FontDescriptor /FontName /BenchSerif /Flags 34 "
                 b"/FontFile 7 0 R >>")
        b.add_stream(7, b"/Length1 %d /Length2 0 /Length3 0" % len(font_program),
                     font_program)
    b.add(3, font or b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    xobj = b""
    if image is not None:
        b.add_stream(5, b"/Type /XObject /Subtype /Image /Width 1024 /Height %d "
                        b"/ColorSpace /DeviceRGB /BitsPerComponent 8"
                     % (len(image) // 3072), image, filters=b"/DCTDecode")
        xobj = b" /XObject << /Im1 5 0 R >>"
    for num, body in (extra or {}).items():
        b.add(num, body)
    for i, content in enumerate(contents):
        page, stream = 10 + 2 * i, 11 + 2 * i
        b.add(page, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                    b"/Contents %d 0 R /Resources << /Font << /F1 3 0 R >>%s >> >>"
              % (stream, xobj))
        b.add_stream(stream, b"", zlib.compress(content, 1), filters=b"/FlateDecode")
    return b.build()


def _objstm_pdf(contents: list[bytes]) -> bytes:
    """PDF 1.5: catalog, page tree and page dicts inside a Flate
    /ObjStm, indexed by an xref stream."""
    n = len(contents)
    inner = [(1, b"<< /Type /Catalog /Pages 2 0 R >>"),
             (2, b"<< /Type /Pages /Kids [%s] /Count %d >>"
              % (b" ".join(b"%d 0 R" % (4 + i) for i in range(n)), n))]
    for i in range(n):
        inner.append((4 + i, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                             b"/Contents %d 0 R /Resources << /Font << /F1 3 0 R >> >> >>"
                      % (4 + n + i)))
    header, bodies = [], b""
    for num, body in inner:
        header.append(b"%d %d" % (num, len(bodies)))
        bodies += body + b" "
    head = b" ".join(header) + b"\n"
    objstm = zlib.compress(head + bodies)
    stm_num = 4 + 2 * n
    out = bytearray(b"%PDF-1.5\n")
    offsets = {}
    offsets[3] = len(out)
    out += b"3 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\nendobj\n"
    for i, content in enumerate(contents):
        num = 4 + n + i
        data = zlib.compress(content, 1)
        offsets[num] = len(out)
        out += (b"%d 0 obj\n<< /Length %d /Filter /FlateDecode >>\nstream\n"
                % (num, len(data)) + data + b"\nendstream\nendobj\n")
    offsets[stm_num] = len(out)
    out += (b"%d 0 obj\n<< /Type /ObjStm /N %d /First %d /Length %d "
            b"/Filter /FlateDecode >>\nstream\n"
            % (stm_num, len(inner), len(head), len(objstm))
            + objstm + b"\nendstream\nendobj\n")
    xref_num = stm_num + 1
    xref_off = len(out)
    in_stm = {num: idx for idx, (num, _) in enumerate(inner)}
    rows = bytearray()
    for num in range(xref_num + 1):
        if num in in_stm:
            t, f2, f3 = 2, stm_num, in_stm[num]
        elif num in offsets:
            t, f2, f3 = 1, offsets[num], 0
        elif num == xref_num:
            t, f2, f3 = 1, xref_off, 0
        else:
            t, f2, f3 = 0, 0, 0
        rows += bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
    xdata = zlib.compress(bytes(rows))
    out += (b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R "
            b"/Filter /FlateDecode /Length %d >>\nstream\n"
            % (xref_num, xref_num + 1, len(xdata)) + xdata + b"\nendstream\nendobj\n")
    out += b"startxref\n%d\n%%%%EOF\n" % xref_off
    return bytes(out)


def _tounicode_pdf(src: Source, pages: int) -> bytes:
    """Type0 font whose ToUnicode CMap maps 2-byte CIDs to a shuffled
    alphabet; the content is hex strings of CIDs."""
    rng = src.rng
    alphabet = sorted(set("".join(VOCAB) + " "))
    cids = list(range(0x100, 0x100 + len(alphabet)))
    rng.shuffle(cids)
    to_cid = dict(zip(alphabet, cids))
    bf = b"".join(b"<%04X> <%04X>\n" % (to_cid[c], ord(c)) for c in alphabet)
    cmap = (b"/CIDInit /ProcSet findresource begin\nbegincmap\n"
            b"%d beginbfchar\n%sendbfchar\nendcmap end\n" % (len(alphabet), bf))
    contents = []
    for _ in range(pages):
        parts = [b"BT /F1 12 Tf"]
        for j in range(src.between(10, 30)):
            hexs = "".join(f"{to_cid[c]:04X}" for c in src.words(src.between(6, 12)))
            parts.append(b"1 0 0 1 72 %d Tm <%s> Tj" % (740 - 16 * j, hexs.encode()))
        parts.append(b"ET")
        contents.append(b"\n".join(parts))
    cm = zlib.compress(cmap)
    return _pdf_pages(
        contents,
        font=b"<< /Type /Font /Subtype /Type0 /BaseFont /Bench /ToUnicode 4 0 R >>",
        extra={4: b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(cm)
               + cm + b"\nendstream"},
    )


def _malformed_pdf(src: Source, kind: int) -> bytes:
    rng = src.rng
    good = _pdf_pages([_text_content(src, 20, False)])
    if kind == 0:  # truncated: no startxref in the tail
        return good[: len(good) // 2]
    if kind == 1:  # startxref points into the middle of an object
        return good[: good.rindex(b"startxref")] + b"startxref\n17\n%%EOF\n"
    if kind == 2:  # corrupt Flate payload: a zlib header, then a reserved block type
        empty = zlib.compress(b"", 1)  # the level _pdf_pages writes
        bad = (empty[:2] + bytes([rng.randrange(256) | 0x06])
               + rng.randbytes(len(empty) - 3))
        data = _pdf_pages([b""])
        assert data.count(b"stream\n" + empty + b"\n") == 1
        return data.replace(b"stream\n" + empty + b"\n", b"stream\n" + bad + b"\n")
    # an LZW content stream: outside the reference filter set
    return good.replace(b"/Filter /FlateDecode", b"/Filter /LZWDecode", 1)


# class → share of a pdf-mixed shard.  Malformed is held at the 2% the
# workload asks for; the other shares are assumptions of this benchmark,
# not measured from real traffic (see README.md, "Assumptions").
PDF_MIX = (
    ("text", 0.66),
    ("objstm", 0.08),
    ("tounicode", 0.06),
    ("table", 0.08),
    ("dense", 0.08),
    ("image", 0.02),
    ("malformed", 0.02),
)


def pdf_docs(seed: int, shard: int = 0,
             scale: float = 1.0) -> list[tuple[str, bytes]]:
    """200 distinct PDFs in the ``PDF_MIX`` proportions, times ``scale``."""
    src = Source(f"pdf-mixed/{seed}/{shard}")
    rng = src.rng
    n = round(200 * scale)
    kinds: list[str] = []
    for kind, share in PDF_MIX:
        kinds += [kind] * max(1, round(share * n))
    kinds = (kinds + ["text"] * n)[:n]
    by_kind: dict[str, list[float]] = {k: _stratified(rng, kinds.count(k))
                                        for k, _ in PDF_MIX}
    docs = []
    for i, kind in enumerate(kinds):
        u = by_kind[kind].pop()
        font = rng.randbytes(src.between(16, 64) << 10)
        if kind == "text":
            pages = 1 + int(u * 60)
            data = _pdf_pages([_text_content(src, src.between(20, 45), False)
                               for _ in range(pages)], font_program=font)
        elif kind == "objstm":
            data = _objstm_pdf([_text_content(src, src.between(15, 40), False)
                                for _ in range(1 + int(u * 8))])
        elif kind == "tounicode":
            data = _tounicode_pdf(src, 1 + int(u * 6))
        elif kind == "table":
            data = _pdf_pages([_table_content(src) for _ in range(1 + int(u * 5))],
                              font_program=font)
        elif kind == "dense":
            data = _pdf_pages([_text_content(src, 70, True)
                               for _ in range(10 + int(u * 15))], font_program=font)
        elif kind == "image":
            image = rng.randbytes(int(MIB * (1.05 + 0.3 * u)))
            data = _pdf_pages([_text_content(src, 25, False)
                               for _ in range(1 + int(u * 3))], image=image)
        else:
            data = _malformed_pdf(src, int(u * 4))
        url = f"https://docs{src.between(0, 49)}.example/s{shard}/{kind}/{i}.pdf"
        docs.append((url, data))
    rng.shuffle(docs)
    return docs


# ---------------------------------------------------------------- curate

SPAN_TYPE = pa.list_(pa.struct([("start", pa.int64()), ("end", pa.int64()),
                                ("kind", pa.string())]))
EXTRACTED_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("text_extracted", pa.string()),
        ("spans", SPAN_TYPE),
        ("n_pages", pa.int32()),
        ("n_elements", pa.int32()),
        ("doc_type", pa.string()),
        ("decode_error", pa.string()),
        ("decode_error_kind", pa.string()),
        ("size_class", pa.string()),
    ]
)

# planted shares of a curate table: assumptions, not measurements
CURATE_MIX = (
    ("spam", 0.05),
    ("error", 0.04),
    ("short", 0.05),
    ("exact", 0.10),
    ("near", 0.12),
)
VIRAL = [
    " ".join(random.Random(f"viral/{k}").choices(CONTENT, k=14)) for k in range(4)
]


def curate_rows(seed: int, shard: int = 0,
                scale: float = 1.0) -> tuple[list[tuple], dict]:
    """An extracted table of 1500 rows times ``scale``, and the planted
    truth (``spam_urls``, ``error_urls``, ``exact_groups``)."""
    src = Source(f"curate-funnel/{seed}/{shard}")
    rng = src.rng
    n = round(1500 * scale)
    n_hosts = max(4, n // 25)
    hosts = [f"site{h}-{src.pick(CONTENT)}.example" for h in range(n_hosts)]
    banners = {
        h: f"{h.upper()} | {src.words(4).upper()} | HOME NEWS CONTACT |"
        for h in hosts if rng.random() < 0.6
    }
    counts = {k: round(s * n) for k, s in CURATE_MIX}
    n_base = n - sum(counts.values())
    truth = {"spam_urls": [], "error_urls": [], "exact_groups": [], "near_urls": []}

    def body() -> str:
        text = " ".join(src.sentence() for _ in range(src.between(6, 30)))
        if rng.random() < 0.15:
            toks = text.split(" ")
            at = rng.randrange(len(toks))
            text = " ".join(toks[:at] + [rng.choice(VIRAL)] + toks[at:])
        return text

    def row(url: str, host: str, text: str, error: str | None = None) -> tuple:
        if host in banners and text:
            text = banners[host] + " " + text
        spans = [{"start": 0, "end": len(text), "kind": "paragraph"}] if text else []
        kind = "pdf" if url.endswith(".pdf") else "html"
        return (url, BASE_TS_US + src.between(0, 10**9 - 1) * 1000, text, spans,
                1, len(spans), kind, error, "xref" if error else None, "normal")

    rows, bases = [], []
    for i in range(n_base):
        host = rng.choice(hosts)
        text = body()
        bases.append((host, text))
        rows.append(row(f"https://{host}/a/{src.pick(CONTENT)}-{i}", host, text))
    for i in range(counts["spam"]):
        host = rng.choice(hosts)
        url = (f"https://{host}/p/{rng.randrange(10**9, 10**10)}/item/"
               f"{rng.randrange(10**9, 10**10)}")
        truth["spam_urls"].append(url)
        rows.append(row(url, host, body()))
    for i in range(counts["error"]):
        host = rng.choice(hosts)
        url = f"https://{host}/f/{src.pick(CONTENT)}-{i}.pdf"
        truth["error_urls"].append(url)
        rows.append(row(url, host, "", error="Invalid xref entry"))
    for i in range(counts["short"]):
        host = rng.choice(hosts)
        text = src.words(src.between(1, 3)) if i % 2 else " ".join(
            str(src.between(0, 10**6 - 1)) for _ in range(20))
        rows.append(row(f"https://{host}/s/short-{i}", host, text))
    for i in range(counts["exact"]):
        j = rng.randrange(len(bases))
        host, text = bases[j]
        url = f"https://{host}/mirror/{src.pick(CONTENT)}-{i}"
        truth["exact_groups"].append([rows[j][0], url])
        rows.append(row(url, host, text))
    for i in range(counts["near"]):
        host, text = bases[rng.randrange(len(bases))]
        toks = text.split(" ")
        for _ in range(max(1, len(toks) // 80)):
            toks[rng.randrange(len(toks))] = src.pick(CONTENT)
        url = f"https://{host}/near/{src.pick(CONTENT)}-{i}"
        truth["near_urls"].append(url)
        rows.append(row(url, host, " ".join(toks)))
    rng.shuffle(rows)
    return rows, truth


def write_extracted(path: str, rows: list[tuple]) -> None:
    _write(path, EXTRACTED_SCHEMA, rows)


# ------------------------------------------------------- input properties


def describe_pages(docs: list[tuple[str, bytes]]) -> dict:
    """The properties of a pages shard that the extraction cost depends
    on; shares are of all docs (non-UTF-8: of the HTML docs)."""
    n = len(docs)
    html = [d for _, d in docs if d[:5] != b"%PDF-"]

    def utf8(d: bytes) -> bool:
        try:
            d.decode("utf-8")
            return True
        except UnicodeDecodeError:
            return False

    return {
        "docs": n,
        "bytes": sum(len(d) for _, d in docs),
        "heavy_share": sum(len(d) > MIB for _, d in docs) / n,
        "non_utf8_share": sum(not utf8(d) for d in html) / len(html) if html else 0.0,
        "malformed_share": sum("/malformed/" in u for u, _ in docs) / n,
        "exact_dup_share": 1 - len({d for _, d in docs}) / n,
    }


def describe_curate(rows: list[tuple], truth: dict) -> dict:
    n = len(rows)
    return {
        "rows": n,
        "bytes": sum(len(r[2].encode()) for r in rows),
        "spam_share": len(truth["spam_urls"]) / n,
        "decode_error_share": len(truth["error_urls"]) / n,
        "exact_dup_share": len(truth["exact_groups"]) / n,
        "near_dup_share": len(truth["near_urls"]) / n,
    }
