"""In-process passes over the generated documents, timing the engine's
public calls one by one (the ``engine`` and ``html`` layers).

The PDF pass repeats ``Document.extract_page_text`` from its public
parts, so each part gets its own time:

* ``pdf.parse_ms``    ``Document.parse``, ``page_count``, ``get_page``
* ``pdf.inflate_ms``  ``Document.get_page_contents`` (``decode_stream``
                      on the page content streams)
* ``pdf.content_ms``  ``load_font_encodings`` + ``ContentParser.parse``
* ``pdf.layout_ms``   ``classify_spans``
* ``pdf.render_ms``   ``elements_to_txt``

The HTML pass times ``charset.sniff_decode``, ``strip.segment_blocks``
on the decoded text, and ``extract_html`` on the same text;
``html.classify_render_ms`` is the latter minus the segmentation it
repeats inside.  Each document is also run once through
``extract_document``, whose per-document times give ``*.doc_ms`` and
the total the layer times are compared against.

Each document is timed twice on each side, in the order layers,
``extract_document``, ``extract_document``, layers; the faster run of
each side is kept, so a burst of noise on one run does not skew the
comparison.
"""

from __future__ import annotations

import time

from pdf_parser_spark.engine import (
    ContentParser,
    Document,
    PdfError,
    classify_spans,
    elements_to_txt,
    extract_document,
)
from pdf_parser_spark.html.charset import sniff_decode
from pdf_parser_spark.html.strip import extract_html, segment_blocks

PDF_KEYS = ("pdf.parse_ms", "pdf.inflate_ms", "pdf.content_ms",
            "pdf.layout_ms", "pdf.render_ms")
HTML_KEYS = ("html.charset_ms", "html.segment_ms", "html.classify_render_ms")
COUNT_KEYS = ("pdf.inflated_bytes", "pdf.pages", "pdf.spans", "html.blocks")


def _pct(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


class _Clock:
    """Accumulates the time of each timed call of one document under a
    metric key, and keeps it as a span ``<layer>.<call>``."""

    def __init__(self):
        self.out: dict[str, float] = dict.fromkeys(
            PDF_KEYS + HTML_KEYS + COUNT_KEYS, 0.0)
        self.spans: list[tuple[str, float, float]] = []

    def __call__(self, key: str, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            t1 = time.perf_counter()
            self.out[key] += (t1 - t0) * 1e3
            self.spans.append((key.rsplit("_", 1)[0], t0, t1))

    def total_ms(self) -> float:
        return sum(self.out[k] for k in PDF_KEYS + HTML_KEYS)


def _pdf(data: bytes, clock: _Clock) -> None:
    out = clock.out
    try:
        doc = clock("pdf.parse_ms", Document.parse, data)
        n = clock("pdf.parse_ms", doc.page_count)
        for i in range(n):
            page = clock("pdf.parse_ms", doc.get_page, i)
            content = clock("pdf.inflate_ms", doc.get_page_contents, page)
            out["pdf.inflated_bytes"] += len(content)
            fonts = clock("pdf.content_ms", doc.load_font_encodings, page)
            spans = clock("pdf.content_ms",
                          lambda: ContentParser(content, fonts).parse())
            elements = clock("pdf.layout_ms", classify_spans, spans)
            clock("pdf.render_ms", elements_to_txt, elements)
            out["pdf.pages"] += 1
            out["pdf.spans"] += len(spans)
    except (PdfError, RecursionError):
        pass  # the document is an error row; its time so far still counts


def _html(data: bytes, clock: _Clock) -> None:
    out = clock.out
    text, _codec = clock("html.charset_ms", sniff_decode, data)
    t0 = time.perf_counter()
    blocks = segment_blocks(text)
    seg_ms = (time.perf_counter() - t0) * 1e3
    out["html.segment_ms"] += seg_ms
    out["html.blocks"] += len(blocks)
    t1 = time.perf_counter()
    extract_html(text)
    t2 = time.perf_counter()
    out["html.classify_render_ms"] += (t2 - t1) * 1e3 - seg_ms
    clock.spans.append(("html.segment", t0, t0 + seg_ms / 1e3))
    clock.spans.append(("html.classify_render", t1 + seg_ms / 1e3, t2))


def engine_pass(docs: list[bytes], tracer) -> dict[str, float]:
    """Layer times and counts over ``docs``, plus ``*.doc_ms`` quantiles
    of ``extract_document`` and the ratio of summed layer time to
    summed ``extract_document`` time."""
    out = dict.fromkeys(PDF_KEYS + HTML_KEYS + COUNT_KEYS, 0.0)
    doc_ms: dict[str, list[float]] = {"pdf": [], "html": []}
    for data in docs:
        is_pdf = data[:5] == b"%PDF-"
        layered = (_pdf if is_pdf else _html)
        clocks, whole_ms = [], []
        for step in ("layers", "doc", "doc", "layers"):
            if step == "layers":
                clocks.append(_Clock())
                layered(data, clocks[-1])
            else:
                t0 = time.perf_counter()
                extract_document(data)
                whole_ms.append((time.perf_counter() - t0) * 1e3)
        best = min(clocks, key=_Clock.total_ms)
        for k, v in best.out.items():
            out[k] += v
        for name, t0, t1 in best.spans:
            tracer.add(name, t0, t1)
        doc_ms["pdf" if is_pdf else "html"].append(min(whole_ms))
    for kind, ms in doc_ms.items():
        out[f"{kind}.doc_ms.p50"] = _pct(ms, 0.50)
        out[f"{kind}.doc_ms.p99"] = _pct(ms, 0.99)
    doc_total = sum(doc_ms["pdf"]) + sum(doc_ms["html"])
    layer_total = sum(out[k] for k in PDF_KEYS + HTML_KEYS)
    out["inproc.doc_total_ms"] = doc_total
    out["inproc.attributed_ratio"] = layer_total / doc_total if doc_total else 0.0
    return out
