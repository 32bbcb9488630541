"""PDF text/layout extraction (the north rule's "PDF/layout parse").

A from-scratch minimal-but-real PDF text extractor over stdlib only:

- object/stream scanning directly on the bytes (no xref needed — the
  robust path for truncated crawl PDFs),
- FlateDecode via zlib,
- content-stream tokenizer for the text operators: BT/ET blocks,
  Tj / ' / " (literal + hex strings, escape sequences, octal), TJ
  arrays with kerning numbers, Td/TD/T*/Tm line movement → newlines.

Layout model: each BT block is a paragraph candidate; line-movement
operators inside a block emit newlines; the final text is
whitespace-normalized per line. This covers the linearized
text-extraction subset that a Common-Crawl PDF pipeline needs; images,
encryption and CID-keyed fonts are out of scope (rows with no
extractable text return empty, never raise).

Spark surface: ``extract_pdf_pages`` maps (url, pdf) → (url, pdf_text,
n_text_ops) through one mapInArrow stage (the payload-stage shell
``kernel.map_rows``), one output row per input row.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from .kernel import map_rows

PDF_TEXT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("pdf_text", StringType()),
    StructField("n_text_ops", IntegerType()),
])

_RX_STREAM_KW = re.compile(rb"stream\r?\n")

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _decode_literal(raw: bytes) -> bytes:
    """PDF literal-string body → bytes (escapes + octal)."""
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        c = raw[i:i + 1]
        if c != b"\\":
            out += c
            i += 1
            continue
        nxt = raw[i + 1:i + 2]
        if nxt in _ESCAPES:
            out += _ESCAPES[nxt]
            i += 2
        elif nxt.isdigit():
            j = i + 1
            while j < min(i + 4, n) and raw[j:j + 1].isdigit():
                j += 1
            out.append(int(raw[i + 1:j], 8) & 0xFF)
            i = j
        elif nxt == b"\n":
            i += 2  # line continuation
        else:
            i += 1  # lone backslash: drop
    return bytes(out)


def _content_streams(pdf: bytes) -> list[bytes]:
    """All stream payloads, Flate-decoded when marked. Stream length is
    taken from the literal `endstream` scan (robust to wrong /Length)."""
    streams: list[bytes] = []
    for m in _RX_STREAM_KW.finditer(pdf):
        start = m.end()
        end = pdf.find(b"endstream", start)
        if end < 0:
            continue
        body = pdf[start:end]
        # the nearest dict before the stream keyword declares the filter
        head = pdf[max(0, m.start() - 512):m.start()]
        ddict = head[head.rfind(b"<<"):]
        if b"/FlateDecode" in ddict:
            # decompressobj tolerates the EOL bytes the writer appends
            # after the deflate data (a plain strip could eat a real
            # trailing data byte).
            try:
                d = zlib.decompressobj()
                body = d.decompress(body) + d.flush()
            except zlib.error:
                continue
        else:
            if body.endswith(b"\r\n"):
                body = body[:-2]
            elif body.endswith(b"\n"):
                body = body[:-1]
        streams.append(body)
    return streams


def _tokenize_text_ops(stream: bytes):
    """Yield ("text", bytes) / ("newline", None) events from one
    content stream."""
    i, n = 0, len(stream)
    in_text = False
    pending: list[bytes] = []  # operand stack of decoded strings

    while i < n:
        c = stream[i:i + 1]
        if c == b"(":
            # literal string with nesting
            depth = 1
            j = i + 1
            buf = bytearray()
            while j < n and depth:
                cj = stream[j:j + 1]
                if cj == b"\\":
                    buf += stream[j:j + 2]
                    j += 2
                    continue
                if cj == b"(":
                    depth += 1
                elif cj == b")":
                    depth -= 1
                    if depth == 0:
                        break
                buf += cj
                j += 1
            pending.append(_decode_literal(bytes(buf)))
            i = j + 1
            continue
        if c == b"<" and stream[i + 1:i + 2] != b"<":
            j = stream.find(b">", i)
            if j < 0:
                break
            hexbody = re.sub(rb"\s", b"", stream[i + 1:j])
            if len(hexbody) % 2:
                hexbody += b"0"
            try:
                pending.append(bytes.fromhex(hexbody.decode("ascii")))
            except ValueError:
                pass
            i = j + 1
            continue
        if c.isalpha() or c in (b"'", b'"'):
            j = i
            while j < n and (stream[j:j + 1].isalpha() or stream[j:j + 1] in (b"'", b'"', b"*")):
                j += 1
            op = stream[i:j]
            if op == b"BT":
                in_text = True
                pending.clear()
            elif op == b"ET":
                in_text = False
                pending.clear()
            elif in_text and op in (b"Tj", b"TJ"):
                yield from ((("text", s)) for s in pending)
                pending.clear()
            elif in_text and op in (b"'", b'"'):
                yield ("newline", None)
                for s in pending:
                    yield ("text", s)
                pending.clear()
            elif in_text and op in (b"Td", b"TD", b"T*", b"Tm"):
                yield ("newline", None)
                pending.clear()
            else:
                # any other operator consumes its operands
                pending.clear()
            i = j
            continue
        i += 1


def extract_pdf_text(pdf: bytes) -> tuple[str, int]:
    """→ (normalized text, number of emitted text strings). Lines are
    whitespace-collapsed; empty lines dropped; lines joined by
    newline."""
    if not pdf.startswith(b"%PDF"):
        return "", 0
    lines: list[str] = []
    cur: list[str] = []
    n_ops = 0
    for stream in _content_streams(pdf):
        if b"BT" not in stream:
            continue
        for kind, payload in _tokenize_text_ops(stream):
            if kind == "newline":
                if cur:
                    lines.append(" ".join(cur))
                    cur = []
            else:
                text = payload.decode("latin-1")
                if text.strip():
                    cur.append(" ".join(text.split()))
                    n_ops += 1
        if cur:
            lines.append(" ".join(cur))
            cur = []
    return "\n".join(lines), n_ops


def extract_pdf_pages(df: DataFrame, url_col: str = "url",
                      pdf_col: str = "pdf") -> DataFrame:
    """Spark stage: (url, pdf binary) → (url, pdf_text, n_text_ops).
    Never drops a row: a null or undecodable payload yields ("", 0)."""

    def text(url, payload):
        if payload is None:
            return [(url, "", 0)]
        try:
            return [(url, *extract_pdf_text(payload))]
        except Exception:
            return [(url, "", 0)]

    return map_rows(df, [df[url_col].alias("url"), df[pdf_col].alias("pdf")],
                    PDF_TEXT_SCHEMA, text)


# ---------------------------------------------------------------------------
# Deterministic PDF writer (fixture generation + tests; no external libs)
# ---------------------------------------------------------------------------

def predict_pdf_text(paragraphs: list[str]) -> tuple[str, int]:
    """Generator-side prediction of extract_pdf_text(build_pdf(...)):
    one line per sentence (build emits a Td line-move between
    sentences), text byte-identical to the input sentences. The op
    count prediction covers the Tj form (one op per sentence)."""
    lines: list[str] = []
    n_ops = 0
    for para in paragraphs:
        parts = para.split(". ")
        for k, sentence in enumerate(parts):
            if sentence and k < len(parts) - 1:
                sentence = sentence + "."
            if sentence.strip():
                lines.append(" ".join(sentence.split()))
                n_ops += 1
    return "\n".join(lines), n_ops


def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def build_pdf(paragraphs: list[str], compress: bool = False,
              use_tj_array: bool = False) -> bytes:
    """One-page PDF 1.4 with the given paragraphs as BT blocks.

    compress      → FlateDecode content stream
    use_tj_array  → emit TJ arrays with kerning numbers instead of Tj
    """
    blocks = []
    for para in paragraphs:
        parts = para.split(". ")
        ops = ["BT", "/F1 12 Tf", "72 720 Td"]
        for k, sentence in enumerate(parts):
            if k:
                ops.append("0 -14 Td")
            if sentence and k < len(parts) - 1:
                sentence = sentence + "."
            if use_tj_array:
                words = sentence.split(" ")
                arr = " -120 ".join(f"({_pdf_escape(w + ' ') if i < len(words) - 1 else _pdf_escape(w)})"
                                    for i, w in enumerate(words))
                ops.append(f"[{arr}] TJ")
            else:
                ops.append(f"({_pdf_escape(sentence)}) Tj")
        ops.append("ET")
        blocks.append("\n".join(ops))
    content = ("\n".join(blocks)).encode("latin-1")

    filt = b""
    if compress:
        content = zlib.compress(content)
        filt = b" /Filter /FlateDecode"

    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
         b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"),
        b"<< /Length " + str(len(content)).encode() + filt + b" >>\nstream\n"
        + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, obj in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + obj + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (b"trailer\n<< /Size " + str(len(objs) + 1).encode()
            + b" /Root 1 0 R >>\nstartxref\n" + str(xref_at).encode()
            + b"\n%%EOF\n")
    return bytes(out)
