"""PDF text extraction (north rule "PDF/layout parse"): parser unit
tests over deterministic in-repo PDFs — no external libs, stdlib zlib
only."""

import os
import sys
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_trafilatura_spark.pdf import build_pdf, extract_pdf_text, predict_pdf_text


def test_roundtrip_plain():
    text, n = extract_pdf_text(build_pdf(["Hello world. Second sentence."]))
    assert text == "Hello world.\nSecond sentence."
    assert n == 2


def test_roundtrip_flate():
    text, n = extract_pdf_text(build_pdf(["Compressed body here."], compress=True))
    assert text == "Compressed body here."
    assert n == 1


def test_roundtrip_tj_array():
    text, n = extract_pdf_text(build_pdf(["Alpha beta gamma."], use_tj_array=True))
    assert text == "Alpha beta gamma."
    assert n == 3  # one op per word in TJ form


def test_escapes_and_nesting():
    para = "Edge (case) with \\ backslash and (nested (parens))."
    text, _ = extract_pdf_text(build_pdf([para]))
    assert text == para


def test_multi_paragraph_lines():
    text, _ = extract_pdf_text(build_pdf(["One. Two.", "Three."]))
    assert text == "One.\nTwo.\nThree."


def test_predict_matches_extract():
    paras = ["First sentence here. And the second.", "Standalone."]
    for compress in (False, True):
        got, _ = extract_pdf_text(build_pdf(paras, compress=compress))
        want, _ = predict_pdf_text(paras)
        assert got == want


def test_hex_string():
    content = b"BT /F1 12 Tf 72 720 Td <48656C6C6F> Tj ET"
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(content)).encode()
           + b" >>\nstream\n" + content + b"\nendstream\nendobj\n%%EOF\n")
    text, n = extract_pdf_text(pdf)
    assert text == "Hello"
    assert n == 1


def test_quote_operator_newlines():
    content = b"BT (first) Tj (second) ' (third) ' ET"
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(content)).encode()
           + b" >>\nstream\n" + content + b"\nendstream\nendobj\n%%EOF\n")
    text, _ = extract_pdf_text(pdf)
    assert text == "first\nsecond\nthird"


def test_text_outside_bt_ignored():
    content = b"(stray) Tj BT (kept) Tj ET"
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(content)).encode()
           + b" >>\nstream\n" + content + b"\nendstream\nendobj\n%%EOF\n")
    text, n = extract_pdf_text(pdf)
    assert text == "kept"
    assert n == 1


def test_not_a_pdf():
    assert extract_pdf_text(b"<html>nope</html>") == ("", 0)
    assert extract_pdf_text(b"") == ("", 0)


def test_corrupt_flate_skipped():
    body = b"garbage that is not deflate"
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(body)).encode()
           + b" /Filter /FlateDecode >>\nstream\n" + body
           + b"\nendstream\nendobj\n%%EOF\n")
    assert extract_pdf_text(pdf) == ("", 0)


def test_truncated_pdf_no_endstream():
    good = build_pdf(["Complete text here."])
    cut = good[: good.find(b"endstream")]
    # must not raise; returns whatever is recoverable (here: nothing)
    text, _ = extract_pdf_text(cut)
    assert isinstance(text, str)


def test_spark_stage(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_trafilatura_spark.pdf import extract_pdf_pages
    from go_trafilatura_spark.pipeline import build_session

    pdfs = [build_pdf([f"Document number {i} body text."], compress=i % 2 == 1)
            for i in range(6)]
    path = os.path.join(tmp_path, "pdfs.parquet")
    pq.write_table(pa.table({
        "url": pa.array([f"u{i}" for i in range(6)]),
        "pdf": pa.array(pdfs, pa.binary()),
    }), path)

    # build_session, so the JVM-wide settings it owns (the generated-class
    # cache size) hold for every later session of the test process
    spark = build_session(app_name="pdf-tests", master="local[2]", shuffle_partitions=2)
    try:
        out = extract_pdf_pages(spark.read.parquet(path)).orderBy("url").collect()
    finally:
        spark.stop()
    assert len(out) == 6
    for i, row in enumerate(out):
        assert row.pdf_text == f"Document number {i} body text."
