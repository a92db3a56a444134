"""C1-C3 converter heuristics (pure text-layer computation; binary decode is
import-gated — SURVEY.md §2.9 / FIXTURES.md §6)."""

from __future__ import annotations

import pytest

from eget_spark.sources.converters import (
    format_cell,
    heading_level,
    is_heading,
    is_list_item,
    parse_table_text,
    pdf_date_to_iso,
    pdf_text_to_spans,
)


def test_is_heading_rules():
    assert is_heading("1. Introduction")
    assert is_heading("Chapter 3")
    assert is_heading("ALL CAPS TITLE")
    assert is_heading("2.1 Background")
    assert not is_heading("This is a sentence.")
    assert not is_heading("Ends with question?")
    assert not is_heading("x" * 101)
    assert not is_heading("lowercase start text")


def test_heading_levels():
    assert heading_level("Chapter 1") == 1
    assert heading_level("Section 2") == 2
    assert heading_level("2.1 Background") == 3
    assert heading_level("3) Item") == 3
    assert heading_level("ALL CAPS") == 2
    assert heading_level("plain") == 3


def test_is_list_item():
    for t in ["- a", "* b", "• c", "1. d", "2) e", "a. f", "[x] g", "– h"]:
        assert is_list_item(t), t
    assert not is_list_item("plain text")
    assert not is_list_item("")


def test_parse_table_text_pipes_and_spaces():
    # NOTE reference quirk (pdf_converter.py:261): the skip regex only
    # matches +---+ grid lines; a markdown |---|---| row is NOT skipped
    # (the '|' inside isn't in [-+]) and parses as a data row
    assert parse_table_text("|a|b|\n|---|---|\n|1|2|") == [
        ["a", "b"],
        ["---", "---"],
        ["1", "2"],
    ]
    assert parse_table_text("colA  colB\nv1    v2") == [["colA", "colB"], ["v1", "v2"]]
    # +---+ separator lines skipped
    assert parse_table_text("+---+---+\n|a|b|\n+---+---+") == [["a", "b"]]


def test_pdf_date():
    assert pdf_date_to_iso("D:20240131120000+05'00'") == "2024-01-31T12:00:00"
    assert pdf_date_to_iso("garbage") is None


def test_format_cell():
    from datetime import datetime

    assert format_cell(None) == ""
    assert format_cell(5.0) == "5"
    assert format_cell(5.5) == "5.5"
    assert format_cell(datetime(2024, 1, 2, 3, 4, 5)) == "2024-01-02T03:04:05"
    assert format_cell("x") == "x"


def test_pdf_text_to_spans_walk():
    page = (
        "Chapter 1\n"
        "This is the opening paragraph of the document\n"
        "continuing on a second line.\n"
        "\n"
        "- first item\n"
        "- second item\n"
    )
    spans = pdf_text_to_spans("doc.pdf", [page])
    kinds = [s["kind"] for s in spans]
    assert kinds[0] == "heading" and spans[0]["text"] == "## Page 1"
    assert "heading" in kinds[1:]  # Chapter 1
    ch = [s for s in spans if s["text"].endswith("Chapter 1")][0]
    assert ch["text"].startswith("# ")  # level 1
    para = [s for s in spans if s["kind"] == "paragraph"]
    assert para and para[0]["text"].startswith("This is the opening")
    lst = [s for s in spans if s["kind"] == "list"]
    assert lst and lst[0]["text"] == "first item\nsecond item"
    offsets = [s["offset"] for s in spans]
    assert offsets == list(range(len(spans)))


def test_binary_decode_garbage_fails_loudly(spark, tmp_path):
    """A corrupt .docx must error, not silently produce empty spans —
    with the stdlib decoder this is BadZipFile instead of the old
    NotImplementedError gate."""
    from eget_spark.sources.converters import convert_files

    p = tmp_path / "f.docx"
    p.write_bytes(b"fake")
    files = spark.read.format("binaryFile").load(str(p))
    with pytest.raises(Exception):
        convert_files(files).collect()


def test_convert_files_all_binary_formats_end_to_end(spark, tmp_path):
    """S5 over REAL pdf/docx/xlsx bytes (stdlib-synthesized) through the
    distributed mapInPandas path — the formerly environment-gated decode
    now runs end-to-end."""
    from eget_spark.sources.converters import convert_files
    from eget_spark.sources.ooxml import build_docx_bytes, build_xlsx_bytes
    from eget_spark.sources.pdfmini import build_pdf_bytes

    (tmp_path / "r.pdf").write_bytes(
        build_pdf_bytes(["Chapter 1\nBody text of the report.\n- one\n- two"])
    )
    (tmp_path / "n.docx").write_bytes(
        build_docx_bytes(
            [
                {"type": "heading", "text": "Notes", "level": 1},
                {"type": "paragraph", "runs": [("hello", True, False, False)]},
            ]
        )
    )
    (tmp_path / "t.xlsx").write_bytes(
        build_xlsx_bytes([("Sheet1", [["k", "v"], ["a", 1.0]])])
    )
    files = spark.read.format("binaryFile").load(str(tmp_path) + "/*")
    out = {r["doc_id"].rsplit("/", 1)[-1]: r for r in convert_files(files).collect()}
    assert set(out) == {"r.pdf", "n.docx", "t.xlsx"}
    pdf_kinds = [s["kind"] for s in out["r.pdf"]["spans"]]
    assert "heading" in pdf_kinds and "list" in pdf_kinds
    docx_texts = [s["text"] for s in out["n.docx"]["spans"]]
    assert "# Notes" in docx_texts and "**hello**" in docx_texts
    xlsx_texts = [s["text"] for s in out["t.xlsx"]["spans"]]
    assert "## Sheet: Sheet1" in xlsx_texts and "k\tv\na\t1" in xlsx_texts


def test_convert_files_txt_and_content_dedup(spark, tmp_path):
    """S5 end-to-end without gated libs (txt routes through the text-layer
    pipeline) + the conversion-cache analogue: identical bytes decode once
    and fan back to every path; dedupe on/off give identical output."""
    from eget_spark.sources.converters import convert_files

    body = "Chapter 1\nSome opening text here.\n- alpha\n- beta\n"
    (tmp_path / "a.txt").write_text(body)
    (tmp_path / "b.txt").write_text(body)  # duplicate bytes
    (tmp_path / "c.txt").write_text("Other doc.\n")
    files = spark.read.format("binaryFile").load(str(tmp_path / "*.txt"))

    out = {r["doc_id"]: r for r in convert_files(files).collect()}
    assert len(out) == 3
    a = sorted(
        [s.asDict() for s in next(v for k, v in out.items() if k.endswith("a.txt"))["spans"]],
        key=lambda s: s["offset"],
    )
    kinds = [s["kind"] for s in a]
    assert kinds[0] == "heading"  # '## Page 1'
    assert "list" in kinds and "paragraph" in kinds
    b = sorted(
        [s.asDict() for s in next(v for k, v in out.items() if k.endswith("b.txt"))["spans"]],
        key=lambda s: s["offset"],
    )
    assert a == b  # identical bytes -> identical spans via the shared key

    no_dedup = {
        r["doc_id"]: sorted([s.asDict() for s in r["spans"]], key=lambda s: s["offset"])
        for r in convert_files(files, dedupe_content=False).collect()
    }
    assert {k: sorted([s.asDict() for s in v["spans"]], key=lambda s: s["offset"]) for k, v in out.items()} == no_dedup


def test_pptx_roundtrip_and_span_walk():
    """C4: build -> decode roundtrip (titles, bullet levels, tables in
    spTree order) and the pinned span walk (consecutive-bullet merge,
    extra-title demotion, heading suffix rules)."""
    from eget_spark.sources.converters import pptx_events_to_spans
    from eget_spark.sources.ooxml import build_pptx_bytes, decode_pptx_bytes

    slides = [
        {
            "title": "T & <One>",
            "paras": [
                ("intro", False, 0),
                ("a", True, 0),
                ("b", True, 1),
                ("after", False, 0),
                ("c", True, 0),
            ],
        },
        {"title": None, "paras": [("only body", False, 0)],
         "table": [["h1", "h2"], ["x", "y & z"]]},
    ]
    events = decode_pptx_bytes(build_pptx_bytes(slides))
    assert events[0][0] == ("title", "T & <One>")  # XML escaping roundtrips
    assert ("para", "b", True, 1) in events[0]
    assert events[1][-1] == ("tbl", [["h1", "h2"], ["x", "y & z"]])

    spans = pptx_events_to_spans(events)
    got = [(s["kind"], s["text"]) for s in spans]
    assert got == [
        ("heading", "## Slide 1: T & <One>"),
        ("paragraph", "intro"),
        ("list", "a\n  b"),       # consecutive bullets merge, level indents
        ("paragraph", "after"),
        ("list", "c"),            # bullet run restarts after a paragraph
        ("heading", "## Slide 2"),
        ("paragraph", "only body"),
        ("table", "h1\th2\nx\ty & z"),
    ]
    assert [s["offset"] for s in spans] == list(range(8))


def test_pptx_extra_title_paragraph_demotes():
    from eget_spark.sources.converters import pptx_events_to_spans

    spans = pptx_events_to_spans(
        [[("title", "Main"), ("title", "Subtitle line"), ("para", "p", False, 0)]]
    )
    assert [(s["kind"], s["text"]) for s in spans] == [
        ("heading", "## Slide 1: Main"),
        ("paragraph", "Subtitle line"),
        ("paragraph", "p"),
    ]


def test_pdf_flate_stream_ending_in_cr_keeps_that_byte():
    """A Flate stream whose compressed bytes end in ``\\r`` decodes: the
    stream extent comes from its direct /Length, and without a usable
    /Length only the end-of-line marker before ``endstream`` is trimmed —
    never a trailing ``\\r`` of the data itself."""
    import hashlib
    import re
    import zlib

    from eget_spark.sources.pdfmini import build_pdf_bytes, decode_pdf_bytes

    def flate_ends_in_cr(text):
        data = build_pdf_bytes([text])
        raw = re.search(rb"/FlateDecode /Length (\d+) >>\nstream\n", data)
        body = data[raw.end() : raw.end() + int(raw.group(1))]
        return data, body.endswith(b"\r") and zlib.decompress(body)

    # the last compressed byte is adler32's low byte: vary the text's
    # byte sum widely until it is 0x0d
    texts = (f"Page text {hashlib.md5(str(i).encode()).hexdigest()}" for i in range(5000))
    data = next(d for d, ok in map(flate_ends_in_cr, texts) if ok)
    text = decode_pdf_bytes(data)
    assert len(text) == 1 and text[0].startswith("Page text ")
    # an unusable /Length (same width, so xref offsets still hold) falls
    # back to the endstream search
    n = re.search(rb"/FlateDecode /Length (\d+) >>", data).group(1)
    bad = data.replace(b"/Length " + n, b"/Length " + b"0".rjust(len(n), b"0"), 1)
    assert decode_pdf_bytes(bad) == text
