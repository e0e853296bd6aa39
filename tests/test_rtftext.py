"""RTF text extraction (functions/rtftext.py, r5 third session):
writer round-trips with escape/hex/unicode coverage, hand-built
grammar shapes the writer never emits (\\ucN skips, \\binN raw
runs, starred destinations, negative \\uN), corrupt rejection, and
the Spark rtf_texts dispatch."""

from __future__ import annotations

import pytest

from barkingowl_spark.functions.rtftext import (
    build_rtf,
    extract_rtf_text,
)

PARAS = ["hello {braced} & back\\slash", "café déjà", "tabs\there",
         "中文 piece"]


def test_writer_round_trip():
    assert extract_rtf_text(build_rtf(PARAS)) == (
        len(PARAS), "\n".join(PARAS))


def test_hand_built_grammar_shapes():
    """\\uc2 fallback skipping, \\line vs \\par, starred
    destinations and table groups skipped whole, \\binN raw-byte
    runs, negative \\uN code points, \\~ nbsp."""
    doc = ("{\\rtf1\\ansi \\uc2 \\u5954 ABafter "
           "{\\*\\generator Fancy 1.0}x\\line y\\par "
           "{\\colortbl;\\red0;}tail\\par}").encode("ascii")
    assert extract_rtf_text(doc) == (2, "ᝂafter x\ny\ntail")

    neg = b"{\\rtf1 \\uc1 \\u-3999?X\\par}"
    n, t = extract_rtf_text(neg)
    assert n == 1 and ord(t[0]) == 61537 and t[1:] == "X"

    # \bin5 swallows exactly 5 raw bytes (here spelling "\parx")
    b = b"{\\rtf1 a\\bin5 \\parxb\\par}"
    assert extract_rtf_text(b) == (1, "ab")

    nb = b"{\\rtf1 a\\~b\\par}"
    assert extract_rtf_text(nb) == (1, "a b")

    # fonttbl/info are skipped; unknown control words are ignorable
    # PER SPEC (not an error)
    f = (b"{\\rtf1{\\fonttbl{\\f0 Arial;}}{\\info{\\author X}}"
         b"\\wobble42 body\\par}")
    assert extract_rtf_text(f) == (1, "body")


def test_line_is_a_newline_inside_a_paragraph():
    """\\line breaks a line but not a paragraph: n_paras counts \\par
    (plus an unterminated last paragraph), the text keeps both
    breaks as '\\n'."""
    doc = b"{\\rtf1 one\\line two\\par three\\line\\line four\\par}"
    assert extract_rtf_text(doc) == (2, "one\ntwo\nthree\n\nfour")
    assert extract_rtf_text(b"{\\rtf1 a\\line b}") == (1, "a\nb")
    assert extract_rtf_text(b"{\\rtf1 a\\par b}") == (2, "a\nb")
    assert extract_rtf_text(b"{\\rtf1 {\\*\\x a\\par}}") == (0, "")


def test_corrupt_rejection():
    with pytest.raises(ValueError, match="rtf"):
        extract_rtf_text(b"plain text, not rtf")
    with pytest.raises(ValueError, match="unbalanced"):
        extract_rtf_text(b"{\\rtf1 missing close")
    with pytest.raises(ValueError, match="unbalanced"):
        extract_rtf_text(b"{\\rtf1 x}}")
    with pytest.raises(ValueError, match="dangling"):
        extract_rtf_text(b"{\\rtf1 x}"[:-1] + b"\\")
    with pytest.raises(ValueError):
        extract_rtf_text(b"{\\rtf1 \\'q9 x}")  # bad hex digits


def test_rtf_texts_spark(spark):
    from barkingowl_spark.operators.multimodal import (
        rtf_table,
        rtf_texts,
    )

    docs = spark.createDataFrame([(d,) for d in range(6)],
                                 "doc_id long")
    rows = {r["doc_id"]: r for r in
            rtf_texts(rtf_table(docs)).collect()}
    for d in range(6):
        sfx = " {é}\\x" if d % 2 == 0 else ""
        paras = [f"doc {d} rtf {p}{sfx}" for p in range(d % 3 + 1)]
        assert rows[d]["n_paras"] == len(paras)
        assert rows[d]["text"] == "\n".join(paras), d

    junk = spark.createDataFrame(
        [(99, bytearray(b"not rtf at all"))],
        "doc_id long, payload binary")
    bad = rtf_texts(junk).collect()
    assert bad[0]["n_paras"] == 0 and bad[0]["text"] is None
