"""OLE2/CFB container walk + legacy .doc text extraction
(functions/cfbwalk.py, functions/doctext.py, r5 third session):
round-trips across both stream layouts, hand-built chain checks,
corrupt rejection, declared seams, and the Spark dispatches."""

from __future__ import annotations

import struct

import pytest

from barkingowl_spark.functions.cfbwalk import (
    build_cfb,
    list_cfb_members,
    parse_cfb,
    read_cfb_stream,
)
from barkingowl_spark.functions.doctext import (
    build_doc,
    extract_doc_text,
)

STREAMS = [("WordDocument", b"W" * 5000),   # regular FAT-chained
           ("small", b"abc" * 20),          # mini stream
           ("empty", b""),
           ("1Table", bytes(range(256)) * 2)]


def test_cfb_round_trip_both_layouts():
    p = build_cfb(STREAMS)
    got = list_cfb_members(p)
    assert [(n, "stream", len(d), True) for n, d in STREAMS] == got
    for n, d in STREAMS:
        assert read_cfb_stream(p, n) == d, n
    # the boundary: 4095 is mini, 4096 is regular
    edge = build_cfb([("a", b"x" * 4095), ("b", b"y" * 4096)])
    cfb = parse_cfb(edge)
    assert cfb.read("a") == b"x" * 4095
    assert cfb.read("b") == b"y" * 4096
    assert len(cfb.mini) >= 4095  # a went through the mini stream


def test_cfb_corrupt_rejection():
    p = build_cfb(STREAMS)
    with pytest.raises(ValueError, match="magic"):
        list_cfb_members(b"not a cfb at all" * 40)
    with pytest.raises(ValueError):
        list_cfb_members(p[:300])  # truncated header
    # a FAT cycle is detected, not an infinite loop: point the
    # WordDocument chain's first FAT entry at itself
    cfb = parse_cfb(p)
    start = next(s for n, t, s, z in cfb.entries
                 if n == "WordDocument")
    bad = bytearray(p)
    struct.pack_into("<I", bad, 512 + 4 * start, start)
    with pytest.raises(ValueError, match="cycle"):
        read_cfb_stream(bytes(bad), "WordDocument")
    # truncating the file makes the chain walk fail read_ok, and
    # the directory-level walk reports it (not an exception)
    clipped = p[:len(p) - 600]
    rows = list_cfb_members(clipped)
    assert any(not ok for *_, ok in rows)
    # bad byte-order mark
    bom = bytearray(p)
    bom[28] = 0
    with pytest.raises(ValueError, match="FFFE"):
        list_cfb_members(bytes(bom))
    # absent stream
    with pytest.raises(ValueError, match="not found"):
        read_cfb_stream(p, "missing")


def test_cfb_members_spark(spark):
    from barkingowl_spark.operators.multimodal import (
        cfb_members,
        cfb_table,
    )

    docs = spark.createDataFrame([(d,) for d in range(6)],
                                 "doc_id long")
    rows = {}
    for r in cfb_members(cfb_table(docs)).collect():
        rows.setdefault(r["doc_id"], []).append(r)
    for d in range(6):
        got = sorted(rows[d], key=lambda r: r["name"])
        assert len(got) == d % 3 + 1
        for i, r in enumerate(got):
            assert r["name"] == f"s{i}"
            assert r["kind"] == "stream"
            want = 40 + 30 * i if i < 2 else 4100 + d % 50
            assert r["size"] == want
            assert r["read_ok"]

    junk = spark.createDataFrame(
        [(99, bytearray(b"\xd0\xcf\x11\xe0 truncated"))],
        "doc_id long, payload binary")
    bad = cfb_members(junk).collect()
    assert len(bad) == 1 and bad[0]["name"] is None
    assert not bad[0]["read_ok"]


def test_doc_pieces_and_encodings():
    pieces = [("doc 5 line 0\r", True),
              ("unicode piece éü\r", False),
              ("tail", True)]
    n, text = extract_doc_text(build_doc(pieces))
    assert n == sum(len(t) for t, _ in pieces)
    assert text == "".join(t for t, _ in pieces).replace("\r", "\n")
    # cp1252-unrepresentable text must go through a unicode piece
    with pytest.raises(UnicodeEncodeError):
        build_doc([("中文", True)])
    assert extract_doc_text(
        build_doc([("中文", False)]))[1] == "中文"


def test_doc_corrupt_and_seams():
    p = build_doc([("some text\r", True)])
    from barkingowl_spark.functions.cfbwalk import (
        read_cfb_stream as rd,
    )

    w = rd(p, "WordDocument")
    i = p.find(w[:16])
    assert i > 0
    # encrypted bit -> declared seam
    enc = bytearray(p)
    enc[i + 0x0B] |= 0x01
    with pytest.raises(NotImplementedError, match="encrypted"):
        extract_doc_text(bytes(enc))
    # wrong FIB magic -> corrupt
    bad = bytearray(p)
    bad[i] = 0
    with pytest.raises(ValueError, match="FIB"):
        extract_doc_text(bytes(bad))
    # ccpText longer than the piece table delivers -> corrupt
    longer = bytearray(p)
    struct.pack_into("<i", longer, i + 0x4C, 10_000)
    with pytest.raises(ValueError, match="shorter than ccpText"):
        extract_doc_text(bytes(longer))


def test_doc_truncated_clx_is_value_error():
    """A Clx cut inside a Prc header (lcbClx 2) or inside the Pcdt
    header (lcbClx 9: the 7-byte Prc, then 2 of the Pcdt's 5 header
    bytes) is corrupt input: ValueError, not a raw struct.error that
    doc_texts cannot contain per payload."""
    p = build_doc([("some text\r", True)])
    w = read_cfb_stream(p, "WordDocument")
    i = p.find(w[:16])
    for lcb_clx in (2, 9):
        bad = bytearray(p)
        struct.pack_into("<I", bad, i + 0x1A6, lcb_clx)
        with pytest.raises(ValueError, match="corrupt .doc"):
            extract_doc_text(bytes(bad))


def test_doc_texts_spark(spark):
    from barkingowl_spark.operators.multimodal import (
        doc_table,
        doc_texts,
    )

    docs = spark.createDataFrame([(d,) for d in range(6)],
                                 "doc_id long")
    rows = {r["doc_id"]: r for r in
            doc_texts(doc_table(docs)).collect()}
    for d in range(6):
        pieces = [f"doc {d} piece {p}\r" for p in range(d % 3 + 1)]
        want = "".join(pieces).replace("\r", "\n")
        assert rows[d]["n_chars"] == sum(len(t) for t in pieces)
        assert rows[d]["text"] == want, d

    junk = spark.createDataFrame(
        [(99, bytearray(b"\xd0\xcf\x11\xe0 nope"))],
        "doc_id long, payload binary")
    bad = doc_texts(junk).collect()
    assert bad[0]["n_chars"] == 0 and bad[0]["text"] is None


def test_xls_biff8_cells():
    """Legacy .xls (functions/xlsbiff.py): SST compressed/UTF-16/
    rich-run entries, LABELSST resolution, RK int (incl. negative
    and /100 forms), NUMBER doubles, MULRK runs, and the declared
    seams (non-BIFF8 BOF, out-of-range SST index)."""
    from barkingowl_spark.functions.xlsbiff import (
        _rk_value,
        build_xls,
        extract_xls_cells,
    )

    cells = [("A1", "hello wörld"), ("B1", 42),
             ("C1", "unicode 中文"), ("D1", 3.5),
             ("E2", "rich-run string"), ("F1", -7)]
    got = extract_xls_cells(build_xls(cells))
    assert got == [
        ("A1", "s", "hello wörld"), ("B1", "n", "42"),
        ("C1", "s", "unicode 中文"), ("D1", "n", "3.5"),
        ("E2", "s", "rich-run string"), ("F1", "n", "-7")]

    # RK decode: int, int/100, double-form
    assert _rk_value((100 << 2) | 2) == 100.0
    assert _rk_value((100 << 2) | 3) == 1.0
    d = struct.unpack("<Q", struct.pack("<d", 2.5))[0]
    assert _rk_value((d >> 32) & 0xFFFFFFFC) == 2.5

    # hand-built MULRK: row 0, cols B..D sharing three RK ints
    p = build_xls([("A1", "x")])
    from barkingowl_spark.functions.cfbwalk import read_cfb_stream
    stream = bytearray(read_cfb_stream(p, "Workbook"))
    mul = struct.pack("<HH", 0, 1) + b"".join(
        struct.pack("<HI", 0, (v << 2) | 2) for v in (7, 8, 9)
    ) + struct.pack("<H", 3)
    rec = struct.pack("<HH", 0x00BD, len(mul)) + mul
    # splice before the final EOF record (last 4 bytes)
    stream2 = bytes(stream[:-4]) + rec + bytes(stream[-4:])
    from barkingowl_spark.functions.cfbwalk import build_cfb
    got = extract_xls_cells(build_cfb([("Workbook", stream2)]))
    assert got == [("A1", "s", "x"), ("B1", "n", "7"),
                   ("C1", "n", "8"), ("D1", "n", "9")]

    # BIFF5 BOF is a declared seam
    old = bytearray(read_cfb_stream(p, "Workbook"))
    struct.pack_into("<H", old, 4, 0x0500)
    with pytest.raises(NotImplementedError, match="BIFF"):
        extract_xls_cells(build_cfb([("Workbook", bytes(old))]))
    # SST index out of range is corrupt
    bad = bytearray(read_cfb_stream(p, "Workbook"))
    i = bad.rindex(struct.pack("<HHHI", 0, 0, 0, 0))
    struct.pack_into("<I", bad, i + 6, 99)
    with pytest.raises(ValueError, match="out of range"):
        extract_xls_cells(build_cfb([("Workbook", bytes(bad))]))


def test_xls_truncated_records_are_value_error():
    """Short SST and LABELSST bodies, and an SST entry cut before its
    rich-run count, are corrupt input: ValueError, not a raw
    struct.error that xls_cells cannot contain per payload."""
    from barkingowl_spark.functions.xlsbiff import build_xls, extract_xls_cells

    bof = read_cfb_stream(build_xls([("A1", "x")]), "Workbook")[:20]

    def rec(rid: int, body: bytes) -> bytes:
        return struct.pack("<HH", rid, len(body)) + body

    rich_cut = struct.pack("<ii", 1, 1) + struct.pack("<HB", 1, 0x08)
    for body in (rec(0x00FC, b"\0" * 4),       # SST: 4 of 8 header bytes
                 rec(0x00FC, rich_cut),        # SST entry: no cRun
                 rec(0x00FD, b"\0" * 6)):      # LABELSST: 6 of 10 bytes
        with pytest.raises(ValueError, match="corrupt BIFF record"):
            extract_xls_cells(build_cfb([("Workbook", bof + body)]))


def test_xls_cells_spark(spark):
    from barkingowl_spark.operators.multimodal import (
        xls_cells,
        xls_table,
    )

    docs = spark.createDataFrame([(d,) for d in range(6)],
                                 "doc_id long")
    rows = {}
    for r in xls_cells(xls_table(docs)).collect():
        rows.setdefault(r["doc_id"], []).append(r)
    for d in range(6):
        got = sorted(rows[d], key=lambda r: r["cell_ref"])
        assert len(got) == d % 3 + 2
        for i, r in enumerate(got):
            if i % 2 == 0:
                assert (r["kind"], r["value"]) == (
                    "s", f"doc {d} cell {i}")
            else:
                assert (r["kind"], r["value"]) == (
                    "n", str(10 * i + d))

    junk = spark.createDataFrame(
        [(99, bytearray(b"\xd0\xcf\x11\xe0 truncated"))],
        "doc_id long, payload binary")
    bad = xls_cells(junk).collect()
    assert bad[0]["cell_ref"] is None and bad[0]["value"] is None


def test_ppt_text_atoms():
    """Legacy .ppt (functions/xlsbiff.py): container recursion
    (recVer 0xF), TextChars/TextBytes leaves in document order,
    \\r -> \\n mapping, nested-container hand case, depth guard."""
    from barkingowl_spark.functions.xlsbiff import (
        build_ppt,
        extract_ppt_text,
    )

    texts = ["Slide 1 title\rbullet one", "unicode 中文 run",
             "plain tail"]
    n, t = extract_ppt_text(build_ppt(texts))
    assert n == 3
    assert t == ("Slide 1 title\nbullet one\nunicode 中文 run"
                 "\nplain tail")

    # hand-built: a text atom nested TWO containers deep, after a
    # non-text leaf the scan must skip
    inner = (struct.pack("<HHI", 0, 0x0FA8, 4) + b"deep")
    mid = struct.pack("<HHI", 0x000F, 0x03EE, len(inner)) + inner
    junk = struct.pack("<HHI", 0, 0x1234, 3) + b"\x00\x01\x02"
    outer = struct.pack("<HHI", 0x000F, 0x03E8,
                        len(junk) + len(mid)) + junk + mid
    p = build_cfb([("PowerPoint Document", outer)])
    assert extract_ppt_text(p) == (1, "deep")

    # odd-length TextCharsAtom is corrupt
    bad_atom = struct.pack("<HHI", 0, 0x0FA0, 3) + b"abc"
    bad = build_cfb([("PowerPoint Document", bad_atom)])
    with pytest.raises(ValueError, match="odd"):
        extract_ppt_text(bad)
    # atom claiming bytes beyond the stream is corrupt
    over = struct.pack("<HHI", 0, 0x0FA8, 99) + b"short"
    with pytest.raises(ValueError, match="outside"):
        extract_ppt_text(build_cfb([("PowerPoint Document", over)]))


def test_ppt_texts_spark(spark):
    from barkingowl_spark.operators.multimodal import (
        ppt_table,
        ppt_texts,
    )

    docs = spark.createDataFrame([(d,) for d in range(6)],
                                 "doc_id long")
    rows = {r["doc_id"]: r for r in
            ppt_texts(ppt_table(docs)).collect()}
    for d in range(6):
        runs = [f"doc {d} slide {s} text"
                + ("\nmore" if d % 2 == 0 else "")
                for s in range(d % 3 + 1)]
        assert rows[d]["n_texts"] == len(runs)
        assert rows[d]["text"] == "\n".join(runs), d

    junk = spark.createDataFrame(
        [(99, bytearray(b"\xd0\xcf\x11\xe0 nope"))],
        "doc_id long, payload binary")
    bad = ppt_texts(junk).collect()
    assert bad[0]["n_texts"] == 0 and bad[0]["text"] is None
