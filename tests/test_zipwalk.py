"""ZIP container walk (functions/zipwalk.py, late r5): round trips,
BOTH-direction stdlib zipfile cross-checks (the independent ground
truth the image codecs cannot have), corrupt rejection vs CRC
falsification, declared seams, and the Spark zip_members dispatch."""

from __future__ import annotations

import io
import struct
import zipfile

import pytest

from barkingowl_spark.functions.zipwalk import (
    ZIP_EOCD,
    build_zip,
    list_zip_members,
    read_zip_member,
)

MS = [("a.txt", b"hello world" * 20, 0),
      ("dir/b.bin", bytes(range(256)) * 4, 8),
      ("empty", b"", 0)]


def test_round_trip_and_member_table():
    p = build_zip(MS)
    got = list_zip_members(p)
    assert [(n, m, len(d)) for n, d, m in MS] == [
        (n, m, u) for n, m, u, _, _ in got]
    assert all(crc for *_, crc in got)
    # empty stored member: csize 0 is legitimate
    assert got[2][3] == 0


def test_stdlib_reads_our_zips():
    """The fixture writer's containers are real ZIPs: the stdlib
    module (an INDEPENDENT implementation) lists and extracts them
    byte-for-byte."""
    zf = zipfile.ZipFile(io.BytesIO(build_zip(MS)))
    assert [i.filename for i in zf.infolist()] == [n for n, _, _ in MS]
    for name, data, _ in MS:
        assert zf.read(name) == data, name


def test_we_read_stdlib_zips():
    """The reverse direction: containers written by the stdlib
    module — different extra fields, different deflate stream — walk
    correctly, so the reader is not coupled to its own writer."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("x.txt", b"alpha" * 100)
        zf.writestr(zipfile.ZipInfo("y.bin"), bytes(range(200)),
                    compress_type=zipfile.ZIP_DEFLATED)
    got = list_zip_members(buf.getvalue())
    assert [(n, u, c) for n, _, u, _, c in got] == [
        ("x.txt", 500, True), ("y.bin", 200, True)]


def test_comment_tail_and_corrupt_rejection():
    p = build_zip(MS)
    # an archive comment moves the EOCD off EOF; rfind must still hit
    commented = bytearray(p)
    commented[-2:] = struct.pack("<H", 9)
    commented += b"trailing!"
    assert [r[0] for r in list_zip_members(bytes(commented))] == [
        n for n, _, _ in MS]
    with pytest.raises(ValueError):
        list_zip_members(b"not a zip at all")
    with pytest.raises(ValueError):
        list_zip_members(p[:10])
    # flipped member byte -> crc_ok False for THAT member only
    bad = bytearray(p)
    bad[30 + len("a.txt")] ^= 0xFF
    got = list_zip_members(bytes(bad))
    assert [c for *_, c in got] == [False, True, True]


def test_read_member_truncated_or_bad_deflate_is_value_error():
    """read_zip_member turns a truncated EOCD record and a corrupt
    deflate body into ValueError, like list_zip_members: the Spark
    operators built on it contain only ValueError/NotImplementedError
    per payload, so a raw struct.error / zlib.error would fail the
    whole task."""
    with pytest.raises(ValueError, match="corrupt ZIP"):
        read_zip_member(ZIP_EOCD + b"\0" * 6, "x")
    bad = bytearray(build_zip([("a.txt", b"hello world" * 20, 8)]))
    bad[30 + len("a.txt")] = 0xFF  # deflate block type 3 (reserved)
    with pytest.raises(ValueError, match="bad deflate member"):
        read_zip_member(bytes(bad), "a.txt")


def test_declared_seams():
    p = bytearray(build_zip([("a", b"xy", 0)]))
    i = p.index(b"PK\x01\x02")
    p[i + 10:i + 12] = struct.pack("<H", 12)  # method 12 = bzip2
    with pytest.raises(NotImplementedError, match="method"):
        list_zip_members(bytes(p))
    eocd = bytearray(build_zip([("a", b"xy", 0)]))
    j = eocd.rindex(b"PK\x05\x06")
    # this-disk entry count (offset 8) != total -> archive spans disks
    eocd[j + 8:j + 10] = struct.pack("<H", 0)
    with pytest.raises(NotImplementedError, match="multi-disk"):
        list_zip_members(bytes(eocd))


def test_zip_members_spark(spark):
    """zip_table -> zip_members across the d % 3 + 1 member cycle,
    plus containment: a non-ZIP payload yields the single invalid
    row, not an error."""
    from barkingowl_spark.operators.multimodal import (
        zip_members,
        zip_table,
    )

    docs = spark.createDataFrame([(d,) for d in range(6)],
                                 "doc_id long")
    rows = zip_members(zip_table(docs)).collect()
    per = {}
    for r in rows:
        per.setdefault(r["doc_id"], []).append(r)
    for d in range(6):
        got = sorted(per[d], key=lambda r: r["name"])
        assert len(got) == d % 3 + 1
        for i, r in enumerate(got):
            assert r["name"] == f"m{i}"
            assert r["method"] == (8 if (i + d) % 2 else 0)
            assert r["usize"] == 40 + 20 * i
            assert r["crc_ok"] and r["csize_gt0"]

    junk = spark.createDataFrame(
        [(99, bytearray(b"PK\x03\x04 but truncated"))],
        "doc_id long, payload binary")
    bad = zip_members(junk).collect()
    assert len(bad) == 1 and bad[0]["name"] is None
    assert not bad[0]["crc_ok"] and bad[0]["method"] == -1


def test_zip64_round_trip_and_stdlib_both_directions():
    """ZIP64 (r5 third session): the forced-64-bit layout walks
    identically to the classic one, the stdlib module reads our
    ZIP64 output, and a stdlib archive with >65535 members (a REAL
    EOCD64, not our writer's) walks correctly."""
    import io
    import zipfile

    from barkingowl_spark.functions.zipwalk import build_zip64

    p = build_zip64(MS)
    assert list_zip_members(p) == list_zip_members(build_zip(MS))
    zf = zipfile.ZipFile(io.BytesIO(p))
    assert zf.namelist() == [n for n, _, _ in MS]
    for name, data, _ in MS:
        assert zf.read(name) == data, name
    # stdlib force_zip64 local headers + 32-bit central
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", allowZip64=True) as w:
        with w.open("big.bin", "w", force_zip64=True) as f:
            f.write(b"q" * 1000)
    assert list_zip_members(buf.getvalue()) == [
        ("big.bin", 0, 1000, 1000, True)]


def test_zip64_real_eocd64_from_member_count():
    """>65535 members forces the stdlib writer into a REAL EOCD64
    record (n_total carries the 0xFFFF marker) — the reverse-
    direction ground truth for the 64-bit end-record walk."""
    import io
    import zipfile

    n = 65545
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as w:
        for i in range(n):
            w.writestr(f"f{i}", b"")
    got = list_zip_members(buf.getvalue())
    assert len(got) == n
    assert got[0][0] == "f0" and got[-1][0] == f"f{n - 1}"
    assert all(ok for *_, ok in got)


def test_zip64_corruption():
    from barkingowl_spark.functions.zipwalk import build_zip64

    p = build_zip64([("a", b"xy" * 40, 8)])
    # clip the EOCD64 locator signature -> markers become orphaned
    i = p.index(b"PK\x06\x07")
    bad = bytearray(p)
    bad[i] ^= 0xFF
    with pytest.raises(ValueError, match="locator"):
        list_zip_members(bytes(bad))
    # marker without an extra field -> rejected, not mis-sized
    j = p.index(b"PK\x01\x02")
    noextra = bytearray(p)
    # zero out the central extra-field length (offset 30 in the CDE)
    noextra[j + 30:j + 32] = b"\x00\x00"
    with pytest.raises(ValueError, match="ZIP64 marker"):
        list_zip_members(bytes(noextra))
