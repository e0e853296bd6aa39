"""Email text extraction (functions/emltext.py, r5 third session):
both-direction stdlib email-package cross-checks (the independent
ground truth the codecs cannot have), RFC 2047 encoded words,
transfer decodes, multipart walks, corrupt rejection, and the Spark
eml_texts dispatch."""

from __future__ import annotations

import email
import email.policy

import pytest

from barkingowl_spark.functions.emltext import (
    build_eml,
    decode_header_value,
    extract_eml_text,
)

CASES = [
    ("plain subject", "alice@example.test",
     "hello body\nline two", "7bit", False),
    ("café résumé", "b@example.test",
     "unicode bödy ü", "quoted-printable", False),
    ("中文主题", "c@example.test",
     "base64 body 中文", "base64", False),
    ("multi", "m@example.test",
     "the real text part", "quoted-printable", True),
    ("m2", "m2@example.test",
     "base64 in multipart 日本", "base64", True),
]


def test_round_trip_and_stdlib_parity():
    """Every fixture shape extracts identically through OUR walk
    and through the stdlib email package (subject + body; an
    INDEPENDENT RFC implementation)."""
    for subj, frm, text, cte, mp in CASES:
        p = build_eml(subj, frm, text, cte=cte, multipart=mp)
        assert extract_eml_text(p) == (subj, frm, text), (cte, mp)
        msg = email.message_from_bytes(
            p, policy=email.policy.default)
        assert msg["subject"] == subj
        std = msg.get_body(
            preferencelist=("plain",)).get_content()
        assert std.rstrip("\n") == text.rstrip("\n")


def test_we_read_stdlib_messages():
    """The reverse direction: a message the stdlib composes —
    different folding, its own boundary, CRLF handling — extracts
    correctly, so the reader is not coupled to its own writer."""
    from email.message import EmailMessage

    m = EmailMessage()
    m["Subject"] = "stdlib écrit"
    m["From"] = "s@example.test"
    m.set_content("stdlib body with ünïcode\nsecond line")
    m.add_attachment(b"\x00\x01", maintype="application",
                     subtype="octet-stream")
    subj, frm, text = extract_eml_text(bytes(m))
    assert subj == "stdlib écrit"
    assert frm == "s@example.test"
    assert text.rstrip("\n") == "stdlib body with ünïcode\nsecond line"


def test_header_machinery():
    # continuation-line unfolding + first-value-wins duplicates
    raw = (b"Subject: part one\r\n  and two\r\n"
           b"X-Dup: first\r\nX-Dup: second\r\n"
           b"Content-Type: text/plain\r\n\r\nbody")
    subj, _, text = extract_eml_text(raw)
    assert subj == "part one and two"
    assert text == "body"
    # Q-encoded words with underscore-as-space, adjacent-word glue
    assert decode_header_value(
        "=?utf-8?Q?caf=C3=A9_one?= =?utf-8?Q?_two?=") == \
        "café one two"
    with pytest.raises(NotImplementedError, match="charset"):
        decode_header_value("=?koi8-r?B?0NLJ18XU?=")


def test_text_star_fallback_when_no_text_plain():
    """With no text/plain part anywhere, the first text/* part is the
    text (an html-only message, single-part or behind a non-text
    decoy); a text/plain part still wins over an earlier text/html."""
    html = (b"Subject: h\r\nContent-Type: text/html; charset=utf-8\r\n"
            b"Content-Transfer-Encoding: quoted-printable\r\n\r\n"
            b"<p>caf=C3=A9</p>")
    assert extract_eml_text(html) == ("h", "", "<p>café</p>")
    mp = (b"Subject: m\r\n"
          b'Content-Type: multipart/mixed; boundary="b"\r\n\r\n'
          b"--b\r\nContent-Type: application/octet-stream\r\n\r\n"
          b"\x00\x01\r\n"
          b"--b\r\nContent-Type: text/html\r\n\r\n<b>first</b>\r\n"
          b"--b\r\nContent-Type: text/enriched\r\n\r\nsecond\r\n"
          b"--b--\r\n")
    assert extract_eml_text(mp)[2] == "<b>first</b>"
    with_plain = mp.replace(b"text/enriched", b"text/plain")
    assert extract_eml_text(with_plain)[2] == "second"
    assert email.message_from_bytes(
        with_plain, policy=email.policy.default).get_body(
        preferencelist=("plain",)).get_content().rstrip() == "second"


def test_corrupt_rejection_and_seams():
    with pytest.raises(ValueError, match="separator"):
        extract_eml_text(b"Subject: no body separator")
    with pytest.raises(ValueError, match="malformed"):
        extract_eml_text(b"not a header line\r\n\r\nbody")
    with pytest.raises(ValueError, match="boundary"):
        extract_eml_text(
            b"Content-Type: multipart/mixed\r\n\r\nbody")
    with pytest.raises(NotImplementedError, match="transfer"):
        extract_eml_text(
            b"Content-Type: text/plain\r\n"
            b"Content-Transfer-Encoding: uuencode\r\n\r\nbody")
    bad64 = (b"Content-Type: text/plain\r\n"
             b"Content-Transfer-Encoding: base64\r\n\r\n!!!not64!!")
    with pytest.raises(ValueError, match="base64"):
        extract_eml_text(bad64)


def test_eml_texts_spark(spark):
    from barkingowl_spark.operators.multimodal import (
        eml_table,
        eml_texts,
    )

    docs = spark.createDataFrame([(d,) for d in range(8)],
                                 "doc_id long")
    rows = {r["doc_id"]: r for r in
            eml_texts(eml_table(docs)).collect()}
    for d in range(8):
        subj = f"msg {d} subject" + (" é" if d % 2 == 0 else "")
        text = "\n".join(f"doc {d} body line {i}"
                         for i in range(d % 3 + 1))
        assert rows[d]["subject"] == subj
        assert rows[d]["sender"] == f"user{d}@example.test"
        assert rows[d]["text"] == text, d

    junk = spark.createDataFrame(
        [(99, bytearray(b"no separator here"))],
        "doc_id long, payload binary")
    bad = eml_texts(junk).collect()
    assert bad[0]["subject"] is None and bad[0]["text"] is None


def test_mbox_split_and_stdlib_parity():
    """mboxo splitting: postmark detection, >From unescaping (one
    level), stdlib mailbox reads our archives (independent ground
    truth), and our splitter handles a stdlib-written archive."""
    import mailbox
    import os
    import tempfile

    from barkingowl_spark.functions.emltext import (
        build_mbox,
        split_mbox,
    )

    msgs = [build_eml(f"subj {i}", f"u{i}@e.test",
                      f"body {i}\nFrom line\n>From quoted",
                      cte="7bit") for i in range(3)]
    mb = build_mbox(msgs)
    got = split_mbox(mb)
    assert len(got) == 3
    for i, g in enumerate(got):
        s, f, t = extract_eml_text(g)
        assert s == f"subj {i}"
        assert t.rstrip("\n") == f"body {i}\nFrom line\n>From quoted"
    with tempfile.NamedTemporaryFile(suffix=".mbox",
                                     delete=False) as fh:
        fh.write(mb)
        path = fh.name
    try:
        box = mailbox.mbox(path)
        assert [m["subject"] for m in box] == [
            f"subj {i}" for i in range(3)]
    finally:
        os.unlink(path)
    with pytest.raises(ValueError, match="postmark"):
        split_mbox(b"Subject: not an mbox\r\n\r\nx")


def test_mbox_texts_spark(spark):
    from barkingowl_spark.operators.multimodal import (
        mbox_table,
        mbox_texts,
    )

    docs = spark.createDataFrame([(d,) for d in range(6)],
                                 "doc_id long")
    rows = {}
    for r in mbox_texts(mbox_table(docs)).collect():
        rows.setdefault(r["doc_id"], []).append(r)
    for d in range(6):
        got = sorted(rows[d], key=lambda r: r["msg_idx"])
        assert len(got) == d % 3 + 1
        for m, r in enumerate(got):
            assert r["subject"] == f"msg {d}-{m} subject"
            assert r["sender"] == f"user{m}@example.test"
            assert r["text"] == (
                f"doc {d} msg {m} body\n"
                f"From a line the archiver must escape"), (d, m)

    junk = spark.createDataFrame(
        [(99, bytearray(b"not an mbox"))],
        "doc_id long, payload binary")
    bad = mbox_texts(junk).collect()
    assert bad[0]["msg_idx"] == -1 and bad[0]["subject"] is None
