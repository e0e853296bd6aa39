"""RFC-5322 / MIME email text extraction — r5 third session: crawls
hit mailing-list and newsgroup archives constantly (Apache/Debian/
kernel.org pipermail trees are classic corpus sources), and their
payoff format is .eml. Family convention: stdlib only, ValueError
for corrupt input, NotImplementedError for valid-but-unsupported
shapes — and like ZIP/TAR (and unlike the codecs) the sandbox HAS
independent ground truth: the stdlib email package pins both
directions in tests.

The deterministic core:

  * headers: CRLF/LF-agnostic header block, continuation-line
    unfolding (leading whitespace), case-insensitive lookup;
    encoded-words (RFC 2047 =?charset?B/Q?...?=) decoded in
    Subject/From/To for utf-8/ascii/latin-1/cp1252 charsets (other
    charsets and unknown encodings raise NotImplementedError).
  * bodies: Content-Transfer-Encoding 7bit/8bit/binary pass
    through, quoted-printable (soft line breaks, =HH) and base64
    decoded via the stdlib codecs; charset from Content-Type
    (default us-ascii, the same four charsets supported).
  * multipart/*: the boundary walk (preamble/epilogue dropped,
    nested multiparts recursed); text extraction returns the FIRST
    text/plain part's decoded text (the mailing-list convention),
    falling back to the first text/* part (e.g. an html-only
    message) when no part is text/plain.
  * build_eml: the fixture writer — singlepart or multipart with
    caller-chosen per-part transfer encodings, RFC 2047 B-encoded
    subjects when non-ASCII.

Spark surface: operators/multimodal.eml_texts; driver query
eml_texts pins headers + decode against a formula oracle.
"""

from __future__ import annotations

import base64
import binascii
import quopri
import re

_CHARSETS = {"us-ascii": "ascii", "ascii": "ascii",
             "utf-8": "utf-8", "utf8": "utf-8",
             "iso-8859-1": "latin-1", "latin-1": "latin-1",
             "windows-1252": "cp1252", "cp1252": "cp1252"}

_EW_RE = re.compile(r"=\?([^?]+)\?([BbQq])\?([^?]*)\?=")


def _charset(name: str) -> str:
    cs = _CHARSETS.get(name.lower())
    if cs is None:
        raise NotImplementedError(f"charset {name!r}")
    return cs


def _decode_word(m: re.Match) -> str:
    cs = _charset(m.group(1))
    if m.group(2) in "Bb":
        try:
            raw = base64.b64decode(m.group(3), validate=True)
        except binascii.Error as e:
            raise ValueError(f"bad encoded-word base64: {e}") from e
    else:
        raw = quopri.decodestring(
            m.group(3).replace("_", " "), header=False)
    return raw.decode(cs)


def decode_header_value(v: str) -> str:
    """RFC 2047 encoded-words decoded; whitespace BETWEEN adjacent
    encoded words dropped per spec."""
    v = re.sub(r"(\?=)\s+(=\?)", r"\1\2", v)
    return _EW_RE.sub(_decode_word, v)


def parse_headers(payload: bytes) -> tuple[dict, bytes]:
    """-> ({lowercase_name: unfolded_raw_value}, body_bytes).
    Later duplicates keep the FIRST value (Received etc. are not
    this extractor's business)."""
    sep = payload.find(b"\r\n\r\n")
    seplen = 4
    lfsep = payload.find(b"\n\n")
    if sep < 0 or (0 <= lfsep < sep):
        sep, seplen = lfsep, 2
    if sep < 0:
        raise ValueError("email without a header/body separator")
    head = payload[:sep].decode("latin-1")
    body = payload[sep + seplen:]
    fields: list[list[str]] = []  # [key, value] pairs, unfolded
    for line in head.replace("\r\n", "\n").split("\n"):
        if line[:1] in (" ", "\t"):
            if not fields:
                raise ValueError(
                    "header continuation before any header")
            fields[-1][1] += " " + line.strip()
            continue
        if ":" not in line:
            raise ValueError(f"malformed header line {line!r}")
        name, _, value = line.partition(":")
        key = name.strip().lower()
        if not key:
            raise ValueError("empty header name")
        fields.append([key, value.strip()])
    headers: dict[str, str] = {}
    for key, value in fields:
        headers.setdefault(key, value)
    return headers, body


def _ct_params(value: str) -> tuple[str, dict]:
    parts = [p.strip() for p in value.split(";")]
    mime = parts[0].lower()
    params = {}
    for p in parts[1:]:
        if "=" in p:
            k, _, v = p.partition("=")
            params[k.strip().lower()] = v.strip().strip('"')
    return mime, params


def _decode_body(body: bytes, cte: str, cs: str) -> str:
    cte = cte.lower()
    if cte in ("7bit", "8bit", "binary", ""):
        raw = body
    elif cte == "quoted-printable":
        raw = quopri.decodestring(body)
    elif cte == "base64":
        try:
            raw = base64.b64decode(
                re.sub(rb"\s+", b"", body), validate=True)
        except binascii.Error as e:
            raise ValueError(f"bad base64 body: {e}") from e
    else:
        raise NotImplementedError(
            f"content-transfer-encoding {cte!r}")
    return raw.decode(cs)


def _leaf_parts(headers: dict, body: bytes):
    """Yield (mime, params, headers, body) for every non-multipart part,
    in document order (lazily: a caller that stops early parses no
    later part)."""
    mime, params = _ct_params(
        headers.get("content-type", "text/plain"))
    if mime.startswith("multipart/"):
        boundary = params.get("boundary")
        if not boundary:
            raise ValueError("multipart without a boundary")
        delim = b"--" + boundary.encode("latin-1")
        chunks = body.split(delim)
        # chunks[0] is the preamble; the terminator chunk starts --
        for chunk in chunks[1:]:
            if chunk[:2] == b"--":
                break
            # RFC 2046: the CRLF on each side of the boundary line
            # belongs to the DELIMITER, not the part
            part = chunk
            if part[:2] == b"\r\n":
                part = part[2:]
            elif part[:1] == b"\n":
                part = part[1:]
            if part.endswith(b"\r\n"):
                part = part[:-2]
            elif part.endswith(b"\n"):
                part = part[:-1]
            yield from _leaf_parts(*parse_headers(part))
        return
    yield mime, params, headers, body


def _first_text(headers: dict, body: bytes) -> str | None:
    """Decoded text of the first text/plain part, else of the first
    text/* part, else None."""
    chosen = None
    for mime, params, ph, pb in _leaf_parts(headers, body):
        if mime == "text/plain":
            chosen = (params, ph, pb)
            break
        if chosen is None and mime.startswith("text/"):
            chosen = (params, ph, pb)
    if chosen is None:
        return None
    params, ph, pb = chosen
    cs = _charset(params.get("charset", "us-ascii"))
    return _decode_body(pb, ph.get("content-transfer-encoding", ""), cs)


def extract_eml_text(
    payload: bytes,
) -> tuple[str, str, str]:
    """payload -> (subject, from_addr, text): RFC 2047-decoded
    Subject/From and the first text/plain body, else the first
    text/* body (decoded through its transfer encoding + charset);
    text is '' when the message carries no text part."""
    headers, body = parse_headers(payload)
    subject = decode_header_value(headers.get("subject", ""))
    sender = decode_header_value(headers.get("from", ""))
    text = _first_text(headers, body)
    return subject, sender, text if text is not None else ""


def split_mbox(payload: bytes) -> list[bytes]:
    """mboxo archive -> per-message RFC 5322 bytes: messages begin
    at lines starting 'From ' (the postmark), and body lines the
    archiver escaped to '>From ' are unescaped ('>>From ' to
    '>From ', etc — the mboxo convention pipermail uses). ValueError
    if the payload does not start with a postmark."""
    if not payload.startswith(b"From "):
        raise ValueError("not an mbox (missing 'From ' postmark)")
    text = payload.replace(b"\r\n", b"\n")
    msgs: list[bytes] = []
    cur: list[bytes] = []
    for line in text.split(b"\n"):
        if line.startswith(b"From "):
            if cur:
                msgs.append(b"\n".join(cur).rstrip(b"\n"))
            cur = []
            continue  # the postmark line is archive metadata
        if line.startswith(b">") and line.lstrip(b">").startswith(
                b"From "):
            line = line[1:]  # unescape one level
        cur.append(line)
    if cur:
        msgs.append(b"\n".join(cur).rstrip(b"\n"))
    return msgs


# ---- fixture writer ------------------------------------------------------


def build_eml(subject: str, sender: str, text: str,
              cte: str = "7bit", multipart: bool = False) -> bytes:
    """-> RFC 5322 bytes; non-ASCII subjects emit RFC 2047 B words,
    bodies encode per cte, multipart wraps the text part behind an
    application/octet-stream decoy so the part WALK is
    load-bearing."""
    def hdr_word(s: str) -> str:
        if all(ord(c) < 128 for c in s):
            return s
        b = base64.b64encode(s.encode("utf-8")).decode("ascii")
        return f"=?utf-8?B?{b}?="

    if cte == "quoted-printable":
        body = quopri.encodestring(text.encode("utf-8"))
        ct = 'text/plain; charset="utf-8"'
    elif cte == "base64":
        body = base64.encodebytes(text.encode("utf-8"))
        ct = 'text/plain; charset="utf-8"'
    elif cte == "7bit":
        body = text.encode("ascii")
        ct = "text/plain"
    else:
        raise ValueError(f"fixture cte {cte}")
    head = (f"From: {hdr_word(sender)}\r\n"
            f"Subject: {hdr_word(subject)}\r\n"
            "MIME-Version: 1.0\r\n")
    if multipart:
        b = "fixt-boundary-42"
        inner = (f"Content-Type: {ct}\r\n"
                 f"Content-Transfer-Encoding: {cte}\r\n\r\n"
                 ).encode("ascii") + body
        decoy = (b"Content-Type: application/octet-stream\r\n"
                 b"Content-Transfer-Encoding: base64\r\n\r\n"
                 + base64.encodebytes(b"\x00\x01\x02"))
        return (head.encode("ascii")
                + f'Content-Type: multipart/mixed; boundary="{b}"'
                  "\r\n\r\npreamble\r\n".encode("ascii")
                + f"--{b}\r\n".encode() + decoy
                + f"\r\n--{b}\r\n".encode() + inner
                + f"\r\n--{b}--\r\nepilogue\r\n".encode())
    return (head.encode("ascii")
            + f"Content-Type: {ct}\r\n".encode("ascii")
            + f"Content-Transfer-Encoding: {cte}\r\n\r\n".encode()
            + body)


def build_mbox(messages: list[bytes]) -> bytes:
    """Per-message bytes -> mboxo archive: 'From ' postmarks with a
    fixed fake envelope, body 'From ' lines escaped with '>' (one
    more level per existing '>' prefix)."""
    out = bytearray()
    for msg in messages:
        out += b"From archive@example.test Thu Jan  1 00:00:00 " \
               b"2026\n"
        for line in msg.replace(b"\r\n", b"\n").split(b"\n"):
            if line.lstrip(b">").startswith(b"From "):
                line = b">" + line
            out += line + b"\n"
    return bytes(out)
