"""RTF text extraction — r5 third session: the last document format
in BarkingOwl's doc-type family still unread (.rtf was THE exchange
format of the .doc era; crawled archives are full of it). Family
convention: stdlib only, ValueError for corrupt input — RTF has no
valid-but-unsupported shapes at this scope because unknown control
words are SPEC-DEFINED to be ignorable.

The deterministic core of the RTF 1.x grammar:

  * group nesting {...} with state (the \\ucN skip count) saved and
    restored per group, as the spec requires;
  * control words \\word with optional signed numeric parameter and
    the optional single-space delimiter (consumed, per spec);
    \\par ends a paragraph (n_paras counts them) and \\line is a
    newline inside one (both emit '\\n'), \\tab maps to TAB,
    \\~ to space, and the escapes \\\\ \\{ \\} to their literals;
  * \\'hh hex-escaped bytes decoded as cp1252 (the \\ansi default);
  * \\uN unicode code points (negative N is N + 65536, the signed
    16-bit convention) followed by the \\ucN fallback-character
    skip — fallback text that would double-extract is consumed;
  * \\binN raw-byte runs skipped entirely (binary is not text);
  * destination groups that carry non-document text — fonttbl,
    colortbl, stylesheet, info, pict, header/footer and every
    starred {\\*\\...} destination — are skipped whole.
  * build_rtf: the fixture writer — grouped paragraphs with escape
    and hex-byte coverage.

Spark surface: operators/multimodal.rtf_texts; driver query
rtf_texts pins the walk against a paragraph-formula oracle.
"""

from __future__ import annotations

_SKIP_DESTS = {"fonttbl", "colortbl", "stylesheet", "info", "pict",
               "header", "footer", "headerl", "headerr", "footerl",
               "footerr", "ftnsep", "ftnsepc"}

_WORD_MAP = {"par": "\n", "line": "\n", "tab": "\t",
             "emdash": "\u2014", "endash": "\u2013",
             "lquote": "\u2018", "rquote": "\u2019",
             "ldblquote": "\u201c", "rdblquote": "\u201d",
             "bullet": "\u2022"}


def extract_rtf_text(payload: bytes) -> tuple[int, str]:
    """payload -> (n_paras, text): paragraphs end at \\par (a final
    unterminated run of text is one more); text joins them with '\\n'
    and keeps each \\line as an in-paragraph '\\n'."""
    try:
        s = payload.decode("cp1252")
    except UnicodeDecodeError as e:
        raise ValueError(f"undecodable RTF bytes: {e}") from e
    if not s.startswith("{\\rtf"):
        raise ValueError("not an RTF document (missing {\\rtf)")
    out: list[str] = []
    i = 0
    n = len(s)
    depth = 0
    uc = 1
    uc_stack: list[int] = []
    skip_depth: int | None = None
    pending_skip = 0  # \ucN fallback chars to consume after \uN
    n_par = 0
    par_end = 0  # len(out) just after the last emitted \par

    def emit(ch: str) -> bool:
        nonlocal pending_skip
        if pending_skip > 0:
            pending_skip -= 1
            return False
        if skip_depth is None:
            out.append(ch)
            return True
        return False

    while i < n:
        c = s[i]
        if c == "{":
            depth += 1
            uc_stack.append(uc)
            i += 1
        elif c == "}":
            if depth == 0:
                raise ValueError("unbalanced RTF group close")
            depth -= 1
            uc = uc_stack.pop()
            if skip_depth is not None and depth < skip_depth:
                skip_depth = None
            i += 1
        elif c == "\\":
            if i + 1 >= n:
                raise ValueError("dangling RTF backslash")
            nc = s[i + 1]
            if nc in "\\{}":
                emit(nc)
                i += 2
            elif nc == "~":
                emit("\u00a0")
                i += 2
            elif nc in "-_":
                i += 2  # optional/non-breaking hyphens: drop
            elif nc == "'":
                if i + 4 > n:
                    raise ValueError("truncated \\'hh escape")
                emit(bytes([int(s[i + 2:i + 4], 16)]).decode(
                    "cp1252"))
                i += 4
            elif nc == "*":
                # starred destination: skip the enclosing group
                if skip_depth is None:
                    skip_depth = depth
                i += 2
            elif nc.isalpha():
                j = i + 1
                while j < n and s[j].isalpha():
                    j += 1
                word = s[i + 1:j]
                k = j
                if k < n and (s[k] == "-" or s[k].isdigit()):
                    k += 1
                    while k < n and s[k].isdigit():
                        k += 1
                param = s[j:k]
                if k < n and s[k] == " ":
                    k += 1  # the space delimiter belongs to the word
                if word == "u":
                    if not param:
                        raise ValueError("\\u without a code point")
                    cp = int(param)
                    if cp < 0:
                        cp += 65536
                    emit(chr(cp))
                    pending_skip += uc
                elif word == "uc":
                    uc = int(param) if param else 1
                elif word == "bin":
                    blen = int(param) if param else 0
                    k += blen  # raw bytes: not text
                elif word in _SKIP_DESTS:
                    if skip_depth is None:
                        skip_depth = depth
                elif word in _WORD_MAP:
                    if emit(_WORD_MAP[word]) and word == "par":
                        n_par += 1
                        par_end = len(out)
                # every other control word is ignorable per spec
                i = k
            else:
                raise ValueError(
                    f"bad RTF control symbol \\{nc!r}")
        elif c in "\r\n":
            i += 1  # raw newlines are not document text
        else:
            emit(c)
            i += 1
    if depth != 0:
        raise ValueError("unbalanced RTF group open")
    if out and par_end == len(out):
        out.pop()  # trailing \par closes the last paragraph
    elif len(out) > par_end:
        n_par += 1  # unterminated last paragraph
    return n_par, "".join(out)


def build_rtf(paras: list[str]) -> bytes:
    """Paragraph texts -> RTF bytes: a real header group (fonttbl
    the reader must skip), escape coverage for the brace/backslash
    literals, and non-ASCII via \\'hh when cp1252 can carry it or
    \\uN with a '?' fallback otherwise."""
    body: list[str] = []
    for p in paras:
        for ch in p:
            if ch in "\\{}":
                body.append("\\" + ch)
            elif ch == "\t":
                body.append("\\tab ")
            elif ord(ch) < 128:
                body.append(ch)
            else:
                try:
                    b = ch.encode("cp1252")
                    body.append(f"\\'{b[0]:02x}")
                except UnicodeEncodeError:
                    cp = ord(ch)
                    if cp > 32767:
                        cp -= 65536
                    body.append(f"\\u{cp}?")
        body.append("\\par\n")
    doc = ("{\\rtf1\\ansi\\deff0"
           "{\\fonttbl{\\f0 Times New Roman;}}"
           "\\uc1 " + "".join(body) + "}")
    return doc.encode("cp1252")
