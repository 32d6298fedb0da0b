"""Pure-python PDF text extraction (and a minimal builder for fixtures).

The reference's S1 operator shells out to a PDF library
(PDFExtractor.ts:53-65,169: load document, iterate pages, extract text per
page). This container has no pypdf, so the text-extraction subset is
implemented here from the public PDF 1.7 spec (ISO 32000-1):

  * indirect-object scan (`N G obj … endobj`), honoring literal /Length
    and falling back to `endstream` search for binary-safe stream bounds
  * /FlateDecode stream decompression (zlib)
  * /Type /ObjStm object streams (PDF 1.5 compressed objects): header of
    (num, offset) pairs after decompression, contained objects re-parsed
  * page ordering via the document catalog: /Root → /Pages → /Kids walk
    (falling back to file order when the tree is unparseable)
  * content-stream tokenizer for the text-showing operators: Tj, TJ
    (arrays with kerning numbers), ' and "; Td/TD/T* emit line breaks;
    literal strings with escapes (\\n \\r \\t \\b \\f \\( \\) \\\\ \\ddd,
    line continuations) and hex strings <…>; UTF-16BE BOM detected, else
    UTF-8 with latin-1 fallback

This is NOT a full PDF renderer (no encryption, no per-font CMaps /
ToUnicode remapping — glyph-encoded fonts come out as their raw codes, the
same failure mode simple extractors share). It is byte-exact on the
uncompressed/Flate + simple-font PDFs the ingest pipeline synthesizes and
on the common "text PDF" shape.
"""

from __future__ import annotations

import re
import zlib

# --------------------------------------------------------------------------
# Object-level parsing
# --------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\s+\d+\s+R)")
_STREAM_RE = re.compile(rb"stream\r?\n")


def _scan_objects(data: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """Map object number -> (dict/body bytes, raw stream bytes or None).

    Scanning the whole file instead of trusting the xref table makes the
    parser robust to the incremental-update / broken-xref files real
    corpora are full of (and is how `qpdf --qdf` style recovery works).
    """
    objs: dict[int, tuple[bytes, bytes | None]] = {}
    pos = 0
    while True:
        m = _OBJ_RE.search(data, pos)
        if m is None:
            break
        num = int(m.group(1))
        body_start = m.end()
        sm = _STREAM_RE.search(data, body_start)
        # does a stream keyword belong to THIS object? (before its endobj)
        eo = data.find(b"endobj", body_start)
        if sm is not None and (eo == -1 or sm.start() < eo):
            head = data[body_start : sm.start()]
            s_start = sm.end()
            lm = _LENGTH_RE.search(head)
            if lm is not None:
                s_end = s_start + int(lm.group(1))
                # trust the literal /Length only if endstream follows
                tail = data[s_end : s_end + 20]
                if b"endstream" not in tail:
                    s_end = data.find(b"endstream", s_start)
            else:
                s_end = data.find(b"endstream", s_start)
            if s_end == -1:
                pos = body_start
                continue
            stream = data[s_start:s_end]
            # strip the optional EOL before endstream
            if stream.endswith(b"\r\n"):
                stream = stream[:-2]
            elif stream.endswith(b"\n") or stream.endswith(b"\r"):
                stream = stream[:-1]
            objs[num] = (head, stream)
            pos = data.find(b"endobj", s_end)
            pos = s_end if pos == -1 else pos + 6
        else:
            end = eo if eo != -1 else len(data)
            objs[num] = (data[body_start:end], None)
            pos = end + 6
        # first definition wins EXCEPT incremental updates append later
        # definitions — PDF semantics say the LAST one in file order is
        # current, which the loop naturally produces by overwriting.
    return objs


def _maybe_inflate(head: bytes, stream: bytes) -> bytes:
    if b"/FlateDecode" in head:
        try:
            return zlib.decompress(stream)
        except zlib.error:
            # two salvage passes: headered decompressobj tolerates
            # truncated tails / trailing garbage (unused_data), wbits=-15
            # is genuine raw deflate for writers that omit the zlib header
            # (default wbits would reject those outright). A stream
            # malformed beyond both is skipped, not propagated.
            for wbits in (zlib.MAX_WBITS, -zlib.MAX_WBITS):
                try:
                    out = zlib.decompressobj(wbits).decompress(stream)
                except zlib.error:
                    continue
                if out:
                    return out
            return b""
    return stream


def _expand_object_streams(objs: dict[int, tuple[bytes, bytes | None]]) -> None:
    """Inline objects stored in /Type /ObjStm streams (PDF 1.5+)."""
    for num in list(objs):
        head, stream = objs[num]
        if stream is None or b"/ObjStm" not in head:
            continue
        n_m = re.search(rb"/N\s+(\d+)", head)
        first_m = re.search(rb"/First\s+(\d+)", head)
        if n_m is None or first_m is None:
            continue
        payload = _maybe_inflate(head, stream)
        n, first = int(n_m.group(1)), int(first_m.group(1))
        header = payload[:first].split()
        pairs = [
            (int(header[2 * i]), int(header[2 * i + 1]))
            for i in range(min(n, len(header) // 2))
        ]
        for i, (onum, off) in enumerate(pairs):
            start = first + off
            end = first + pairs[i + 1][1] if i + 1 < len(pairs) else len(payload)
            if onum not in objs:  # top-level (updated) definitions win
                objs[onum] = (payload[start:end], None)


_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")


def _page_order(objs: dict[int, tuple[bytes, bytes | None]]) -> list[int]:
    """Object numbers of /Type /Page nodes in catalog tree order."""
    root = None
    for num, (head, _) in objs.items():
        if b"/Type" in head and b"/Catalog" in head:
            m = re.search(rb"/Pages\s+(\d+)\s+\d+\s+R", head)
            if m:
                root = int(m.group(1))
                break
    pages: list[int] = []

    def walk(num: int, depth: int = 0) -> None:
        if depth > 64 or num not in objs:
            return
        head, _ = objs[num]
        if re.search(rb"/Type\s*/Page\b(?!s)", head):
            pages.append(num)
            return
        kids_m = re.search(rb"/Kids\s*\[([^\]]*)\]", head)
        if kids_m:
            for m in _REF_RE.finditer(kids_m.group(1)):
                walk(int(m.group(1)), depth + 1)

    if root is not None:
        walk(root)
    if not pages:  # no/broken catalog: fall back to file order
        pages = [
            num
            for num, (head, _) in sorted(objs.items())
            if re.search(rb"/Type\s*/Page\b(?!s)", head)
        ]
    return pages


# --------------------------------------------------------------------------
# Content-stream text extraction
# --------------------------------------------------------------------------

_ESCAPES = {
    ord("n"): b"\n", ord("r"): b"\r", ord("t"): b"\t",
    ord("b"): b"\b", ord("f"): b"\f",
    ord("("): b"(", ord(")"): b")", ord("\\"): b"\\",
}


def _read_literal_string(data: bytes, i: int) -> tuple[bytes, int]:
    """data[i] == '(' ; returns (raw bytes, index past closing paren)."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(data)
    while i < n and depth > 0:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if e in _ESCAPES:
                out += _ESCAPES[e]
                i += 1
            elif 0x30 <= e <= 0x37:  # octal \ddd (1-3 digits)
                oct_digits = bytearray([e])
                i += 1
                while i < n and len(oct_digits) < 3 and 0x30 <= data[i] <= 0x37:
                    oct_digits.append(data[i])
                    i += 1
                out.append(int(oct_digits.decode(), 8) & 0xFF)
            elif e in (0x0A, 0x0D):  # line continuation
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:  # unknown escape: emit as-is per spec
                out.append(e)
                i += 1
        elif c == 0x28:  # (
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth > 0:
                out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return bytes(out), i


def _read_hex_string(data: bytes, i: int) -> tuple[bytes, int]:
    """data[i] == '<' (and data[i+1] != '<'); returns (bytes, index past >)."""
    end = data.find(b">", i)
    if end == -1:
        end = len(data)
    hex_part = re.sub(rb"\s", b"", data[i + 1 : end])
    if len(hex_part) % 2:
        hex_part += b"0"
    try:
        return bytes.fromhex(hex_part.decode("ascii")), end + 1
    except ValueError:
        return b"", end + 1


def _decode_pdf_bytes(raw: bytes) -> str:
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", errors="replace")
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


_TOKEN_RE = re.compile(rb"[A-Za-z'\"*]+")


def extract_page_text(content: bytes) -> str:
    """Extract shown text from one (decompressed) content stream."""
    out: list[str] = []
    strings_since_open: list[bytes] = []
    last_string: bytes | None = None
    i, n = 0, len(content)
    while i < n:
        c = content[i]
        if c == 0x28:  # (
            raw, i = _read_literal_string(content, i)
            last_string = raw
            strings_since_open.append(raw)
            continue
        if c == 0x3C:  # <
            if i + 1 < n and content[i + 1] == 0x3C:  # << dict
                i += 2
                continue
            raw, i = _read_hex_string(content, i)
            last_string = raw
            strings_since_open.append(raw)
            continue
        if c == 0x5B:  # [
            strings_since_open = []
            i += 1
            continue
        if c == 0x25:  # % comment
            j = content.find(b"\n", i)
            i = n if j == -1 else j + 1
            continue
        m = _TOKEN_RE.match(content, i)
        if m:
            op = m.group()
            if op == b"Tj" and last_string is not None:
                out.append(_decode_pdf_bytes(last_string))
                # consume the buffer so a later TJ (malformed stream whose
                # '[' the tokenizer skipped) can't re-emit this string
                strings_since_open = []
            elif op == b"TJ":
                out.append("".join(_decode_pdf_bytes(s) for s in strings_since_open))
                strings_since_open = []
            elif op in (b"'", b'"') and last_string is not None:
                out.append("\n")
                out.append(_decode_pdf_bytes(last_string))
                strings_since_open = []
            elif op in (b"Td", b"TD", b"T*"):
                if out:
                    out.append("\n")
            i = m.end()
            continue
        i += 1
    return "".join(out)


def extract_pdf_text(data: bytes) -> list[str]:
    """Per-page extracted text for a PDF byte string."""
    objs = _scan_objects(data)
    _expand_object_streams(objs)
    pages = []
    for pnum in _page_order(objs):
        head, _ = objs[pnum]
        content_nums: list[int] = []
        arr_m = re.search(rb"/Contents\s*\[([^\]]*)\]", head)
        if arr_m:
            content_nums = [int(m.group(1)) for m in _REF_RE.finditer(arr_m.group(1))]
        else:
            ref_m = re.search(rb"/Contents\s+(\d+)\s+\d+\s+R", head)
            if ref_m:
                content_nums = [int(ref_m.group(1))]
        parts = []
        for cnum in content_nums:
            if cnum not in objs:
                continue
            chead, cstream = objs[cnum]
            if cstream is None:
                continue
            parts.append(extract_page_text(_maybe_inflate(chead, cstream)))
        pages.append("".join(parts))
    return pages


# --------------------------------------------------------------------------
# Minimal builder (fixtures + synthesized ingest sources)
# --------------------------------------------------------------------------


def _escape_pdf_string(text: str) -> bytes:
    """UTF-8 bytes with ( ) \\ and control bytes escaped — round-trips
    exactly through _read_literal_string + _decode_pdf_bytes."""
    out = bytearray()
    for b in text.encode("utf-8"):
        if b in (0x28, 0x29, 0x5C):
            out += b"\\" + bytes([b])
        elif b == 0x0A:
            out += b"\\n"
        elif b == 0x0D:
            out += b"\\r"
        elif b < 0x20:
            out += ("\\%03o" % b).encode()
        else:
            out.append(b)
    return bytes(out)


def build_simple_pdf(pages: list[str], compress: bool = False) -> bytes:
    """A complete single-font PDF: catalog, pages tree, one content stream
    per page (optionally FlateDecode), classic xref table + trailer."""
    objects: list[bytes] = []  # 1-indexed bodies, object i+1
    n_pages = len(pages)
    # obj 1: catalog, obj 2: pages, obj 3: font
    # page i: obj 4+2i, content i: obj 5+2i
    kids = b" ".join(b"%d 0 R" % (4 + 2 * i) for i in range(n_pages))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages
    )
    objects.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    for i, text in enumerate(pages):
        page_num = 4 + 2 * i
        content_num = 5 + 2 * i
        objects.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> "
            b"/Contents %d 0 R >>" % content_num
        )
        stream = (
            b"BT /F1 12 Tf 72 720 Td (" + _escape_pdf_string(text) + b") Tj ET"
        )
        filt = b""
        if compress:
            stream = zlib.compress(stream)
            filt = b"/Filter /FlateDecode "
        objects.append(
            b"<< " + filt + b"/Length %d >>\nstream\n" % len(stream)
            + stream
            + b"\nendstream"
        )
        assert len(objects) == content_num

    buf = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, body in enumerate(objects, 1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_pos = len(buf)
    buf += b"xref\n0 %d\n" % (len(objects) + 1)
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += b"%010d 00000 n \n" % off
    buf += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, xref_pos)
    )
    return bytes(buf)
