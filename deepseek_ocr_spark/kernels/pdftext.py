"""Minimal pure-stdlib PDF text extraction (north_rule: "PDF/layout parse").

The reference rasterizes PDF pages and OCRs them (run_dpsk_ocr_pdf.py via
fitz + the vision model); this module is the complementary TEXT-LAYER path
a training-data pipeline runs first — extract embedded text where it
exists, rasterize+OCR only the rest. Like kernels/pixels.py, it is an
honest documented SUBSET with zero native deps:

  SUPPORTED: classic (non-stream) xref PDFs; PDF 1.5+ cross-reference
  STREAMS (ISO 32000 §7.5.8: /Type/XRef with /W field widths, /Index
  subsections, /Prev chain, FlateDecode + PNG /Predictor ≥ 10) and
  OBJECT STREAMS (§7.5.7: /Type/ObjStm with /N pairs + /First); objects
  `N 0 obj … endobj`; page content streams raw or /FlateDecode (zlib is
  stdlib); text operators Tj, ' (quote), TJ arrays; literal `(…)`-strings
  with \\-escapes and octal; hex `<…>`-strings (byte-per-2-hex); newline
  on Td/TD/T*/'; CID/Type0 multi-byte text via the embedded /ToUnicode
  CMap (§9.10.3: codespacerange width, bfchar, bfrange incl. array form;
  active font tracked through Tf, /Resources inline/indirect/inherited);
  ENCRYPTED PDFs (standard security handler §7.6.3/§7.6.4) with an
  EMPTY user password — the owner-restrictions-only shape readers open
  transparently: RC4 (V1/V2 R2/R3), AES-128-CBC (V4/R4 /CFM /AESV2,
  incl. /EncryptMetadata false), and AES-256-CBC (V5 R5/R6 /AESV3 with
  the ISO 32000-2 Algorithm 2.B iterated-hash KDF); encrypted OBJECT
  streams decrypt too (two-pass resolve — the Encrypt dict itself is
  never inside an ObjStm, §7.5.7).
  NOT supported (returns what it can, never raises): non-empty user
  passwords, the public-key (PKCS#7) security handler, crypt filters
  other than Identity/V2/AESV2/AESV3; Type0 fonts WITHOUT a /ToUnicode
  CMap (their codes are font-internal).
  A hostile or unsupported payload yields fewer/empty pages, not an
  exception — the same quarantine rule as every other source.

Determinism: pure byte scanning + zlib; identical output on every
executor, so the extracted text column is safe to hash for dedup.
"""

from __future__ import annotations

import re
import zlib

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)endobj", re.S)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.S)
_STREAM_START_RE = re.compile(rb"stream\r?\n")
# direct /Length only — the ([0-9\s]*R) lookahead rejects indirect
# references like `/Length 8 0 R` (and any backtracked digit prefix)
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?![0-9\s]*R)")
# inline-image data terminator: whitespace-delimited EI
_EI_RE = re.compile(rb"\sEI(?=\s|$)")
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R")
_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[(.*?)\]", re.S)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_PAGE_RE = re.compile(rb"/Type\s*/Page\b(?!s)")
_PAGES_RE = re.compile(rb"/Type\s*/Pages\b")
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.S)


def _ordered_page_nums(objs: dict[int, bytes]) -> list[int]:
    """Page object numbers in DISPLAY order: DFS over the /Pages /Kids
    tree (object numbering is arbitrary after edits/merges — /Kids order
    is the document order). Pages unreachable from any tree (or documents
    with no /Pages node at all) fall back to object-number order."""
    page_nums = {n for n, b in objs.items() if _PAGE_RE.search(b)}
    pages_nodes = {n for n, b in objs.items() if _PAGES_RE.search(b)}
    kids_of: dict[int, list[int]] = {}
    referenced: set[int] = set()
    for n in pages_nodes:
        m = _KIDS_RE.search(objs[n])
        kids = [int(k.group(1)) for k in _REF_RE.finditer(m.group(1))] if m else []
        kids_of[n] = kids
        referenced.update(k for k in kids if k in pages_nodes)
    order: list[int] = []
    seen: set[int] = set()

    def dfs(n: int) -> None:
        if n in seen:
            return
        seen.add(n)
        if n in page_nums:
            order.append(n)
        for k in kids_of.get(n, []):
            dfs(k)

    for root in sorted(pages_nodes - referenced):
        dfs(root)
    for n in sorted(page_nums):
        if n not in seen:
            order.append(n)
    return order


def _objects(data: bytes) -> dict[int, bytes]:
    return {int(m.group(1)): m.group(3) for m in _OBJ_RE.finditer(data)}


# --- PDF 1.5+ cross-reference streams + object streams ------------------------
# ISO 32000-1 §7.5.8 (/Type/XRef: /W field widths, /Index subsections,
# /Prev chain, PNG-predicted Flate) and §7.5.7 (/Type/ObjStm: /N pairs in
# the first /First bytes). The reference opens these via fitz
# (vllm/run_dpsk_ocr_pdf.py:64-95); here they are parsed natively so modern
# PDFs hit the cheap text-layer path instead of silently routing to OCR.

_OBJ_HDR_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_W_RE = re.compile(rb"/W\s*\[\s*(\d+)\s+(\d+)\s+(\d+)\s*\]")
_SIZE_RE = re.compile(rb"/Size\s+(\d+)")
_INDEX_RE = re.compile(rb"/Index\s*\[([\d\s]*)\]")
_PREV_RE = re.compile(rb"/Prev\s+(\d+)")
_PREDICTOR_RE = re.compile(rb"/Predictor\s+(\d+)")
_COLUMNS_RE = re.compile(rb"/Columns\s+(\d+)")
_XREF_TYPE_RE = re.compile(rb"/Type\s*/XRef\b")
_OBJSTM_TYPE_RE = re.compile(rb"/Type\s*/ObjStm\b")
_N_RE = re.compile(rb"/N\s+(\d+)")
_FIRST_RE = re.compile(rb"/First\s+(\d+)")
_INT_RE = re.compile(rb"\d+")


def _png_unpredict(raw: bytes, columns: int) -> bytes:
    """Undo PNG row prediction (/Predictor ≥ 10) on an xref stream: each
    row is a filter byte + `columns` bytes, bpp = 1 (/Colors 1, /BPC 8 —
    the xref-stream defaults). Rows are ~5 bytes; pure Python is fine."""
    if columns <= 0:
        return b""
    rowlen = columns + 1
    out = bytearray()
    prev = bytearray(columns)
    for r in range(0, len(raw) - rowlen + 1, rowlen):
        ft = raw[r]
        row = bytearray(raw[r + 1 : r + rowlen])
        if ft == 1:  # Sub
            for i in range(1, columns):
                row[i] = (row[i] + row[i - 1]) & 0xFF
        elif ft == 2:  # Up
            for i in range(columns):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(columns):
                left = row[i - 1] if i else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(columns):
                a = row[i - 1] if i else 0
                b = prev[i]
                c = prev[i - 1] if i else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        out += row
        prev = row
    return bytes(out)


def _balanced_dict_end(data: bytes, i: int) -> int:
    """`i` at the opening `<<`; returns the index just past the matching
    `>>`, skipping `(…)` literals and `<…>` hex strings. Raises ValueError
    on unbalanced input."""
    depth = 0
    n = len(data)
    while i < n:
        two = data[i : i + 2]
        if two == b"<<":
            depth += 1
            i += 2
        elif two == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return i
        elif data[i : i + 1] == b"(":
            _, i = _literal_string(data, i)
        elif data[i : i + 1] == b"<":  # hex string
            j = data.find(b">", i)
            if j == -1:
                raise ValueError("unterminated hex string")
            i = j + 1
        else:
            i += 1
    raise ValueError("unbalanced dict")


def _object_at(data: bytes, off: int) -> tuple[int, bytes] | None:
    """Parse the indirect object starting at byte `off` (an xref type-1
    entry). Stream extents come from the dict's direct /Length so binary
    streams containing b"endobj" cannot truncate the body (the scavenge
    regex's known weakness). Returns (objnum, body) or None."""
    m = _OBJ_HDR_RE.match(data, off)
    if m is None:  # tolerate slightly-off offsets (leading whitespace)
        m = _OBJ_HDR_RE.search(data, off, off + 32)
        if m is None:
            return None
    num = int(m.group(1))
    i = m.end()
    n = len(data)
    while i < n and data[i : i + 1].isspace():
        i += 1
    if data[i : i + 2] == b"<<":
        try:
            de = _balanced_dict_end(data, i)
        except ValueError:
            return None
        j = de
        while j < n and data[j : j + 1].isspace():
            j += 1
        if data[j : j + 6] == b"stream":
            sm = _STREAM_START_RE.match(data, j)
            if sm is None:
                return None
            start = sm.end()
            lm = _LENGTH_RE.search(data, i, de)
            end = None
            if lm:
                length = int(lm.group(1))
                tail = data[start + length : start + length + 16]
                if re.match(rb"\s*endstream", tail):
                    end = start + length
            if end is None:
                em = data.find(b"endstream", start)
                if em == -1:
                    return None
                end = em
            eo = data.find(b"endobj", end)
            if eo == -1:
                eo = min(n, end + len(b"endstream") + 4)
            return num, data[m.end() : eo]
        eo = data.find(b"endobj", de)
        if eo == -1:
            return None
        return num, data[m.end() : eo]
    eo = data.find(b"endobj", i)
    if eo == -1:
        return None
    return num, data[m.end() : eo]


def _xref_stream_entries(data: bytes) -> dict[int, tuple] | None:
    """Walk the cross-reference-stream chain from the LAST startxref
    through /Prev. Returns {objnum: ('o', offset) | ('c', objstm_num,
    idx)}; first-seen wins (the chain runs newest→oldest, so newer
    incremental updates shadow older definitions). None when the document
    has no parseable xref stream (classic PDFs → scavenge path)."""
    sx = data.rfind(b"startxref")
    if sx == -1:
        return None
    m = re.match(rb"startxref\s+(\d+)", data[sx : sx + 64])
    if m is None:
        return None
    off = int(m.group(1))
    entries: dict[int, tuple] = {}
    seen_offsets: set[int] = set()
    while 0 <= off < len(data) and off not in seen_offsets:
        seen_offsets.add(off)
        got = _object_at(data, off)
        if got is None:
            break
        _, body = got
        sm = _STREAM_START_RE.search(body)
        head = body[: sm.start()] if sm else body
        if not _XREF_TYPE_RE.search(head):
            break  # classic xref table → not a stream chain
        wm = _W_RE.search(head)
        zm = _SIZE_RE.search(head)
        stream = _stream_of(body)
        if wm is None or zm is None or stream is None:
            break
        pm = _PREDICTOR_RE.search(head)
        if pm and int(pm.group(1)) >= 10:
            cm = _COLUMNS_RE.search(head)
            w = [int(wm.group(k)) for k in (1, 2, 3)]
            cols = int(cm.group(1)) if cm else sum(w)
            stream = _png_unpredict(stream, cols)
        w0, w1, w2 = (int(wm.group(k)) for k in (1, 2, 3))
        rowlen = w0 + w1 + w2
        if rowlen <= 0:
            break
        size = int(zm.group(1))
        im = _INDEX_RE.search(head)
        if im:
            ints = [int(x) for x in _INT_RE.findall(im.group(1))]
            index = list(zip(ints[0::2], ints[1::2]))
        else:
            index = [(0, size)]
        pos = 0
        for start, count in index:
            for objnum in range(start, start + count):
                row = stream[pos : pos + rowlen]
                pos += rowlen
                if len(row) < rowlen:
                    break
                f0 = int.from_bytes(row[:w0], "big") if w0 else 1
                f1 = int.from_bytes(row[w0 : w0 + w1], "big")
                f2 = int.from_bytes(row[w0 + w1 :], "big")
                if objnum in entries:
                    continue
                if f0 == 1:
                    entries[objnum] = ("o", f1)
                elif f0 == 2:
                    entries[objnum] = ("c", f1, f2)
        prm = _PREV_RE.search(head)
        if prm is None:
            break
        off = int(prm.group(1))
    return entries or None


def _objstm_members(body: bytes, decrypt=None) -> dict[int, bytes]:
    """Expand one /Type/ObjStm: the decompressed stream starts with /N
    (objnum, offset) integer pairs in its first /First bytes; member i's
    body spans [First+off_i, First+off_{i+1}). ``decrypt`` (already bound
    to the ObjStm's own object number) applies to the stored stream bytes
    before Flate; member strings are NOT separately encrypted (§7.5.7)."""
    stream = _stream_of(body, decrypt=decrypt)
    sm = _STREAM_START_RE.search(body)
    head = body[: sm.start()] if sm else body
    nm = _N_RE.search(head)
    fm = _FIRST_RE.search(head)
    if stream is None or nm is None or fm is None:
        return {}
    n_objs = int(nm.group(1))
    first = int(fm.group(1))
    if first > len(stream) or n_objs <= 0 or n_objs > 1 << 20:
        return {}
    ints = [int(x) for x in _INT_RE.findall(stream[:first])]
    pairs = list(zip(ints[0::2], ints[1::2]))[:n_objs]
    members: dict[int, bytes] = {}
    for i, (num, o) in enumerate(pairs):
        end = pairs[i + 1][1] if i + 1 < len(pairs) else len(stream) - first
        if 0 <= o <= end <= len(stream) - first:
            members[num] = stream[first + o : first + end]
    return members


def _resolve_objects(data: bytes, dec=None) -> dict[int, bytes]:
    """All reachable objects: the classic regex scavenge, then — when a
    cross-reference-stream chain parses — the chain's type-1 offsets
    override scavenged duplicates (incremental updates leave stale copies
    the last-match scavenge would otherwise keep) and its type-2 entries
    pull member objects out of their /Type/ObjStm containers. Without a
    usable chain, every scavenged ObjStm is still expanded (members fill
    only missing numbers) so modern PDFs with a damaged trailer keep
    their page dicts. ``dec`` ((objnum, raw) → plain) decrypts ObjStm
    stream bytes when the document is encrypted — extract_pdf_text
    resolves twice, building the decryptor from the first (classic-object)
    pass, since the Encrypt dict is never itself in an ObjStm. Never
    raises."""
    objs = _objects(data)

    def members(stm: int) -> dict[int, bytes]:
        try:
            return _objstm_members(
                objs.get(stm, b""),
                decrypt=(lambda raw, n=stm: dec(n, raw)) if dec is not None else None,
            )
        except Exception:
            return {}

    try:
        xref = _xref_stream_entries(data)
    except Exception:
        xref = None
    if xref:
        for num, ent in xref.items():
            if ent[0] == "o":
                got = _object_at(data, ent[1])
                if got is not None and got[0] == num:
                    objs[num] = got[1]
        cache: dict[int, dict[int, bytes]] = {}
        for num, ent in xref.items():
            if ent[0] == "c":
                stm = ent[1]
                if stm not in cache:
                    cache[stm] = members(stm)
                if num in cache[stm]:
                    objs[num] = cache[stm][num]
    else:
        for num in sorted(objs):
            if _OBJSTM_TYPE_RE.search(objs[num]):
                for mnum, mbody in members(num).items():
                    objs.setdefault(mnum, mbody)
    return objs


def _stream_of(body: bytes, decrypt=None) -> bytes | None:
    """Stream body, bounded by the dict's direct /Length when present and
    consistent (compressed bytes may legitimately contain "\\nendstream",
    which would truncate the non-greedy regex scan); falls back to the
    regex for missing/indirect/implausible lengths — degrade, don't raise.
    ``decrypt`` (raw→plain, already bound to the object number) runs BEFORE
    any filter — PDF encryption applies to the stored stream bytes."""
    sm = _STREAM_START_RE.search(body)
    if sm is None:
        return None
    start = sm.end()
    raw = None
    lm = _LENGTH_RE.search(body[: sm.start()])
    if lm:
        length = int(lm.group(1))
        cand = body[start : start + length]
        tail = body[start + length : start + length + 16]
        if len(cand) == length and re.match(rb"\s*endstream", tail):
            raw = cand
    if raw is None:
        m = _STREAM_RE.search(body)
        if m is None:
            return None
        raw = m.group(1)
    if decrypt is not None:
        try:
            raw = decrypt(raw)
        except Exception:
            return None
    if b"/FlateDecode" in body[: sm.start()]:
        try:
            return zlib.decompress(raw)
        except zlib.error:
            return None
    return raw


def _content_refs(page_body: bytes) -> list[int]:
    arr = _CONTENTS_ARR_RE.search(page_body)
    if arr:
        return [int(m.group(1)) for m in _REF_RE.finditer(arr.group(1))]
    one = _CONTENTS_RE.search(page_body)
    return [int(one.group(1))] if one else []


_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _literal_string(s: bytes, i: int) -> tuple[bytes, int]:
    """Parse a `(…)` literal starting at s[i] == '('; returns (bytes, next)."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(s)
    while i < n and depth:
        c = s[i : i + 1]
        if c == b"\\" and i + 1 < n:
            nxt = s[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
                continue
            if nxt.isdigit():  # octal, up to 3 digits
                j = i + 1
                while j < min(i + 4, n) and s[j : j + 1].isdigit():
                    j += 1
                out.append(int(s[i + 1 : j], 8) & 0xFF)
                i = j
                continue
            i += 2  # line continuation / unknown escape: drop backslash
            continue
        if c == b"(":
            depth += 1
        elif c == b")":
            depth -= 1
            if not depth:
                i += 1
                break
        if depth:
            out += c
        i += 1
    return bytes(out), i


def _hex_string(s: bytes, i: int) -> tuple[bytes, int]:
    j = s.index(b">", i)
    hx = re.sub(rb"\s", b"", s[i + 1 : j])
    if len(hx) % 2:
        hx += b"0"
    try:
        return bytes.fromhex(hx.decode("ascii")), j + 1
    except ValueError:
        return b"", j + 1


def _extract_stream_text(
    content: bytes, fonts: dict[bytes, tuple[dict[int, str], int] | None] | None = None
) -> str:
    """Walk text-showing operators in one content stream.

    ``fonts`` maps resource names (b"F1") to (ToUnicode cmap, code byte
    width) for CID/Type0 fonts, or None for simple fonts; the walker
    tracks the active font via Tf and decodes shown strings through the
    active cmap (multi-byte CIDs → unicode) or latin-1 (simple fonts,
    today's behavior)."""
    parts: list[str] = []
    pending: list[bytes] = []  # strings seen since the last operator
    last_name: bytes = b""  # most recent /Name token (the Tf operand)
    decoder: tuple[dict[int, str], int] | None = None
    i = 0
    n = len(content)

    def flush() -> list[str]:
        if decoder is None:
            return [s.decode("latin-1") for s in pending]
        cmap, width = decoder
        out = []
        for raw in pending:
            chars = []
            for k in range(0, len(raw) - width + 1, width):
                u = cmap.get(int.from_bytes(raw[k : k + width], "big"))
                if u:
                    chars.append(u)
            out.append("".join(chars))
        return out

    while i < n:
        c = content[i : i + 1]
        if c == b"(":
            s, i = _literal_string(content, i)
            pending.append(s)
            continue
        if c == b"<" and content[i + 1 : i + 2] != b"<":
            try:
                s, i = _hex_string(content, i)
            except ValueError:
                break
            pending.append(s)
            continue
        if c == b"/":
            j = i + 1
            while j < n and content[j : j + 1] not in b" \t\r\n/<>[]()%":
                j += 1
            last_name = content[i + 1 : j]
            i = j
            continue
        if c.isalpha() or c in (b"'", b'"'):
            j = i
            while j < n and (content[j : j + 1].isalpha() or content[j : j + 1] in (b"*", b"'", b'"')):
                j += 1
            op = content[i:j]
            if op == b"BI":
                # inline image: binary sample data between ID and a
                # whitespace-delimited EI would otherwise be walked as text
                # operators (stray parens → garbage strings). Skip the whole
                # section; unterminated data ends the stream walk.
                id_pos = content.find(b"ID", j)
                if id_pos == -1:
                    break
                ei = _EI_RE.search(content, id_pos + 2)
                if ei is None:
                    break
                pending.clear()
                i = ei.end()
                continue
            if op == b"Tf" and fonts is not None:
                decoder = fonts.get(last_name)
            elif op in (b"Tj", b"TJ"):
                parts.extend(flush())
            elif op in (b"'", b'"'):
                parts.append("\n")
                parts.extend(flush())
            elif op in (b"Td", b"TD", b"T*"):
                if parts:
                    parts.append("\n")
            pending.clear()
            i = j
            continue
        if c in b")>":  # stray closers on malformed input
            i += 1
            continue
        i += 1
    return "".join(parts)


# --- CID/Type0 fonts: /ToUnicode CMap decoding -------------------------------
# A Type0 (composite) font shows multi-byte character CODES; the embedded
# /ToUnicode CMap (ISO 32000 §9.10.3) maps code ranges to unicode. Parsing
# it closes the CID gap: modern generators (word processors, browsers)
# emit Identity-H Type0 fonts almost exclusively.

_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_CODESPACE_RE = re.compile(rb"begincodespacerange(.*?)endcodespacerange", re.S)
_HEXPAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_HEX1_RE = re.compile(rb"<([0-9A-Fa-f]+)>")
_BFRANGE_ROW_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(<[0-9A-Fa-f]+>|\[.*?\])", re.S
)
_FONT_DICT_RE = re.compile(rb"/Font\s*(<<|\d+\s+\d+\s+R)")
_RESOURCES_RE = re.compile(rb"/Resources\s*(<<|\d+\s+\d+\s+R)")
_TOUNICODE_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")
_PARENT_RE = re.compile(rb"/Parent\s+(\d+)\s+\d+\s+R")
_NAME_REF_RE = re.compile(rb"/(\w+)\s+(\d+)\s+\d+\s+R")
_CMAP_CAP = 1 << 16  # bound hostile bfrange expansion


def _u16(hexstr: bytes) -> str:
    try:
        return bytes.fromhex(hexstr.decode("ascii")).decode("utf-16-be", "ignore")
    except ValueError:
        return ""


def _parse_tounicode(stream: bytes) -> tuple[dict[int, str], int]:
    """CMap stream → (code→unicode map, code byte width). Width comes from
    the codespacerange (default 2 — Identity-H); range expansion is capped
    so a hostile <0000> <FFFFFFFF> range cannot blow memory."""
    width = 2
    cs = _CODESPACE_RE.search(stream)
    if cs:
        m = _HEXPAIR_RE.search(cs.group(1))
        if m:
            width = max(1, len(m.group(1)) // 2)
    mapping: dict[int, str] = {}
    for m in _BFCHAR_RE.finditer(stream):
        for src, dst in _HEXPAIR_RE.findall(m.group(1)):
            if len(mapping) >= _CMAP_CAP:
                return mapping, width
            mapping[int(src, 16)] = _u16(dst)
    for m in _BFRANGE_RE.finditer(stream):
        for lo, hi, dst in _BFRANGE_ROW_RE.findall(m.group(1)):
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            hi_i = min(hi_i, lo_i + _CMAP_CAP)  # bound expansion
            if dst.startswith(b"["):
                dsts = _HEX1_RE.findall(dst)
                for k, d in enumerate(dsts[: hi_i - lo_i + 1]):
                    if len(mapping) >= _CMAP_CAP:
                        return mapping, width
                    mapping[lo_i + k] = _u16(d)
            else:
                dhex = dst.strip(b"<>")
                try:
                    base = bytes.fromhex(dhex.decode("ascii"))
                except ValueError:
                    continue
                for k in range(hi_i - lo_i + 1):
                    if len(mapping) >= _CMAP_CAP:
                        return mapping, width
                    # increment applies to the code value (§9.10.3: last
                    # byte(s) incremented; carry is fine for BMP text)
                    val = int.from_bytes(base, "big") + k
                    try:
                        mapping[lo_i + k] = val.to_bytes(
                            len(base), "big"
                        ).decode("utf-16-be", "ignore")
                    except OverflowError:
                        break
    return mapping, width


def _inline_or_ref_dict(objs: dict[int, bytes], body: bytes, m) -> bytes | None:
    """The dict following a key that may be inline (<<…>>) or an indirect
    reference; returns the dict bytes or None."""
    if m.group(1) == b"<<":
        try:
            end = _balanced_dict_end(body, m.start(1))
        except ValueError:
            return None
        return body[m.start(1) : end]
    ref = int(m.group(1).split()[0])
    return objs.get(ref)


def _page_fonts(
    objs: dict[int, bytes], page_body: bytes, dec=None
) -> dict[bytes, tuple[dict[int, str], int] | None]:
    """Resource name → ToUnicode decoder (or None for simple fonts) for a
    page; /Resources may be inline, indirect, or inherited from the
    /Parent chain (bounded walk)."""
    body = page_body
    fonts: dict[bytes, tuple[dict[int, str], int] | None] = {}
    for _ in range(32):
        rm = _RESOURCES_RE.search(body)
        if rm:
            res = _inline_or_ref_dict(objs, body, rm)
            if res:
                fm = _FONT_DICT_RE.search(res)
                if fm:
                    fdict = _inline_or_ref_dict(objs, res, fm)
                    if fdict:
                        for name, ref in _NAME_REF_RE.findall(fdict):
                            font_obj = objs.get(int(ref))
                            decoder = None
                            if font_obj is not None:
                                tm = _TOUNICODE_RE.search(font_obj)
                                if tm:
                                    cm_num = int(tm.group(1))
                                    cm_stream = _stream_of(
                                        objs.get(cm_num, b""),
                                        decrypt=(
                                            (lambda raw, n=cm_num: dec(n, raw))
                                            if dec is not None
                                            else None
                                        ),
                                    )
                                    if cm_stream:
                                        decoder = _parse_tounicode(cm_stream)
                            fonts[name] = decoder
            break
        pm = _PARENT_RE.search(body)
        if pm is None:
            break
        parent = objs.get(int(pm.group(1)))
        if parent is None:
            break
        body = parent
    return fonts


def _document_objects(data: bytes):
    """(objects, decryptor) of a whole document — the object-stream-aware
    resolve every page-level reader shares. The decryptor is None for
    unencrypted input; ValueError for unsupported encryption / a wrong
    password (callers degrade)."""
    objs = _resolve_objects(data)
    dec = _build_decryptor(data, objs)
    if dec is not None:
        # second pass: ObjStm containers decrypt now that the key is
        # known (pass 1's encrypted ObjStms failed Flate → no members)
        objs = _resolve_objects(data, dec)
    return objs, dec


def extract_pdf_text(data: bytes) -> list[str]:
    """PDF bytes → per-page extracted text (see module docstring for the
    supported subset). Unsupported/hostile input degrades to fewer or
    empty pages; never raises."""
    try:
        objs, dec = _document_objects(data)
        pages = []
        for num in _ordered_page_nums(objs):
            body = objs[num]
            try:
                fonts = _page_fonts(objs, body, dec)
            except Exception:
                fonts = {}
            texts = []
            for ref in _content_refs(body):
                stream = _stream_of(
                    objs.get(ref, b""),
                    decrypt=(
                        (lambda raw, n=ref: dec(n, raw)) if dec is not None else None
                    ),
                )
                if stream:
                    texts.append(_extract_stream_text(stream, fonts))
            pages.append("".join(texts))
        return pages
    except Exception:
        return []


# --- fixture writer (tests + datagen; kept here so writer and parser ----------
# --- stay in one reviewable module) -------------------------------------------


def make_simple_pdf(pages: list[str], compress: bool = True) -> bytes:
    """A minimal valid PDF with one content stream per page — Flate or raw.
    Text is emitted line-by-line with Tj + Td so the parser's newline rule
    round-trips."""

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    objs: list[bytes] = []
    n_pages = len(pages)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    for i, text in enumerate(pages):
        content_ref = 4 + 2 * i
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {content_ref} 0 R >>".encode()
        )
        lines = text.split("\n")
        ops = ["BT /F1 12 Tf 72 720 Td"]
        for k, line in enumerate(lines):
            if k:
                ops.append("0 -14 Td")
            ops.append(f"({esc(line)}) Tj")
        ops.append("ET")
        stream = " ".join(ops).encode("latin-1")
        if compress:
            comp = zlib.compress(stream)
            objs.append(
                f"<< /Length {len(comp)} /Filter /FlateDecode >>".encode()
                + b"\nstream\n" + comp + b"\nendstream"
            )
        else:
            objs.append(
                f"<< /Length {len(stream)} >>".encode()
                + b"\nstream\n" + stream + b"\nendstream"
            )

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def make_modern_pdf(
    pages: list[str], compress: bool = True, encrypt_r: int | None = None
) -> bytes:
    """A PDF 1.5 fixture: catalog/pages/page dicts live inside a
    /Type/ObjStm; content streams stay top-level (the spec forbids streams
    inside object streams); the cross-reference is a /Type/XRef stream
    with W [1 4 2] and PNG Up prediction (/Predictor 12) — the layout
    modern generators emit, exercising every lane of the 1.5+ reader.
    Tests carry an independent hand-built fixture as the spec; this writer
    exists for corpus datagen and e2e mixes. ``encrypt_r`` adds standard-
    handler encryption (see _fixture_crypt): content AND ObjStm streams
    encrypt, the XRef stream stays plain (§7.5.8.2), the Encrypt dict is a
    top-level object — the real-world modern encrypted shape."""
    import hashlib

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    n_pages = len(pages)
    # object numbering: 1 catalog, 2 pages node, page i → dict 3+2i (in
    # the ObjStm), content 4+2i (top-level); then ObjStm, [Encrypt,] then
    # XRef stream
    objstm_num = 3 + 2 * n_pages
    enc_num = objstm_num + 1 if encrypt_r is not None else None
    xref_num = objstm_num + (2 if encrypt_r is not None else 1)
    size = xref_num + 1

    id0 = hashlib.md5(b"modern-fixture-id" + str(n_pages).encode()).digest()
    if encrypt_r is not None:
        enc_dict, enc_stream = _fixture_crypt(encrypt_r, b"owner", id0)
    else:
        enc_dict, enc_stream = b"", lambda num, plain: plain

    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    compressed_members: list[tuple[int, bytes]] = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()),
    ]
    top_level: dict[int, bytes] = {}
    for i, text in enumerate(pages):
        content_num = 4 + 2 * i
        compressed_members.append(
            (
                3 + 2 * i,
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Contents {content_num} 0 R >>".encode(),
            )
        )
        lines = text.split("\n")
        ops = ["BT /F1 12 Tf 72 720 Td"]
        for k, line in enumerate(lines):
            if k:
                ops.append("0 -14 Td")
            ops.append(f"({esc(line)}) Tj")
        ops.append("ET")
        stream = " ".join(ops).encode("latin-1")
        if compress:
            comp = enc_stream(content_num, zlib.compress(stream))
            top_level[content_num] = (
                f"<< /Length {len(comp)} /Filter /FlateDecode >>".encode()
                + b"\nstream\n" + comp + b"\nendstream"
            )
        else:
            raw = enc_stream(content_num, stream)
            top_level[content_num] = (
                f"<< /Length {len(raw)} >>".encode()
                + b"\nstream\n" + raw + b"\nendstream"
            )

    # object stream: header = "num off" pairs, bodies at /First + off
    heads = []
    bodies = bytearray()
    for num, body in compressed_members:
        heads.append(f"{num} {len(bodies)}")
        bodies += body + b"\n"
    header = (" ".join(heads) + "\n").encode()
    payload = header + bytes(bodies)
    comp_payload = enc_stream(objstm_num, zlib.compress(payload))
    top_level[objstm_num] = (
        f"<< /Type /ObjStm /N {len(compressed_members)} /First {len(header)} "
        f"/Length {len(comp_payload)} /Filter /FlateDecode >>".encode()
        + b"\nstream\n" + comp_payload + b"\nendstream"
    )
    if enc_num is not None:
        top_level[enc_num] = enc_dict

    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}
    for num in sorted(top_level):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + top_level[num] + b"\nendobj\n"

    # xref stream rows, W = [1 4 2]
    member_idx = {num: i for i, (num, _) in enumerate(compressed_members)}
    rows: list[bytes] = []
    for num in range(size):
        if num == 0:
            rows.append(b"\x00" + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big"))
        elif num in member_idx:
            rows.append(
                b"\x02" + objstm_num.to_bytes(4, "big")
                + member_idx[num].to_bytes(2, "big")
            )
        else:
            off = offsets[num] if num in offsets else len(out)  # xref stream itself
            rows.append(b"\x01" + off.to_bytes(4, "big") + (0).to_bytes(2, "big"))
    rowlen = 7
    # PNG Up prediction: filter byte 2, row minus previous row
    pred = bytearray()
    prev = bytes(rowlen)
    for row in rows:
        pred += b"\x02" + bytes((row[i] - prev[i]) & 0xFF for i in range(rowlen))
        prev = row
    comp_xref = zlib.compress(bytes(pred))
    xref_at = len(out)
    enc_entry = (
        f"/Encrypt {enc_num} 0 R /ID [<{id0.hex().upper()}> "
        f"<{id0.hex().upper()}>] "
        if enc_num is not None
        else ""
    )
    out += (
        f"{xref_num} 0 obj\n<< /Type /XRef /Size {size} /W [1 4 2] "
        f"/Root 1 0 R {enc_entry}/Filter /FlateDecode "
        f"/DecodeParms << /Predictor 12 /Columns {rowlen} >> "
        f"/Length {len(comp_xref)} >>".encode()
        + b"\nstream\n" + comp_xref + b"\nendstream\nendobj\n"
    )
    out += f"startxref\n{xref_at}\n%%EOF\n".encode()
    return bytes(out)


def make_cid_pdf(pages: list[str]) -> bytes:
    """A classic-xref fixture whose text is shown through an Identity-H
    Type0 font with 2-byte codes and a /ToUnicode CMap (codes assigned in
    order of first appearance per page, split across bfchar AND bfrange
    sections so both parse lanes are exercised)."""
    objs: list[bytes] = []
    n_pages = len(pages)
    kids = " ".join(f"{3 + 3 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
    for i, text in enumerate(pages):
        page_num = 3 + 3 * i
        content_num = page_num + 1
        font_num = page_num + 2
        cmap_num = len(pages) * 3 + 3 + i
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 {font_num} 0 R >> >> "
            f"/Contents {content_num} 0 R >>".encode()
        )
        # code assignment: distinct chars in appearance order, code = 1+idx
        chars: list[str] = []
        for ch in text.replace("\n", ""):
            if ch not in chars:
                chars.append(ch)
        code_of = {ch: k + 1 for k, ch in enumerate(chars)}
        ops = ["BT /F1 12 Tf 72 720 Td"]
        for k, line in enumerate(text.split("\n")):
            if k:
                ops.append("0 -14 Td")
            hexstr = "".join(f"{code_of[ch]:04X}" for ch in line)
            ops.append(f"<{hexstr}> Tj")
        ops.append("ET")
        stream = " ".join(ops).encode("ascii")
        objs.append(
            f"<< /Length {len(stream)} >>".encode()
            + b"\nstream\n" + stream + b"\nendstream"
        )
        objs.append(
            f"<< /Type /Font /Subtype /Type0 /BaseFont /Fixture "
            f"/Encoding /Identity-H /ToUnicode {cmap_num} 0 R >>".encode()
        )
    # CMap objects appended after all pages so numbering stays stable
    for i, text in enumerate(pages):
        chars = []
        for ch in text.replace("\n", ""):
            if ch not in chars:
                chars.append(ch)
        half = len(chars) // 2
        bfchar_rows = "\n".join(
            f"<{k + 1:04X}> <{ord(ch):04X}>" for k, ch in enumerate(chars[:half])
        )
        bfrange_rows = "\n".join(
            f"<{k + 1:04X}> <{k + 1:04X}> <{ord(ch):04X}>"
            for k, ch in enumerate(chars)
            if k >= half
        )
        cmap = (
            "/CIDInit /ProcSet findresource begin\n"
            "begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
            f"{max(1, half)} beginbfchar\n{bfchar_rows}\nendbfchar\n"
            f"{max(1, len(chars) - half)} beginbfrange\n{bfrange_rows}\nendbfrange\n"
            "end"
        ).encode("ascii")
        objs.append(
            f"<< /Length {len(cmap)} >>".encode()
            + b"\nstream\n" + cmap + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


# --- encrypted PDFs: standard security handler ------------------------------
# ISO 32000-1 §7.6.3 / 32000-2 §7.6.4: the common "owner password only"
# case — the USER password is empty, so readers open the file transparently
# while edit permissions are restricted. Supported flavors: RC4 (V1/V2,
# R2/R3), AES-128-CBC (V4/R4, /CFM /AESV2, kernels/aescrypt.py), and
# AES-256-CBC (V5, R5/R6, /CFM /AESV3 with the Algorithm 2.B KDF).
# Anything else (public-key handler, unknown crypt filters, non-empty user
# passwords) raises ValueError inside extract_pdf_text's guard and the
# document degrades to empty pages like every other unsupported flavor.

_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)
_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+\d+\s+R")
_ID_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f]*)>\s*<([0-9A-Fa-f]*)>")
_FILTER_STD_RE = re.compile(rb"/Filter\s*/Standard\b")
_V_RE = re.compile(rb"/V\s+(\d+)")
_R_RE = re.compile(rb"/R\s+(\d+)")
_P_RE = re.compile(rb"/P\s+(-?\d+)")
_KEYLEN_RE = re.compile(rb"/Length\s+(\d+)")
_O_HEX_RE = re.compile(rb"/O\s*<([0-9A-Fa-f]+)>")
_U_HEX_RE = re.compile(rb"/U\s*<([0-9A-Fa-f]+)>")
_O_LIT_RE = re.compile(rb"/O\s*\(")
_U_LIT_RE = re.compile(rb"/U\s*\(")
_UE_HEX_RE = re.compile(rb"/UE\s*<([0-9A-Fa-f]+)>")
_UE_LIT_RE = re.compile(rb"/UE\s*\(")
_CFM_RE = re.compile(rb"/CFM\s*/(\w+)")
_ENCMETA_FALSE_RE = re.compile(rb"/EncryptMetadata\s+false\b")


def _rc4(key: bytes, data: bytes) -> bytes:
    S = list(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for k, ch in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[k] = ch ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _pw_bytes(body: bytes, hex_re, lit_re) -> bytes | None:
    """/O and /U values: hex string or literal string form."""
    m = hex_re.search(body)
    if m:
        try:
            return bytes.fromhex(m.group(1).decode("ascii"))
        except ValueError:
            return None
    m = lit_re.search(body)
    if m:
        s, _ = _literal_string(body, m.end() - 1)
        return s
    return None


def _std_security_key(
    enc: bytes, id0: bytes, password: bytes = b""
) -> tuple[bytes, int, str] | None:
    """Algorithm 2: the file encryption key for the standard handler,
    returned as (key, revision, method) where method is "rc4" or "aesv2";
    None when the dict is not a supported V1/V2/V4 flavor (V5 has its own
    derivation, _aes256_decryptor)."""
    import hashlib

    if not _FILTER_STD_RE.search(enc):
        return None
    vm, rm, pm = _V_RE.search(enc), _R_RE.search(enc), _P_RE.search(enc)
    o = _pw_bytes(enc, _O_HEX_RE, _O_LIT_RE)
    if vm is None or rm is None or pm is None or o is None:
        return None
    v, r, p = int(vm.group(1)), int(rm.group(1)), int(pm.group(1))
    method = "rc4"
    if v in (1, 2) and r in (2, 3):
        pass
    elif v == 4 and r == 4:
        # V4 names its stream filter via /CF; only the two standard crypt
        # filter methods are in scope (Identity would mean "not encrypted")
        cm = _CFM_RE.search(enc)
        if cm is None:
            return None
        if cm.group(1) == b"AESV2":
            method = "aesv2"
        elif cm.group(1) != b"V2":
            return None
    else:
        return None  # V5 handled separately; anything else unsupported
    n = 5
    if v >= 2:
        lm = _KEYLEN_RE.search(enc)
        n = 16 if v == 4 else 5
        if lm:
            n = max(5, min(16, int(lm.group(1)) // 8))
    padded = (password + _PAD)[:32]
    h = hashlib.md5(
        padded + o[:32] + (p & 0xFFFFFFFF).to_bytes(4, "little") + id0
    )
    if r >= 4 and _ENCMETA_FALSE_RE.search(enc):
        h.update(b"\xff\xff\xff\xff")  # Algorithm 2 step f
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n], r, method


def _verify_empty_user_pw(enc: bytes, id0: bytes, key: bytes, r: int) -> bool:
    """Algorithm 6 check for the EMPTY user password (the transparent-open
    case this reader supports)."""
    import hashlib

    u = _pw_bytes(enc, _U_HEX_RE, _U_LIT_RE)
    if u is None:
        return False
    if r == 2:
        return _rc4(key, _PAD) == u[:32]
    x = _rc4(key, hashlib.md5(_PAD + id0).digest())
    for i in range(1, 20):
        x = _rc4(bytes(b ^ i for b in key), x)
    return x == u[:16]


def _hash_2b(password: bytes, salt: bytes, udata: bytes) -> bytes:
    """ISO 32000-2 Algorithm 2.B (R6) iterated hash: SHA-256 seeded, then
    rounds of AES-128-CBC over 64 repetitions of (password+K+udata) with
    the digest family re-chosen by E's leading 16 bytes mod 3, until
    round ≥ 64 and E's last byte ≤ round − 32. An independent transcription
    is pinned equal in tests/test_pdf_source.py."""
    import hashlib

    from . import aescrypt

    k = hashlib.sha256(password + salt + udata).digest()
    rnd = 0
    while True:
        rnd += 1
        k1 = (password + k + udata) * 64
        e = aescrypt.cbc_encrypt(k[:16], k[16:32], k1, pad=False)
        k = [hashlib.sha256, hashlib.sha384, hashlib.sha512][
            int.from_bytes(e[:16], "big") % 3
        ](e).digest()
        if rnd >= 64 and e[-1] <= rnd - 32:
            return k[:32]


def _aes256_decryptor(enc: bytes):
    """V5 (R5/R6) standard handler, EMPTY user password: verify /U's hash,
    derive the intermediate key from the key salt, unwrap the 32-byte file
    key from /UE (AES-256-CBC, zero IV, no padding). Per-object keys do
    not exist in V5 — the file key is used directly (§7.6.4.3)."""
    import hashlib

    from . import aescrypt

    rm = _R_RE.search(enc)
    cm = _CFM_RE.search(enc)
    r = int(rm.group(1)) if rm else 0
    if r not in (5, 6) or cm is None or cm.group(1) != b"AESV3":
        raise ValueError("encrypted PDF: unsupported V5 flavor")
    u = _pw_bytes(enc, _U_HEX_RE, _U_LIT_RE)
    ue = _pw_bytes(enc, _UE_HEX_RE, _UE_LIT_RE)
    if u is None or len(u) < 48 or ue is None or len(ue) < 32:
        raise ValueError("encrypted PDF: malformed /U or /UE")
    vsalt, ksalt = u[32:40], u[40:48]
    if r == 5:
        check = hashlib.sha256(vsalt).digest()
        ikey = hashlib.sha256(ksalt).digest()
    else:
        check = _hash_2b(b"", vsalt, b"")
        ikey = _hash_2b(b"", ksalt, b"")
    if check != u[:32]:
        raise ValueError("encrypted PDF: non-empty user password")
    file_key = aescrypt.cbc_decrypt(ikey, b"\x00" * 16, ue[:32], unpad=False)

    def decrypt(objnum: int, raw: bytes, gen: int = 0) -> bytes:
        if len(raw) < 32 or len(raw) % 16:
            raise ValueError("bad AES stream size")
        return aescrypt.cbc_decrypt(file_key, raw[:16], raw[16:])

    return decrypt


def _build_decryptor(data: bytes, objs: dict[int, bytes]):
    """None for unencrypted input; a (objnum, raw)->plain callable when the
    trailer references a supported standard-handler dict (RC4, AESV2, or
    AESV3) and the empty user password verifies; raises ValueError (caught
    by extract_pdf_text) for encrypted-but-unsupported so the document
    degrades to empty."""
    import hashlib

    from . import aescrypt

    em = None
    for em in _ENCRYPT_REF_RE.finditer(data):
        pass  # last occurrence wins (incremental updates)
    if em is None:
        return None
    enc = objs.get(int(em.group(1)))
    idm = _ID_RE.search(data)
    if enc is None:
        raise ValueError("encrypted PDF: missing Encrypt dict")
    vm = _V_RE.search(enc)
    if vm is not None and int(vm.group(1)) == 5:
        # only the standard handler (§7.6.4); /PubSec et al. are unsupported
        if not _FILTER_STD_RE.search(enc):
            raise ValueError("encrypted PDF: unsupported security handler")
        return _aes256_decryptor(enc)
    id0 = bytes.fromhex(idm.group(1).decode("ascii")) if idm else b""
    got = _std_security_key(enc, id0)
    if got is None:
        raise ValueError("encrypted PDF: unsupported security handler")
    key, r, method = got
    if not _verify_empty_user_pw(enc, id0, key, r):
        raise ValueError("encrypted PDF: non-empty user password")

    def objkey(objnum: int, gen: int, salt: bytes) -> bytes:
        return hashlib.md5(
            key + objnum.to_bytes(3, "little") + gen.to_bytes(2, "little") + salt
        ).digest()[: min(len(key) + 5, 16)]

    if method == "aesv2":

        def decrypt(objnum: int, raw: bytes, gen: int = 0) -> bytes:
            # Algorithm 1 step b: the AES flavor appends the sAlT marker
            if len(raw) < 32 or len(raw) % 16:
                raise ValueError("bad AES stream size")
            return aescrypt.cbc_decrypt(
                objkey(objnum, gen, b"sAlT"), raw[:16], raw[16:]
            )

    else:

        def decrypt(objnum: int, raw: bytes, gen: int = 0) -> bytes:
            return _rc4(objkey(objnum, gen, b""), raw)

    return decrypt


def _fixture_crypt(r: int, owner_password: bytes, id0: bytes):
    """(enc_dict, enc_stream) for the encrypted fixture writers: the
    standard-handler credentials for revision r with an EMPTY user
    password. R2 → V1/RC4-40, R3 → V2/RC4-128, R4 → V4/AESV2
    (AES-128-CBC), R5/R6 → V5/AESV3 (AES-256-CBC, R6 via the Algorithm 2.B
    KDF). Streams encrypt with the per-object key (Algorithm 1) or the V5
    file key; /O /U (/OE /UE /Perms) follow Algorithms 3/4/5 (V≤4) or
    8/9/10 (V5). IVs are derived from object numbers so fixtures are
    task-retry deterministic."""
    import hashlib

    from . import aescrypt

    p = -44  # typical restrictive permissions

    if r in (2, 3, 4):
        v = {2: 1, 3: 2, 4: 4}[r]
        n = 5 if r == 2 else 16

        # Algorithm 3: /O from the owner password
        okey = hashlib.md5((owner_password + _PAD)[:32]).digest()
        if r >= 3:
            for _ in range(50):
                okey = hashlib.md5(okey).digest()
        okey = okey[:n]
        o = _rc4(okey, _PAD)  # empty user password → padded user pw == _PAD
        if r >= 3:
            for i in range(1, 20):
                o = _rc4(bytes(b ^ i for b in okey), o)

        # Algorithm 2: the file key (empty user password)
        key = hashlib.md5(
            _PAD + o + (p & 0xFFFFFFFF).to_bytes(4, "little") + id0
        ).digest()
        if r >= 3:
            for _ in range(50):
                key = hashlib.md5(key[:n]).digest()
        key = key[:n]

        # Algorithms 4/5: /U
        if r == 2:
            u = _rc4(key, _PAD)
        else:
            u = _rc4(key, hashlib.md5(_PAD + id0).digest())
            for i in range(1, 20):
                u = _rc4(bytes(b ^ i for b in key), u)
            u = u + b"\x00" * 16  # 16 arbitrary padding bytes per spec

        def objkey(num: int, salt: bytes = b"", gen: int = 0) -> bytes:
            return hashlib.md5(
                key + num.to_bytes(3, "little") + gen.to_bytes(2, "little") + salt
            ).digest()[: min(n + 5, 16)]

        if r == 4:

            def enc_stream(num: int, plain: bytes) -> bytes:
                iv = hashlib.md5(b"aes-iv" + num.to_bytes(3, "little")).digest()
                return iv + aescrypt.cbc_encrypt(objkey(num, b"sAlT"), iv, plain)

            enc_dict = (
                f"<< /Filter /Standard /V 4 /R 4 /Length 128 /P {p} "
                f"/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen "
                f"/Length 16 >> >> /StmF /StdCF /StrF /StdCF "
                f"/O <{o.hex().upper()}> /U <{u.hex().upper()}> >>"
            ).encode()
        else:

            def enc_stream(num: int, plain: bytes) -> bytes:
                return _rc4(objkey(num), plain)

            enc_dict = (
                f"<< /Filter /Standard /V {v} /R {r} /Length {n * 8} "
                f"/P {p} /O <{o.hex().upper()}> /U <{u.hex().upper()}> >>"
            ).encode()
    elif r in (5, 6):
        kdf = (
            _hash_2b
            if r == 6
            else (lambda pw, salt, ud: hashlib.sha256(pw + salt + ud).digest())
        )
        uvsalt = hashlib.md5(b"uv-salt").digest()[:8]
        uksalt = hashlib.md5(b"uk-salt").digest()[:8]
        ovsalt = hashlib.md5(b"ov-salt").digest()[:8]
        oksalt = hashlib.md5(b"ok-salt").digest()[:8]
        file_key = hashlib.sha256(b"fixture-file-key").digest()
        u = kdf(b"", uvsalt, b"") + uvsalt + uksalt  # Algorithm 8
        ue = aescrypt.cbc_encrypt(
            kdf(b"", uksalt, b""), b"\x00" * 16, file_key, pad=False
        )
        o = kdf(owner_password, ovsalt, u) + ovsalt + oksalt  # Algorithm 9
        oe = aescrypt.cbc_encrypt(
            kdf(owner_password, oksalt, u), b"\x00" * 16, file_key, pad=False
        )
        perms_plain = (  # Algorithm 10
            (p & 0xFFFFFFFF).to_bytes(4, "little")
            + b"\xff\xff\xff\xff"
            + b"Tadb"
            + hashlib.md5(b"perms-rand").digest()[:4]
        )
        perms = aescrypt.encrypt_block(file_key, perms_plain)

        def enc_stream(num: int, plain: bytes) -> bytes:
            iv = hashlib.md5(b"aes-iv" + num.to_bytes(3, "little")).digest()
            return iv + aescrypt.cbc_encrypt(file_key, iv, plain)

        enc_dict = (
            f"<< /Filter /Standard /V 5 /R {r} /Length 256 /P {p} "
            f"/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen "
            f"/Length 32 >> >> /StmF /StdCF /StrF /StdCF "
            f"/O <{o.hex().upper()}> /U <{u.hex().upper()}> "
            f"/OE <{oe.hex().upper()}> /UE <{ue.hex().upper()}> "
            f"/Perms <{perms.hex().upper()}> >>"
        ).encode()
    else:
        raise ValueError(f"unsupported fixture revision {r}")
    return enc_dict, enc_stream


def make_encrypted_pdf(
    pages: list[str], r: int = 3, owner_password: bytes = b"owner"
) -> bytes:
    """A classic-xref fixture encrypted with the standard security handler
    (see _fixture_crypt for the supported revisions), empty USER password —
    the owner-restrictions-only shape readers open transparently."""
    import hashlib

    id0 = hashlib.md5(b"fixture-id" + str(len(pages)).encode()).digest()
    enc_dict, enc_stream = _fixture_crypt(r, owner_password, id0)

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    objs: list[bytes] = []
    n_pages = len(pages)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
    for i, text in enumerate(pages):
        content_num = 4 + 2 * i
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {content_num} 0 R >>".encode()
        )
        ops = ["BT /F1 12 Tf 72 720 Td"]
        for k, line in enumerate(text.split("\n")):
            if k:
                ops.append("0 -14 Td")
            ops.append(f"({esc(line)}) Tj")
        ops.append("ET")
        cipher = enc_stream(content_num, " ".join(ops).encode("latin-1"))
        objs.append(
            f"<< /Length {len(cipher)} >>".encode()
            + b"\nstream\n" + cipher + b"\nendstream"
        )
    enc_num = len(objs) + 1
    objs.append(enc_dict)
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R "
        f"/Encrypt {enc_num} 0 R /ID [<{id0.hex().upper()}> "
        f"<{id0.hex().upper()}>] >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)
