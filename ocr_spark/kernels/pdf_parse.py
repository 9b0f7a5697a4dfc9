"""Pure-Python PDF text-run scanner: PDF bytes -> pages of text blocks.

Replaces the round-1 synthetic ``%OCRPAYLOAD%`` boundary (VERDICT.md next
item 1) with a real byte-level PDF parser. Scope: everything needed to
extract positioned text runs from text-based PDFs —

- classic ``xref`` tables (with ``/Prev`` chains) AND PDF 1.5+
  cross-reference streams (``/W``/``/Index``, PNG predictors 10-15);
- object streams (``/Type /ObjStm``) for compressed objects;
- ``FlateDecode`` / ``ASCIIHexDecode`` stream filters (chained);
- page-tree walk with ``/MediaBox`` / ``/Resources`` inheritance;
- a content-stream interpreter covering the text machinery
  (``BT/ET Tf Td TD Tm T* TL Tc Tw Tz Ts Tj TJ ' "``) plus the graphics
  state that affects text placement (``q Q cm``);
- per-run bounds from font metrics (``/Widths``/``/FontDescriptor`` when
  present, standard-14 defaults otherwise), normalized EXACTLY like the
  reference parser: ``[l/W, (H-t)/H, r/W, (H-b)/H]``
  (/root/reference/utils/text/parsers/pdf_parser.py:103-108) and the same
  empty-run skip rule (pdf_parser.py:111-113).

One block is emitted per text-showing operator, in content-stream order —
the order contract expected by ``kernels/pdf_layout.py`` (W8/W9).

A malformed xref degrades to a brute-force ``N G obj`` scan; any other
parse failure raises ``PdfError`` (callers degrade per-document).
"""

from __future__ import annotations

import re
import zlib


class PdfError(ValueError):
    pass


class Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num, self.gen = num, gen

    def __repr__(self):
        return f"Ref({self.num},{self.gen})"

    def __eq__(self, other):
        return isinstance(other, Ref) and (self.num, self.gen) == (other.num, other.gen)

    def __hash__(self):
        return hash((self.num, self.gen))


class Stream:
    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes):
        self.dict, self.raw = d, raw


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_OP_RE = re.compile(rb"[A-Za-z'\"*]+[0-9]*")


def _skip_ws(data: bytes, pos: int) -> int:
    n = len(data)
    while pos < n:
        c = data[pos]
        if c in _WS:
            pos += 1
        elif c == 0x25:  # '%' comment to EOL
            while pos < n and data[pos] not in b"\r\n":
                pos += 1
        else:
            break
    return pos


def _parse_name(data: bytes, pos: int):
    # pos at '/'
    pos += 1
    out = bytearray()
    n = len(data)
    while pos < n:
        c = data[pos]
        if c in _WS or c in _DELIM:
            break
        if c == 0x23 and pos + 2 < n:  # '#xx' escape
            try:
                out.append(int(data[pos + 1 : pos + 3], 16))
                pos += 3
                continue
            except ValueError:
                pass
        out.append(c)
        pos += 1
    return "/" + out.decode("latin-1"), pos


_STR_ESC = {
    0x6E: b"\n", 0x72: b"\r", 0x74: b"\t", 0x62: b"\b", 0x66: b"\f",
    0x28: b"(", 0x29: b")", 0x5C: b"\\",
}


def _parse_literal_string(data: bytes, pos: int):
    # pos at '('
    pos += 1
    out = bytearray()
    depth = 1
    n = len(data)
    while pos < n:
        c = data[pos]
        if c == 0x5C:  # backslash
            pos += 1
            if pos >= n:
                break
            e = data[pos]
            if e in _STR_ESC:
                out += _STR_ESC[e]
                pos += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                oct_digits = bytearray()
                while pos < n and 0x30 <= data[pos] <= 0x37 and len(oct_digits) < 3:
                    oct_digits.append(data[pos])
                    pos += 1
                out.append(int(oct_digits, 8) & 0xFF)
            elif e in b"\r\n":  # line continuation
                pos += 1
                if e == 0x0D and pos < n and data[pos] == 0x0A:
                    pos += 1
            else:
                out.append(e)
                pos += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            pos += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                pos += 1
                break
            out.append(c)
            pos += 1
        else:
            out.append(c)
            pos += 1
    return bytes(out), pos


def _parse_hex_string(data: bytes, pos: int):
    # pos at '<' (single)
    end = data.find(b">", pos)
    if end < 0:
        raise PdfError("unterminated hex string")
    hx = re.sub(rb"[^0-9A-Fa-f]", b"", data[pos + 1 : end])
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii")), end + 1


def parse_value(data: bytes, pos: int):
    """Parse one PDF object at pos; returns (obj, new_pos)."""
    pos = _skip_ws(data, pos)
    if pos >= len(data):
        raise PdfError("unexpected EOF")
    c = data[pos]
    if c == 0x2F:  # /
        return _parse_name(data, pos)
    if c == 0x28:  # (
        return _parse_literal_string(data, pos)
    if c == 0x3C:  # < or <<
        if data[pos : pos + 2] == b"<<":
            return _parse_dict(data, pos)
        return _parse_hex_string(data, pos)
    if c == 0x5B:  # [
        pos += 1
        arr = []
        while True:
            pos = _skip_ws(data, pos)
            if pos >= len(data):
                raise PdfError("unterminated array")
            if data[pos] == 0x5D:
                return arr, pos + 1
            v, pos = parse_value(data, pos)
            arr.append(v)
    if data.startswith(b"true", pos):
        return True, pos + 4
    if data.startswith(b"false", pos):
        return False, pos + 5
    if data.startswith(b"null", pos):
        return None, pos + 4
    m = _NUM_RE.match(data, pos)
    if m:
        tok = m.group(0)
        after = _skip_ws(data, m.end())
        # lookahead for 'num gen R' indirect reference
        if b"." not in tok and not tok.startswith(b"-"):
            m2 = _NUM_RE.match(data, after)
            if m2 and b"." not in m2.group(0):
                after2 = _skip_ws(data, m2.end())
                if data.startswith(b"R", after2) and (
                    after2 + 1 >= len(data)
                    or data[after2 + 1] in _WS
                    or data[after2 + 1] in _DELIM
                ):
                    return Ref(int(tok), int(m2.group(0))), after2 + 1
        if b"." in tok:
            return float(tok), m.end()
        return int(tok), m.end()
    raise PdfError(f"cannot parse object at {pos}: {data[pos:pos+20]!r}")


def _parse_dict(data: bytes, pos: int):
    pos += 2  # <<
    d = {}
    while True:
        pos = _skip_ws(data, pos)
        if data.startswith(b">>", pos):
            return d, pos + 2
        if pos >= len(data):
            raise PdfError("unterminated dict")
        if data[pos] != 0x2F:
            raise PdfError(f"dict key must be a name at {pos}")
        k, pos = _parse_name(data, pos)
        v, pos = parse_value(data, pos)
        d[k] = v


def _png_unpredict(data: bytes, columns: int) -> bytes:
    """PNG row unfilter (predictors 10-15): filters None/Sub/Up/Avg/Paeth.

    Deliberately duplicates the bpp=1 case of imagecodec._png_unfilter:
    this module stays numpy-free (pure-bytes kernel), and xref-stream rows
    are tiny (a few bytes x a few thousand rows)."""
    row_len = columns
    out = bytearray()
    prev = bytearray(row_len)
    pos = 0
    while pos + 1 + row_len <= len(data):
        ftype = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + row_len])
        pos += 1 + row_len
        if ftype == 1:  # Sub
            for i in range(1, row_len):
                row[i] = (row[i] + row[i - 1]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(row_len):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(row_len):
                left = row[i - 1] if i else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(row_len):
                a = row[i - 1] if i else 0
                b = prev[i]
                cc = prev[i - 1] if i else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                row[i] = (row[i] + pred) & 0xFF
        elif ftype != 0:
            raise PdfError(f"unknown PNG filter {ftype}")
        out += row
        prev = row
    return bytes(out)


class Document:
    """Random-access PDF object store: xref chain (tables + streams),
    object streams, indirect-reference resolution."""

    def __init__(self, data: bytes):
        self.data = data
        self.offsets: dict[int, int] = {}          # objnum -> byte offset
        self.in_objstm: dict[int, tuple[int, int]] = {}  # objnum -> (stm_num, idx)
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, list] = {}
        try:
            self._load_xref_chain()
        except Exception:
            self.offsets, self.in_objstm, self.trailer = {}, {}, {}
        if not self.offsets or "/Root" not in self.trailer:
            self._scan_objects()

    # -- xref ---------------------------------------------------------------

    def _load_xref_chain(self):
        tail = self.data[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise PdfError("no startxref")
        pos = int(m.group(1))
        seen = set()
        while pos and pos not in seen:
            seen.add(pos)
            pos = self._load_xref_section(pos)

    def _load_xref_section(self, pos: int):
        pos = _skip_ws(self.data, pos)
        if self.data.startswith(b"xref", pos):
            return self._load_xref_table(pos + 4)
        # cross-reference stream: 'N G obj << ... >> stream'
        obj = self._parse_indirect_at(pos)
        if not isinstance(obj, Stream):
            raise PdfError("bad xref section")
        return self._load_xref_stream(obj)

    def _load_xref_table(self, pos: int):
        data = self.data
        while True:
            pos = _skip_ws(data, pos)
            if data.startswith(b"trailer", pos):
                tdict, _ = parse_value(data, pos + 7)
                for k, v in tdict.items():
                    self.trailer.setdefault(k, v)
                prev = tdict.get("/Prev")
                return int(prev) if prev is not None else None
            m = re.match(rb"(\d+)\s+(\d+)", data[pos : pos + 40])
            if not m:
                raise PdfError("bad xref subsection header")
            start, count = int(m.group(1)), int(m.group(2))
            pos = _skip_ws(data, pos + m.end())
            for i in range(count):
                entry = data[pos : pos + 20]
                if len(entry) < 18:
                    raise PdfError("short xref entry")
                off, _gen, kind = entry[:10], entry[11:16], entry[17:18]
                if kind == b"n":
                    self.offsets.setdefault(start + i, int(off))
                pos += 20  # xref entries are fixed 20-byte records

    def _load_xref_stream(self, stm: Stream):
        d = stm.dict
        content = decode_stream(stm, self)
        w = [int(x) for x in d["/W"]]
        size = int(d["/Size"])
        index = d.get("/Index", [0, size])
        entry_len = sum(w)
        rows = [content[i : i + entry_len] for i in range(0, len(content) - entry_len + 1, entry_len)]
        ri = 0

        def field(row, j):
            s = sum(w[:j])
            return int.from_bytes(row[s : s + w[j]], "big") if w[j] else (1 if j == 0 else 0)

        for k in range(0, len(index), 2):
            start, count = int(index[k]), int(index[k + 1])
            for i in range(count):
                if ri >= len(rows):
                    break
                row = rows[ri]
                ri += 1
                num = start + i
                t = field(row, 0)
                if t == 1:
                    self.offsets.setdefault(num, field(row, 1))
                elif t == 2:
                    self.in_objstm.setdefault(num, (field(row, 1), field(row, 2)))
        for k, v in d.items():
            if k not in ("/W", "/Index", "/Filter", "/DecodeParms", "/Length", "/Type"):
                self.trailer.setdefault(k, v)
        prev = d.get("/Prev")
        return int(prev) if prev is not None else None

    def _scan_objects(self):
        """Fallback: brute-force scan for 'N G obj' (last definition wins,
        matching incremental-update semantics of later offsets)."""
        for m in _OBJ_RE.finditer(self.data):
            self.offsets[int(m.group(1))] = m.start()
        if "/Root" not in self.trailer:
            m = None
            for m in re.finditer(rb"/Root\s+(\d+)\s+(\d+)\s+R", self.data):
                pass
            if m is not None:
                self.trailer["/Root"] = Ref(int(m.group(1)), int(m.group(2)))

    # -- objects ------------------------------------------------------------

    def _parse_indirect_at(self, pos: int):
        data = self.data
        pos = _skip_ws(data, pos)
        m = _OBJ_RE.match(data, pos)
        if not m:
            raise PdfError(f"no 'N G obj' at {pos}")
        val, pos = parse_value(data, m.end())
        pos = _skip_ws(data, pos)
        if data.startswith(b"stream", pos):
            if not isinstance(val, dict):
                raise PdfError("stream without dict")
            pos += 6
            if data[pos : pos + 2] == b"\r\n":
                pos += 2
            elif data[pos : pos + 1] in (b"\n", b"\r"):
                pos += 1
            length = self.resolve(val.get("/Length"))
            if not isinstance(length, int):
                end = data.index(b"endstream", pos)
                raw = data[pos:end].rstrip(b"\r\n")
            else:
                raw = data[pos : pos + length]
            return Stream(val, raw)
        return val

    def load(self, num: int):
        if num in self._cache:
            return self._cache[num]
        self._cache[num] = None  # cycle guard
        if num in self.offsets:
            obj = self._parse_indirect_at(self.offsets[num])
        elif num in self.in_objstm:
            stm_num, idx = self.in_objstm[num]
            obj = self._load_from_objstm(stm_num, idx, num)
        else:
            obj = None
        self._cache[num] = obj
        return obj

    def _load_from_objstm(self, stm_num: int, idx: int, want_num: int):
        if stm_num not in self._objstm_cache:
            stm = self.load(stm_num)
            if not isinstance(stm, Stream):
                raise PdfError(f"object stream {stm_num} missing")
            content = decode_stream(stm, self)
            n = int(self.resolve(stm.dict["/N"]))
            first = int(self.resolve(stm.dict["/First"]))
            header, hpos = [], 0
            for _ in range(n * 2):
                hpos = _skip_ws(content, hpos)
                m = _NUM_RE.match(content, hpos)
                header.append(int(m.group(0)))
                hpos = m.end()
            pairs = [(header[2 * i], header[2 * i + 1]) for i in range(n)]
            objs = []
            for objnum, off in pairs:
                v, _ = parse_value(content, first + off)
                objs.append((objnum, v))
            self._objstm_cache[stm_num] = objs
        for objnum, v in self._objstm_cache[stm_num]:
            if objnum == want_num:
                return v
        raise PdfError(f"object {want_num} not in stream {stm_num}")

    def resolve(self, obj, depth: int = 0):
        while isinstance(obj, Ref):
            if depth > 32:
                raise PdfError("reference loop")
            obj = self.load(obj.num)
            depth += 1
        return obj


def decode_stream(stm: Stream, doc: Document) -> bytes:
    filters = doc.resolve(stm.dict.get("/Filter"))
    params = doc.resolve(stm.dict.get("/DecodeParms"))
    if filters is None:
        return stm.raw
    if not isinstance(filters, list):
        filters = [filters]
        params = [params]
    elif not isinstance(params, list):
        params = [params] * len(filters)
    data = stm.raw
    for f, p in zip(filters, params):
        p = doc.resolve(p) or {}
        if f == "/FlateDecode":
            try:
                data = zlib.decompress(data)
            except zlib.error as e:  # corrupt stream: honor the PdfError contract
                raise PdfError(f"bad Flate stream: {e}") from None
            pred = int(doc.resolve(p.get("/Predictor", 1)) or 1)
            if pred >= 10:
                data = _png_unpredict(data, int(doc.resolve(p.get("/Columns", 1))))
            elif pred != 1:
                raise PdfError(f"unsupported predictor {pred}")
        elif f == "/ASCIIHexDecode":
            hx = re.sub(rb"[\s>]", b"", data)
            if len(hx) % 2:
                hx += b"0"
            data = bytes.fromhex(hx.decode("ascii"))
        else:
            raise PdfError(f"unsupported filter {f}")
    return data


# -- fonts -------------------------------------------------------------------

# (ascent, descent) per 1000 units for the standard-14 families, and the
# fixed Courier advance; other fonts fall back to /Widths + /FontDescriptor.
_STD_METRICS = {
    "Courier": (629, -157), "Helvetica": (718, -207), "Times": (683, -217),
    "Symbol": (750, -250), "ZapfDingbats": (750, -250),
}
_DEFAULT_ASCENT, _DEFAULT_DESCENT = 750, -250


_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEX_TOKEN_RE = re.compile(rb"<([0-9A-Fa-f]+)>")


def _parse_tounicode(cmap: bytes) -> dict[int, str]:
    """Minimal ToUnicode CMap: bfchar + bfrange mappings, 1-2 byte codes,
    UTF-16BE targets. Real subset fonts emit GLYPH IDS in show strings;
    without this map their text is garbage."""
    out: dict[int, str] = {}

    def _u(hexs: bytes) -> str:
        raw = bytes.fromhex(hexs.decode("ascii"))
        if len(raw) % 2:
            raw += b"\x00"
        return raw.decode("utf-16-be", errors="replace")

    for m in _BFCHAR_RE.finditer(cmap):
        toks = _HEX_TOKEN_RE.findall(m.group(1))
        for src, dst in zip(toks[0::2], toks[1::2]):
            out[int(src, 16)] = _u(dst)
    for m in _BFRANGE_RE.finditer(cmap):
        body = m.group(1)
        pos = 0
        while True:
            mm = _HEX_TOKEN_RE.search(body, pos)
            if mm is None:
                break
            lo = int(mm.group(1), 16)
            mm2 = _HEX_TOKEN_RE.search(body, mm.end())
            if mm2 is None:
                break
            hi = int(mm2.group(1), 16)
            nxt = _skip_ws(body, mm2.end())
            if body.startswith(b"[", nxt):
                end = body.find(b"]", nxt)
                dsts = _HEX_TOKEN_RE.findall(body[nxt:end])
                for i, d in enumerate(dsts):
                    out[lo + i] = _u(d)
                pos = end + 1
            else:
                mm3 = _HEX_TOKEN_RE.search(body, nxt)
                if mm3 is None:
                    break
                base = bytes.fromhex(mm3.group(1).decode("ascii"))
                base_cp = int.from_bytes(base, "big")
                width = len(base)
                for i in range(hi - lo + 1):
                    raw = (base_cp + i).to_bytes(max(width, 2), "big")
                    out[lo + i] = raw.decode("utf-16-be", errors="replace")
                pos = mm3.end()
    return out


class Font:
    __slots__ = (
        "widths", "first_char", "default_width", "ascent", "descent",
        "to_unicode", "two_byte",
    )

    def __init__(self, fdict: dict | None, doc: Document | None):
        self.widths = None
        self.first_char = 0
        self.default_width = 500
        self.ascent, self.descent = _DEFAULT_ASCENT, _DEFAULT_DESCENT
        self.to_unicode: dict[int, str] | None = None
        self.two_byte = False
        if fdict is None:
            return
        if doc.resolve(fdict.get("/Subtype")) == "/Type0":
            # composite font: 2-byte CID codes; text is unreadable without
            # the ToUnicode map (handled below)
            self.two_byte = True
        tu = doc.resolve(fdict.get("/ToUnicode"))
        if isinstance(tu, Stream):
            try:
                self.to_unicode = _parse_tounicode(decode_stream(tu, doc))
            except Exception:
                self.to_unicode = None
        base = str(doc.resolve(fdict.get("/BaseFont", "")) or "")
        for fam, (a, d) in _STD_METRICS.items():
            if fam.lower() in base.lower():
                self.ascent, self.descent = a, d
                if fam == "Courier":
                    self.default_width = 600
                break
        widths = doc.resolve(fdict.get("/Widths"))
        if isinstance(widths, list):
            self.widths = [float(doc.resolve(w) or 0) for w in widths]
            self.first_char = int(doc.resolve(fdict.get("/FirstChar", 0)) or 0)
        desc = doc.resolve(fdict.get("/FontDescriptor"))
        if isinstance(desc, dict):
            a = doc.resolve(desc.get("/Ascent"))
            d = doc.resolve(desc.get("/Descent"))
            mw = doc.resolve(desc.get("/MissingWidth"))
            if a is not None:
                self.ascent = float(a)
            if d is not None:
                self.descent = float(d)
            if mw is not None:
                self.default_width = float(mw)

    def char_width(self, code: int) -> float:
        if self.widths is not None:
            i = code - self.first_char
            if 0 <= i < len(self.widths):
                return self.widths[i]
        return self.default_width

    def string_codes(self, raw: bytes) -> list[int]:
        if self.two_byte:
            return [
                int.from_bytes(raw[i : i + 2], "big")
                for i in range(0, len(raw) - 1, 2)
            ]
        return list(raw)

    def char_text(self, code: int) -> str:
        if self.to_unicode is not None and code in self.to_unicode:
            return self.to_unicode[code]
        if self.two_byte:
            return "�"  # CID without ToUnicode: unreadable by design
        return chr(code)  # simple font: latin-1 identity


# -- content interpreter -----------------------------------------------------

def _mat_mul(m1, m2):
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (
        a1 * a2 + b1 * c2, a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2, c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2, e1 * b2 + f1 * d2 + f2,
    )


def _apply(m, x, y):
    a, b, c, d, e, f = m
    return (a * x + c * y + e, b * x + d * y + f)


_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _tokenize_content(data: bytes):
    """Yield (kind, value): 'num', 'str', 'name', 'arr', 'dict', 'op'."""
    pos = 0
    n = len(data)
    while pos < n:
        pos = _skip_ws(data, pos)
        if pos >= n:
            return
        c = data[pos]
        if c == 0x28:
            s, pos = _parse_literal_string(data, pos)
            yield ("str", s)
        elif c == 0x3C and data[pos : pos + 2] != b"<<":
            s, pos = _parse_hex_string(data, pos)
            yield ("str", s)
        elif c == 0x3C:
            d, pos = _parse_dict(data, pos)
            yield ("dict", d)
        elif c == 0x5B:
            arr = []
            pos += 1
            while True:
                pos = _skip_ws(data, pos)
                if pos >= n or data[pos] == 0x5D:
                    pos += 1
                    break
                v, pos = parse_value(data, pos)
                arr.append(v)
            yield ("arr", arr)
        elif c == 0x2F:
            name, pos = _parse_name(data, pos)
            yield ("name", name)
        else:
            m = _NUM_RE.match(data, pos)
            if m and (m.group(0)[0:1].isdigit() or m.group(0)[0:1] in b"+-."):
                yield ("num", float(m.group(0)))
                pos = m.end()
                continue
            m = _OP_RE.match(data, pos)
            if m:
                op = m.group(0).decode("latin-1")
                pos = m.end()
                if op == "BI":  # inline image: skip params + binary blob
                    pos = _skip_inline_image(data, pos)
                    continue
                yield ("op", op)
            else:
                pos += 1  # skip unknown byte


_INLINE_IMG_END_RE = re.compile(rb"\bEI\b")


def _skip_inline_image(data: bytes, pos: int) -> int:
    """pos is just after 'BI'. Skip the parameter dict and the binary blob
    after 'ID' up to the matching 'EI' (whitespace-delimited)."""
    id_at = data.find(b"ID", pos)
    if id_at < 0:
        return len(data)
    scan = id_at + 3  # ID + one whitespace byte
    while True:
        m = _INLINE_IMG_END_RE.search(data, scan)
        if m is None:
            return len(data)
        # EI must be preceded by whitespace to be the operator, not data
        if data[m.start() - 1] in _WS:
            return m.end()
        scan = m.end()


def interpret_content(
    content: bytes,
    fonts: dict[str, Font],
    page_w: float,
    page_h: float,
    *,
    xobjects: dict | None = None,
    doc: "Document | None" = None,
    _depth: int = 0,
):
    """Run the text machinery; emit blocks {'text','box','font_size'} in
    operator order. Box normalization matches pdf_parser.py:103-108.

    Real-crawl robustness: inline images (BI/ID/EI binary runs) are
    skipped; ``Do`` on a /Subtype /Form XObject recursively interprets the
    form's stream with CTM = /Matrix x current CTM and the form's own
    /Resources fonts (common in generated PDFs that wrap all text in a
    form)."""
    blocks = []
    ctm = _ID
    ctm_stack = []
    tm = tlm = _ID
    font: Font = Font(None, None)
    size = leading = tc = tw = rise = 0.0
    th = 1.0
    operands: list = []

    def show(texts_and_kerns):
        nonlocal tm
        chars: list[str] = []
        x = 0.0
        x_start = 0.0
        for el in texts_and_kerns:
            if isinstance(el, (int, float)):
                x -= el / 1000.0 * size * th
                continue
            for code in font.string_codes(el):
                chars.append(font.char_text(code))
                w0 = font.char_width(code) / 1000.0
                x += (w0 * size + tc + (tw if code == 0x20 else 0.0)) * th
        m = _mat_mul(tm, ctm)
        y0 = rise + font.descent / 1000.0 * size
        y1 = rise + font.ascent / 1000.0 * size
        pts = [_apply(m, px, py) for px in (x_start, x) for py in (y0, y1)]
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        l, r = min(xs), max(xs)
        b, t = min(ys), max(ys)
        txt = "".join(chars).strip()
        # same skip rule as the reference (pdf_parser.py:111-113)
        if txt and not (len(txt) == 1 and ord(txt) <= 10):
            blocks.append(
                {
                    "text": txt,
                    "box": [l / page_w, (page_h - t) / page_h, r / page_w, (page_h - b) / page_h],
                    "font_size": size,
                }
            )
        tm = _mat_mul((1, 0, 0, 1, x, 0), tm)

    def next_line(tx, ty):
        nonlocal tm, tlm
        tlm = _mat_mul((1, 0, 0, 1, tx, ty), tlm)
        tm = tlm

    for kind, val in _tokenize_content(content):
        if kind != "op":
            operands.append(val)
            continue
        op = val
        try:
            if op == "BT":
                tm = tlm = _ID
            elif op == "ET":
                pass
            elif op == "Tf" and len(operands) >= 2:
                fname = operands[-2]
                size = float(operands[-1])
                font = fonts.get(fname, Font(None, None))
            elif op == "Td" and len(operands) >= 2:
                next_line(float(operands[-2]), float(operands[-1]))
            elif op == "TD" and len(operands) >= 2:
                leading = -float(operands[-1])
                next_line(float(operands[-2]), float(operands[-1]))
            elif op == "Tm" and len(operands) >= 6:
                tm = tlm = tuple(float(v) for v in operands[-6:])
            elif op == "T*":
                next_line(0.0, -leading)
            elif op == "TL" and operands:
                leading = float(operands[-1])
            elif op == "Tc" and operands:
                tc = float(operands[-1])
            elif op == "Tw" and operands:
                tw = float(operands[-1])
            elif op == "Tz" and operands:
                th = float(operands[-1]) / 100.0
            elif op == "Ts" and operands:
                rise = float(operands[-1])
            elif op == "Tj" and operands:
                show([operands[-1]])
            elif op == "'" and operands:
                next_line(0.0, -leading)
                show([operands[-1]])
            elif op == '"' and len(operands) >= 3:
                tw, tc = float(operands[-3]), float(operands[-2])
                next_line(0.0, -leading)
                show([operands[-1]])
            elif op == "TJ" and operands:
                show(operands[-1])
            elif op == "q":
                # q saves the FULL graphics state — the text parameters
                # (Tf/Tc/Tw/Tz/TL/Ts) restore on Q too, or styled q..Q
                # spans would leak font size/spacing into later runs
                ctm_stack.append((ctm, font, size, leading, tc, tw, th, rise))
            elif op == "Q":
                if ctm_stack:
                    ctm, font, size, leading, tc, tw, th, rise = ctm_stack.pop()
                else:
                    ctm = _ID
            elif op == "cm" and len(operands) >= 6:
                ctm = _mat_mul(tuple(float(v) for v in operands[-6:]), ctm)
            elif op == "Do" and operands and xobjects and doc is not None:
                xo = doc.resolve(xobjects.get(operands[-1]))
                if (
                    isinstance(xo, Stream)
                    and doc.resolve(xo.dict.get("/Subtype")) == "/Form"
                    and _depth < 8
                ):
                    mat = doc.resolve(xo.dict.get("/Matrix", [1, 0, 0, 1, 0, 0]))
                    form_ctm = _mat_mul(tuple(float(v) for v in mat), ctm)
                    res = doc.resolve(xo.dict.get("/Resources", {})) or {}
                    fdict = doc.resolve(res.get("/Font", {})) or {}
                    form_fonts = (
                        {nm: Font(doc.resolve(f), doc) for nm, f in fdict.items()}
                        if fdict
                        else fonts
                    )
                    form_xobjs = doc.resolve(res.get("/XObject", {})) or xobjects
                    sub = interpret_content(
                        decode_stream(xo, doc),
                        form_fonts,
                        page_w,
                        page_h,
                        xobjects=form_xobjs,
                        doc=doc,
                        _depth=_depth + 1,
                    )
                    # re-normalize: sub blocks were normalized against the
                    # page, but their device coords already included only
                    # the form's own CTM; recompute by transforming bounds
                    for blk in sub:
                        l = blk["box"][0] * page_w
                        t = page_h - blk["box"][1] * page_h
                        r = blk["box"][2] * page_w
                        b = page_h - blk["box"][3] * page_h
                        pts = [_apply(form_ctm, x, y) for x in (l, r) for y in (b, t)]
                        xs = [p[0] for p in pts]
                        ys = [p[1] for p in pts]
                        blk["box"] = [
                            min(xs) / page_w,
                            (page_h - max(ys)) / page_h,
                            max(xs) / page_w,
                            (page_h - min(ys)) / page_h,
                        ]
                        blocks.append(blk)
        except (TypeError, ValueError, AttributeError):
            pass  # malformed operands: skip the operator, keep scanning
        operands = []
    return blocks


# -- page walk ---------------------------------------------------------------

def _walk_pages(doc: Document, node, inherited: dict, out: list, depth: int = 0):
    if depth > 64:
        raise PdfError("page tree too deep")
    node = doc.resolve(node)
    if not isinstance(node, dict):
        return
    inh = dict(inherited)
    for k in ("/MediaBox", "/Resources"):
        if k in node:
            inh[k] = node[k]
    if node.get("/Type") == "/Pages" or "/Kids" in node:
        for kid in doc.resolve(node.get("/Kids", [])) or []:
            _walk_pages(doc, kid, inh, out, depth + 1)
    else:
        out.append((node, inh))


def parse_pdf_pages(data: bytes) -> list[dict]:
    """PDF bytes -> [{'page', 'width', 'height', 'blocks': [...]}, ...]."""
    if not data.startswith(b"%PDF-"):
        raise PdfError("not a PDF (missing %PDF- header)")
    doc = Document(data)
    if doc.trailer.get("/Encrypt") is not None:
        raise PdfError("encrypted PDF (no decryption support)")
    root = doc.resolve(doc.trailer.get("/Root"))
    if not isinstance(root, dict):
        raise PdfError("no document catalog")
    pages_node = root.get("/Pages")
    page_list: list = []
    _walk_pages(doc, pages_node, {}, page_list)

    out = []
    for i, (page, inh) in enumerate(page_list):
        media = doc.resolve(page.get("/MediaBox", inh.get("/MediaBox", [0, 0, 612, 792])))
        mx0, my0, mx1, my1 = [float(doc.resolve(v)) for v in media]
        page_w, page_h = mx1 - mx0, my1 - my0
        if page_w <= 0 or page_h <= 0:
            raise PdfError(f"degenerate MediaBox {media}")

        resources = doc.resolve(page.get("/Resources", inh.get("/Resources", {}))) or {}
        font_dict = doc.resolve(resources.get("/Font", {})) or {}
        fonts = {name: Font(doc.resolve(f), doc) for name, f in font_dict.items()}
        xobjects = doc.resolve(resources.get("/XObject", {})) or {}

        contents = doc.resolve(page.get("/Contents"))
        parts = []
        for c in contents if isinstance(contents, list) else [contents]:
            c = doc.resolve(c)
            if isinstance(c, Stream):
                parts.append(decode_stream(c, doc))
        content = b"\n".join(parts)

        blocks = interpret_content(
            content, fonts, page_w, page_h, xobjects=xobjects, doc=doc
        )
        out.append({"page": i, "width": page_w, "height": page_h, "blocks": blocks})
    return out
