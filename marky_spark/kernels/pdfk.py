"""PDF → plain-text kernel (reference parity: internal/converters/pdf.go).

Replaces ledongthuc/pdf ``GetPlainText`` (pdf.go:31-50) with a from-scratch
structural parser (SURVEY.md §2.3): trailer/xref table (incl. /Prev chains,
with a brute-force object scan fallback for damaged files), object graph,
page tree walk, FlateDecode content streams, and the text-operator subset
``BT/ET Tf Td TD Tm T* TL Tj TJ ' "``.

Layout → reading order (north star: "PDF layout blocks into reading-order
spans"): text runs carry their device-space (x, y); runs are grouped into
lines by y proximity, lines ordered top-to-bottom (descending y), runs within
a line left-to-right; pages joined by a blank line. Negative TJ kerning
< -100/1000 em becomes a space.
"""

from __future__ import annotations

import re
import zlib
from itertools import repeat
from struct import unpack_from

from ..ops.bitio import lzw_decode
from .base import ConvertError, Segment, decode_binary_payload, md

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
# the brute scan's search never starts inside a digit run: a match there
# would end where one from the run's first digit ends, and trying every
# start made the scan quadratic in the run's length
_OBJ_SCAN_RE = re.compile(rb"(?<!\d)(\d+)\s+(\d+)\s+obj\b")

_NAME_HEX_RE = re.compile(rb"#([0-9A-Fa-f]{2})")


def _name_unhex(m: re.Match) -> bytes:
    return bytes([int(m.group(1), 16)])


_REF_RE = re.compile(rb"(\d+)\s+R\b")
_XREF_HEAD_RE = re.compile(rb"(\d+)\s+(\d+)")
_XREF_ENTRY_RE = re.compile(rb"(\d{10})\s+(\d{5})\s+([nf])")

_WS = b"\x00\t\n\x0c\r "

# C-level scans for the object lexer's hottest paths (each was a per-byte
# Python loop; the regex engine does the same scan ~3x faster):
_WS_SKIP_RE = re.compile(rb"[\x00\t\n\x0c\r ]*(?:%[^\r\n]*[\x00\t\n\x0c\r ]*)*")
_REGULAR = rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*"
# the next object token after whitespace and comments: exactly one group
# names its kind; the regular run (6, possibly empty) is a keyword, a
# number, the start of a reference, or a bad token
# (atomic: a failed match must not backtrack into a comment)
_OBJ_TOKEN_RE = re.compile(
    rb"(?>" + _WS_SKIP_RE.pattern + rb")(?:/(" + _REGULAR
    + rb")|(<<)|(\[)|(\()|(<)|(" + _REGULAR + rb"))")
_DICT_KEY_RE = re.compile(
    rb"(?>" + _WS_SKIP_RE.pattern + rb")(?:(>>)|/(" + _REGULAR + rb"))")


def _name(raw: bytes) -> str:
    if b"#" in raw:  # #xx hex escapes in names (rare)
        raw = _NAME_HEX_RE.sub(_name_unhex, raw)
    return "/" + raw.decode("latin-1")


# a literal string's one-character escapes (ISO 32000-1 Table 3)
_ESCAPES = {ord("n"): 10, ord("r"): 13, ord("t"): 9, ord("b"): 8,
            ord("f"): 12, ord("("): 40, ord(")"): 41, ord("\\"): 92}


class _Lexer:
    """Minimal PDF object lexer/parser over a bytes buffer."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        self.pos = _WS_SKIP_RE.match(self.data, self.pos).end()

    def parse_object(self):
        d = self.data
        m = _OBJ_TOKEN_RE.match(d, self.pos)
        g = m.lastindex
        if g == 1:
            self.pos = m.end()
            return _name(m.group(1))
        if g == 2:
            self.pos = m.end()
            return self._parse_dict()
        if g == 3:
            self.pos = m.end()
            return self._parse_array()
        self.pos = m.start(g)
        if g == 4:
            return self._parse_literal_string()
        if g == 5:
            return self._parse_hex_string()
        tok = m.group(6)
        if not tok and self.pos >= len(d):
            raise ConvertError("unexpected end of PDF object stream")
        if tok.startswith(b"true"):
            self.pos += 4
            return True
        if tok.startswith(b"false"):
            self.pos += 5
            return False
        if tok.startswith(b"null"):
            self.pos += 4
            return None
        self.pos = m.end()
        try:
            num = int(tok)
        except ValueError:
            try:
                return float(tok)
            except ValueError as exc:
                raise ConvertError(f"bad PDF token {tok!r}") from exc
        # lookahead for "gen R" (indirect reference)
        p = _WS_SKIP_RE.match(d, self.pos).end()
        m = _REF_RE.match(d, p, p + 24)
        if m:
            self.pos = m.end()
            return _Ref(num, int(m.group(1)))
        return num

    def _parse_dict(self):
        d = self.data
        out = {}
        while True:
            m = _DICT_KEY_RE.match(d, self.pos)
            if m is None:
                self._skip_ws()
                if self.pos >= len(d):
                    raise IndexError("index out of range")
                raise ConvertError("expected PDF name")
            self.pos = m.end()
            if m.lastindex == 1:
                return out
            out[_name(m.group(2))] = self.parse_object()

    def _parse_array(self):
        d = self.data
        out = []
        while True:
            self.pos = _WS_SKIP_RE.match(d, self.pos).end()
            if d.startswith(b"]", self.pos):
                self.pos += 1
                return out
            out.append(self.parse_object())

    def _parse_literal_string(self) -> bytes:
        d = self.data
        self.pos += 1
        # fast path: no escape and no nested paren before the closing paren
        end = d.find(b")", self.pos)
        if end >= 0:
            chunk = d[self.pos:end]
            if b"\\" not in chunk and b"(" not in chunk:
                self.pos = end + 1
                return chunk
        out = bytearray()
        depth = 1
        while self.pos < len(d):
            c = d[self.pos]
            if c == ord("\\"):
                self.pos += 1
                if self.pos >= len(d):
                    break
                e = d[self.pos]
                if e in _ESCAPES:
                    out.append(_ESCAPES[e])
                    self.pos += 1
                elif 0x30 <= e <= 0x37:  # octal
                    oct_digits = bytearray()
                    while len(oct_digits) < 3 and self.pos < len(d) and 0x30 <= d[self.pos] <= 0x37:
                        oct_digits.append(d[self.pos])
                        self.pos += 1
                    out.append(int(oct_digits.decode(), 8) & 0xFF)
                elif e in (0x0A, 0x0D):  # line continuation
                    self.pos += 1
                    if e == 0x0D and self.pos < len(d) and d[self.pos] == 0x0A:
                        self.pos += 1
                else:
                    out.append(e)
                    self.pos += 1
            elif c == ord("("):
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == ord(")"):
                depth -= 1
                self.pos += 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            else:
                out.append(c)
                self.pos += 1
        return bytes(out)

    def _parse_hex_string(self) -> bytes:
        end = self.data.find(b">", self.pos)
        if end < 0:
            raise ConvertError("unterminated hex string")
        hexs = re.sub(rb"\s", b"", self.data[self.pos + 1:end])
        self.pos = end + 1
        if len(hexs) % 2:
            hexs += b"0"
        return bytes.fromhex(hexs.decode("ascii"))


class _Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num = num
        self.gen = gen


class _Pdf:
    def __init__(self, data: bytes):
        self.data = data
        self.offsets: dict[int, int] = {}
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._crypt = None           # StdSecurityHandler when /Encrypt
        self._crypt_exempt: set[int] = set()
        self._budget = _MAX_DECODED_BYTES  # decoded stream bytes still allowed
        self._charged: dict[_Stream, int] = {}  # budget each stream holds
        self.fonts: dict[int, tuple] = {}  # id(font dict) → (dict, decoder)
        self._load_xref()
        enc = self.trailer.get("/Encrypt")
        if enc is not None:
            self._setup_crypt(enc)

    def _setup_crypt(self, enc) -> None:
        """Standard-security-handler setup (kernels/pdfcrypt): the
        empty-user-password slice of real corpora decrypts for real;
        password-protected / exotic handlers become the typed
        `pdf_encrypted` error row instead of a generic parse failure.
        The /Encrypt dictionary and the /ID strings are themselves
        never encrypted (ISO 32000-1 §7.6.2)."""
        from .pdfcrypt import PdfEncryptedError, StdSecurityHandler

        if isinstance(enc, _Ref):
            self._crypt_exempt.add(enc.num)
        try:
            enc_dict = self.resolve(enc)
        except ConvertError:
            enc_dict = None
        if not isinstance(enc_dict, dict):
            raise ConvertError("pdf_encrypted: malformed /Encrypt")
        fid = b""
        try:
            ids = self.resolve(self.trailer.get("/ID"))
            if isinstance(ids, list) and ids:
                first = self.resolve(ids[0])
                if isinstance(first, bytes):
                    fid = first
        except ConvertError:
            pass
        try:
            self._crypt = StdSecurityHandler(enc_dict, fid)
        except PdfEncryptedError as exc:
            raise ConvertError(str(exc)) from None

    def _decrypt_parsed(self, obj, num: int, gen: int):
        """Recursively decrypt the STRINGS of a parsed object (streams
        are handled at the raw-bytes layer in get())."""
        from .pdfcrypt import PdfEncryptedError

        if isinstance(obj, bytes):
            try:
                return self._crypt.decrypt(obj, num, gen)
            except PdfEncryptedError as exc:
                raise ConvertError(str(exc)) from None
        if isinstance(obj, list):
            return [self._decrypt_parsed(o, num, gen) for o in obj]
        if isinstance(obj, dict):
            return {k: self._decrypt_parsed(v, num, gen)
                    for k, v in obj.items()}
        return obj

    # -- xref ------------------------------------------------------------

    def _load_xref(self) -> None:
        data = self.data
        tail = data[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m:
            try:
                self._parse_xref_at(int(m.group(1)), set())
            except (ConvertError, ValueError, IndexError):
                self.offsets = {}
        if not self.offsets:
            self._brute_scan()
        if not self.offsets:
            raise ConvertError("no PDF objects found")
        if "/Root" not in self.trailer:
            self._find_root_by_scan()

    def _parse_xref_at(self, off: int, seen: set[int]) -> None:
        if off in seen or off >= len(self.data):
            return
        seen.add(off)
        data = self.data
        if not data.startswith(b"xref", off):
            # xref *stream* (PDF 1.5+) — not produced by our writers; fall
            # back to the brute object scan which handles them implicitly.
            raise ConvertError("xref stream unsupported by table parser")
        pos = off + 4
        lex = _Lexer(data, pos)
        while True:
            lex._skip_ws()
            if data.startswith(b"trailer", lex.pos):
                lex.pos += 7
                trailer = lex.parse_object()
                if isinstance(trailer, dict):
                    for k, v in trailer.items():
                        self.trailer.setdefault(k, v)
                    prev = trailer.get("/Prev")
                    if isinstance(prev, (int, float)):
                        self._parse_xref_at(int(prev), seen)
                return
            m = _XREF_HEAD_RE.match(data, lex.pos, lex.pos + 40)
            if not m:
                return
            first, count = int(m.group(1)), int(m.group(2))
            lex.pos = m.end()
            lex._skip_ws()
            for i in range(count):
                em = _XREF_ENTRY_RE.match(data, lex.pos, lex.pos + 20)
                if not em:
                    raise ConvertError("malformed xref entry")
                if em.group(3) == b"n":
                    self.offsets.setdefault(first + i, int(em.group(1)))
                lex.pos = em.end()
                lex._skip_ws()

    def _brute_scan(self) -> None:
        for m in _OBJ_SCAN_RE.finditer(self.data):
            # later definitions win (incremental update semantics)
            self.offsets[int(m.group(1))] = m.start()

    def _find_root_by_scan(self) -> None:
        m = re.search(rb"/Root\s+(\d+)\s+(\d+)\s+R", self.data)
        if m:
            self.trailer["/Root"] = _Ref(int(m.group(1)), int(m.group(2)))

    # -- objects -----------------------------------------------------------

    def resolve(self, obj):
        # a hostile PDF can make an object refer to itself (4 0 obj 4 0 R)
        # — unbounded, that loops FOREVER, which at pipeline scale is a
        # hung executor task, the worst failure mode. Real chains are a
        # couple of hops; anything deep is malformed.
        hops = 0
        while isinstance(obj, _Ref):
            hops += 1
            if hops > 64:
                raise ConvertError("circular indirect reference chain")
            obj = self.get(obj.num)
        return obj

    def get(self, num: int):
        if num in self._cache:
            return self._cache[num]
        off = self.offsets.get(num)
        if off is None:
            return None
        m = _OBJ_RE.match(self.data, off)
        if not m:
            # xref offset may be slightly off; rescan nearby
            m = _OBJ_RE.search(self.data, max(0, off - 32), off + 64)
            if not m:
                return None
        lex = _Lexer(self.data, m.end())
        obj = lex.parse_object()
        if isinstance(obj, dict):
            lex._skip_ws()
            if self.data.startswith(b"stream", lex.pos):
                p = lex.pos + 6
                if self.data.startswith(b"\r\n", p):
                    p += 2
                elif self.data.startswith(b"\n", p) or self.data.startswith(b"\r", p):
                    p += 1
                length = self.resolve(obj.get("/Length"))
                if isinstance(length, (int, float)) and length >= 0:
                    raw = self.data[p:p + int(length)]
                else:
                    end = self.data.find(b"endstream", p)
                    raw = self.data[p:end if end >= 0 else len(self.data)]
                obj = _Stream(obj, raw)
        if self._crypt is not None and num not in self._crypt_exempt:
            from .pdfcrypt import PdfEncryptedError

            gen = int(m.group(2))
            try:
                if isinstance(obj, _Stream):
                    info = self._decrypt_parsed(obj.info, num, gen)
                    # /EncryptMetadata false leaves XML metadata in the
                    # clear (ISO 32000-1 §7.6.3.2)
                    skip = (info.get("/Type") == "/Metadata"
                            and not self._crypt.encrypt_metadata)
                    raw = obj.raw if skip else                         self._crypt.decrypt(obj.raw, num, gen)
                    obj = _Stream(info, raw)
                else:
                    obj = self._decrypt_parsed(obj, num, gen)
            except PdfEncryptedError as exc:
                raise ConvertError(str(exc)) from None
        self._cache[num] = obj
        return obj

    # -- pages -------------------------------------------------------------

    def pages(self) -> list[dict]:
        root = self.resolve(self.trailer.get("/Root"))
        out: list[dict] = []
        if isinstance(root, dict):
            tree = self.resolve(root.get("/Pages"))
            self._walk_pages(tree, out, set())
        if not out:
            # damaged catalog: collect /Type /Page objects in object order
            for num in sorted(self.offsets):
                obj = self.resolve(self.get(num))
                if isinstance(obj, dict) and obj.get("/Type") == "/Page":
                    out.append(obj)
        return out

    def _walk_pages(self, node, out: list[dict], seen: set[int],
                    inherited_res=None) -> None:
        node = self.resolve(node)
        if not isinstance(node, dict) or id(node) in seen:
            return
        seen.add(id(node))
        if node.get("/Type") == "/Page":
            # /Resources is inheritable from the page-tree ancestors
            # (PDF 32000-1 §7.7.3.4) — fonts commonly live on /Pages
            if "/Resources" not in node and inherited_res is not None:
                node["/Resources"] = inherited_res
            out.append(node)
            return
        res = node.get("/Resources", inherited_res)
        for kid in self.resolve(node.get("/Kids")) or []:
            self._walk_pages(kid, out, seen, res)

    def content_bytes(self, page: dict) -> bytes:
        contents = self.resolve(page.get("/Contents"))
        streams = contents if isinstance(contents, list) else [contents]
        chunks: list[bytes] = []
        for s in streams:
            s = self.resolve(s)
            if isinstance(s, _Stream):
                chunks.append(self.decoded(s))
        return b"\n".join(chunks)

    def decoded(self, stream: "_Stream") -> bytes:
        """The stream's bytes through its /Filter chain. Every stream of
        the document draws on one decoded-bytes budget, so a flate or LZW
        bomb stays bounded. A stream holds its largest stage of the budget
        once, however often it is decoded (a ToUnicode CMap shared by every
        page). /DecodeParms is a dict or an array parallel to /Filter; a
        /Predictor is not applied, so it is an error."""
        filters = self.resolve(stream.info.get("/Filter"))
        if not isinstance(filters, list):
            filters = [filters] if filters else []
        parms = self.resolve(stream.info.get("/DecodeParms"))
        if not isinstance(parms, list):
            parms = [parms] * len(filters)
        allowed = self._budget + self._charged.get(stream, 0)
        largest = 0
        data = stream.raw
        for i, f in enumerate(filters):
            f = self.resolve(f)
            if f is None:
                continue
            if f not in ("/FlateDecode", "/LZWDecode"):
                raise ConvertError(f"unsupported PDF filter {f}")
            parm = self.resolve(parms[i]) if i < len(parms) else None
            parm = parm if isinstance(parm, dict) else {}
            predictor = self.resolve(parm.get("/Predictor", 1))
            if predictor != 1:
                raise ConvertError(f"unsupported PDF predictor {predictor}")
            if f == "/FlateDecode":
                d = zlib.decompressobj()
                try:
                    data = d.decompress(data, allowed + 1)
                except zlib.error as exc:
                    raise ConvertError(f"FlateDecode failed: {exc}") from exc
                ended = d.eof
            else:
                early = 0 if self.resolve(parm.get("/EarlyChange")) == 0 else 1
                data, ended = lzw_decode(data, 8, True, early, allowed + 1,
                                         ConvertError)
            if len(data) > allowed:
                raise ConvertError("PDF streams exceed the decoded-bytes budget")
            if not ended:
                raise ConvertError(f"{f[1:]} failed: incomplete or truncated "
                                   "stream")
            largest = max(largest, len(data))
        self._budget = allowed - largest
        self._charged[stream] = largest
        return bytes(data)


class _Stream:
    def __init__(self, info: dict, raw: bytes):
        self.info = info
        self.raw = raw


# ---------------------------------------------------------------------------
# content-stream text interpreter
# ---------------------------------------------------------------------------

_LINE_TOL = 2.0
_KERN_SPACE = -100  # TJ adjustment (1/1000 em) that reads as a word gap


def _decode_pdf_text(raw: bytes) -> str:
    """WinAnsi ≈ cp1252, the no-font-info fallback."""
    try:
        return raw.decode("cp1252")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


# one byte at a time: the 1-byte font table's default for codes its CMap
# and /Encoding leave open
_FALLBACK_TABLE = tuple(_decode_pdf_text(bytes([b])) for b in range(256))


# ---------------------------------------------------------------------------
# per-font character decoding: ToUnicode CMaps and /Encoding tables
# (SURVEY.md §2.3; PDF 32000-1 §9.6.6, §9.10.3 — subset-embedded fonts
# carry their text mapping in a ToUnicode CMap, not in the byte values)
# ---------------------------------------------------------------------------

_MAX_CMAP_ENTRIES = 1 << 17  # hostile-CMap guard: bfrange can demand 2^31
_MAX_DECODED_BYTES = 1 << 26  # decoded stream bytes one document may hold


def _byte_table(codec: str) -> tuple[str, ...]:
    out = []
    for b in range(256):
        try:
            out.append(bytes([b]).decode(codec))
        except UnicodeDecodeError:
            out.append("�")
    return tuple(out)


# StandardEncoding deviations from ASCII/Latin-1 (PDF 32000-1 Annex D.2):
# the codes that differ from a plain cp1252 read, including the Adobe
# quirk that 0x27/0x60 are typographic quotes
_STD_DEV = {
    0x27: "’", 0x60: "‘",
    0xA1: "¡", 0xA2: "¢", 0xA3: "£", 0xA4: "⁄",
    0xA5: "¥", 0xA6: "ƒ", 0xA7: "§", 0xA8: "¤",
    0xA9: "'", 0xAA: "“", 0xAB: "«", 0xAC: "‹",
    0xAD: "›", 0xAE: "ﬁ", 0xAF: "ﬂ",
    0xB1: "–", 0xB2: "†", 0xB3: "‡", 0xB4: "·",
    0xB6: "¶", 0xB7: "•", 0xB8: "‚", 0xB9: "„",
    0xBA: "”", 0xBB: "»", 0xBC: "…", 0xBD: "‰",
    0xBF: "¿",
    0xC1: "`", 0xC2: "´", 0xC3: "ˆ", 0xC4: "˜",
    0xC5: "¯", 0xC6: "˘", 0xC7: "˙", 0xC8: "¨",
    0xCA: "˚", 0xCB: "¸", 0xCD: "˝", 0xCE: "˛",
    0xCF: "ˇ", 0xD0: "—",
    0xE1: "Æ", 0xE3: "ª", 0xE8: "Ł", 0xE9: "Ø",
    0xEA: "Œ", 0xEB: "º",
    0xF1: "æ", 0xF5: "ı", 0xF8: "ł", 0xF9: "ø",
    0xFA: "œ", 0xFB: "ß",
}
_STD_UNDEF = (set(range(0x7F, 0xA1)) | {0xA0, 0xB0, 0xB5, 0xBE, 0xC0, 0xC9,
              0xCC, 0xD1} | set(range(0xD2, 0xE1)) | {0xE2}
              | set(range(0xE4, 0xE8)) | set(range(0xEC, 0xF1))
              | {0xF2, 0xF3, 0xF4, 0xF6, 0xF7} | set(range(0xFC, 0x100)))


def _std_table() -> tuple[str, ...]:
    out = []
    for b in range(256):
        if b in _STD_DEV:
            out.append(_STD_DEV[b])
        elif b in _STD_UNDEF or b < 0x20:
            out.append("�")
        else:
            out.append(chr(b))
    return tuple(out)


_ENC_TABLES: dict[str, tuple[str, ...]] = {}


def _base_table(name) -> tuple[str, ...]:
    """Named base encoding → 256-entry code→char table (cached)."""
    key = name if isinstance(name, str) else "/StandardEncoding"
    t = _ENC_TABLES.get(key)
    if t is None:
        if key == "/WinAnsiEncoding":
            t = _byte_table("cp1252")
        elif key == "/MacRomanEncoding":
            t = _byte_table("mac_roman")
        else:  # StandardEncoding, also the dict-without-BaseEncoding default
            t = _std_table()
        _ENC_TABLES[key] = t
    return t


# Adobe Glyph List subset: the names that appear in real /Differences
# arrays for Latin-script documents. Accented letters compose via the
# combining table below; uniXXXX / uXXXX names parse numerically.
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—", "bullet": "•",
    "dagger": "†", "daggerdbl": "‡", "ellipsis": "…",
    "perthousand": "‰", "fraction": "⁄", "florin": "ƒ",
    "guillemotleft": "«", "guillemotright": "»",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "exclamdown": "¡", "questiondown": "¿", "cent": "¢",
    "sterling": "£", "yen": "¥", "currency": "¤",
    "euro": "€", "section": "§", "paragraph": "¶",
    "periodcentered": "·", "copyright": "©",
    "registered": "®", "trademark": "™", "degree": "°",
    "plusminus": "±", "multiply": "×", "divide": "÷",
    "logicalnot": "¬", "mu": "µ", "minus": "−",
    "brokenbar": "¦", "ordfeminine": "ª",
    "ordmasculine": "º", "onequarter": "¼", "onehalf": "½",
    "threequarters": "¾", "onesuperior": "¹",
    "twosuperior": "²", "threesuperior": "³",
    "AE": "Æ", "ae": "æ", "OE": "Œ", "oe": "œ",
    "Oslash": "Ø", "oslash": "ø", "Lslash": "Ł",
    "lslash": "ł", "Thorn": "Þ", "thorn": "þ",
    "Eth": "Ð", "eth": "ð", "germandbls": "ß",
    "dotlessi": "ı", "fi": "ﬁ", "fl": "ﬂ",
    "acute": "´", "dieresis": "¨", "tilde": "˜",
    "circumflex": "ˆ", "macron": "¯", "breve": "˘",
    "dotaccent": "˙", "ring": "˚", "cedilla": "¸",
    "hungarumlaut": "˝", "ogonek": "˛", "caron": "ˇ",
    "nbspace": " ", "sfthyphen": "­",
    # Greek + math names used by TeX/Type1 symbol-font /Differences
    # (scientific PDFs are a large slice of real crawl corpora)
    "alpha": "\u03b1", "beta": "\u03b2", "gamma": "\u03b3", "delta": "\u03b4",
    "epsilon": "\u03b5", "zeta": "\u03b6", "eta": "\u03b7", "theta": "\u03b8",
    "iota": "\u03b9", "kappa": "\u03ba", "lambda": "\u03bb", "nu": "\u03bd",
    "xi": "\u03be", "pi": "\u03c0", "rho": "\u03c1", "sigma": "\u03c3",
    "tau": "\u03c4", "upsilon": "\u03c5", "phi": "\u03c6", "chi": "\u03c7",
    "psi": "\u03c8", "omega": "\u03c9", "sigma1": "\u03c2",
    "theta1": "\u03d1", "omega1": "\u03d6", "rho1": "\u03f1",
    "epsilon1": "\u03f5",
    "Gamma": "\u0393", "Delta": "\u0394", "Theta": "\u0398",
    "Lambda": "\u039b", "Xi": "\u039e", "Pi": "\u03a0",
    "Sigma": "\u03a3", "Upsilon": "\u03a5", "Phi": "\u03a6",
    "Psi": "\u03a8", "Omega": "\u03a9",
    "arrowright": "\u2192", "arrowleft": "\u2190", "arrowup": "\u2191",
    "arrowdown": "\u2193", "arrowboth": "\u2194",
    "arrowdblright": "\u21d2", "arrowdblleft": "\u21d0",
    "arrowdblboth": "\u21d4",
    "infinity": "\u221e", "partialdiff": "\u2202", "gradient": "\u2207",
    "summation": "\u2211", "product": "\u220f", "integral": "\u222b",
    "radical": "\u221a", "proportional": "\u221d",
    "approxequal": "\u2248", "equivalence": "\u2261",
    "notequal": "\u2260", "lessequal": "\u2264",
    "greaterequal": "\u2265", "element": "\u2208",
    "notelement": "\u2209", "propersubset": "\u2282",
    "propersuperset": "\u2283", "reflexsubset": "\u2286",
    "reflexsuperset": "\u2287", "intersection": "\u2229",
    "union": "\u222a", "emptyset": "\u2205",
    "logicaland": "\u2227", "logicalor": "\u2228",
    "negationslash": "\u0338", "universal": "\u2200",
    "existential": "\u2203", "suchthat": "\u220b",
    "therefore": "\u2234", "perpendicular": "\u22a5",
    "angle": "\u2220", "circlemultiply": "\u2297",
    "circleplus": "\u2295", "dotmath": "\u22c5",
    "asteriskmath": "\u2217", "similar": "\u223c",
    "congruent": "\u2245", "prime": "\u2032", "second": "\u2033",
    "aleph": "\u2135", "Ifraktur": "\u2111", "Rfraktur": "\u211c",
    "weierstrass": "\u2118", "lozenge": "\u25ca",
    "minusplus": "\u2213", "asteriskcentered": "\u2217",
}
_COMBINING = {
    "acute": "́", "grave": "̀", "circumflex": "̂",
    "tilde": "̃", "dieresis": "̈", "ring": "̊",
    "cedilla": "̧", "caron": "̌", "breve": "̆",
    "macron": "̄", "hungarumlaut": "̋", "ogonek": "̨",
    "dotaccent": "̇", "slash": "̷",
}


def _glyph_to_unicode(name: str) -> str:
    """AGL glyph name → text (the /Differences resolution chain)."""
    if name in _AGL:
        return _AGL[name]
    if len(name) == 1:
        return name  # 'A', 'a' ... name themselves
    if name.startswith("uni") and len(name) >= 7:
        try:  # uniXXXX[XXXX...]: one or more UTF-16 code units
            units = [int(name[i:i + 4], 16)
                     for i in range(3, len(name) - 3, 4)]
            return b"".join(u.to_bytes(2, "big") for u in units) \
                .decode("utf-16-be", "replace")
        except ValueError:
            return "�"
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except (ValueError, OverflowError):
            return "�"
    if name[1:] in _COMBINING and name[0].isalpha():
        import unicodedata

        return unicodedata.normalize("NFC", name[0] + _COMBINING[name[1:]])
    return "�"


_CMAP_BEGIN_RE = re.compile(rb"begin(bfchar|bfrange|codespacerange)")
_CMAP_HEX_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>|\[|\]")


def _cmap_sections(data: bytes):
    """Yield (kind, body) per ``begin<kind> … end<kind>`` section, in
    order; a ``begin`` with no ``end`` of its kind after it is skipped.
    Each ``end`` is one ``find``, and a kind whose ``end`` is missing
    is never searched for again (no later ``begin`` of it can close), so
    unclosed sections cost linear time."""
    unclosed = set()
    pos = 0
    while m := _CMAP_BEGIN_RE.search(data, pos):
        kind = m.group(1)
        end = -1 if kind in unclosed else data.find(b"end" + kind, m.end())
        if end < 0:
            unclosed.add(kind)
            pos = m.start() + 1
            continue
        yield kind, data[m.end():end]
        pos = end + 3 + len(kind)


def _parse_tounicode(data: bytes) -> tuple[dict[int, str], int]:
    """ToUnicode CMap stream → (code → text map, code byte width).

    Implements the subset real subset-font CMaps use: codespacerange
    (fixes the code width), bfchar pairs, and bfrange with either a
    destination start (incrementing) or a destination array. Destination
    hex is UTF-16BE (possibly multi-unit — ligature expansions)."""
    cmap: dict[int, str] = {}
    nbytes = 0

    def hexes(body: bytes):
        toks = []
        for m in _CMAP_HEX_RE.finditer(body):
            if m.group(0) in (b"[", b"]"):
                toks.append(m.group(0))
            else:
                toks.append(bytes.fromhex(
                    m.group(1).translate(None, b" \t\r\n").decode("ascii")))
        return toks

    for kind, body in _cmap_sections(data):
        toks = hexes(body)
        if kind == b"codespacerange":
            if toks and isinstance(toks[0], bytes) and toks[0]:
                nbytes = max(nbytes, len(toks[0]))
            continue
        if kind == b"bfchar":
            pairs = [t for t in toks if isinstance(t, bytes)]
            for i in range(0, len(pairs) - 1, 2):
                src, dst = pairs[i], pairs[i + 1]
                if not src or len(cmap) >= _MAX_CMAP_ENTRIES:
                    continue
                cmap[int.from_bytes(src, "big")] = \
                    dst.decode("utf-16-be", "replace")
                nbytes = max(nbytes, len(src))
            continue
        # bfrange: <lo> <hi> <dst>   |   <lo> <hi> [ <d0> <d1> ... ]
        i = 0
        while i < len(toks) - 2:
            lo_b, hi_b = toks[i], toks[i + 1]
            if not (isinstance(lo_b, bytes) and isinstance(hi_b, bytes)
                    and lo_b and hi_b):
                i += 1
                continue
            lo = int.from_bytes(lo_b, "big")
            hi = int.from_bytes(hi_b, "big")
            nbytes = max(nbytes, len(lo_b))
            if toks[i + 2] == b"[":
                j = i + 3
                code = lo
                while j < len(toks) and toks[j] != b"]":
                    if isinstance(toks[j], bytes) and code <= hi \
                            and len(cmap) < _MAX_CMAP_ENTRIES:
                        cmap[code] = toks[j].decode("utf-16-be", "replace")
                        code += 1
                    j += 1
                i = j + 1
                continue
            dst = toks[i + 2]
            if isinstance(dst, bytes) and hi >= lo:
                span = min(hi - lo, _MAX_CMAP_ENTRIES)
                base = int.from_bytes(dst, "big") if dst else 0
                width = max(len(dst), 2)
                for off in range(span + 1):
                    if len(cmap) >= _MAX_CMAP_ENTRIES:
                        break
                    cmap[lo + off] = (base + off).to_bytes(
                        width, "big").decode("utf-16-be", "replace")
            i += 3
    return cmap, (nbytes or 1)


def _font_decoder(pdf: "_Pdf", font: dict):
    """The font's string decoder, ``bytes -> str``: ToUnicode CMap first
    (authoritative for subset fonts), then the /Encoding table, then the
    cp1252 fallback. A 1-byte font folds all three into one 256-entry
    table for ``str.translate``; a font with neither CMap nor table keeps
    the whole-string fallback of :func:`_decode_pdf_text`."""
    cmap = None
    nbytes = 2 if font.get("/Subtype") == "/Type0" else 1
    tu = pdf.resolve(font.get("/ToUnicode"))
    if isinstance(tu, _Stream):
        try:
            cmap, cs_bytes = _parse_tounicode(pdf.decoded(tu))
            if font.get("/Subtype") != "/Type0":
                nbytes = cs_bytes
            if not cmap:
                cmap = None
        except (ConvertError, ValueError):
            cmap = None
    table = None
    enc = pdf.resolve(font.get("/Encoding"))
    if isinstance(enc, str):
        if enc in ("/WinAnsiEncoding", "/MacRomanEncoding",
                   "/StandardEncoding", "/PDFDocEncoding"):
            table = _base_table(enc)
    elif isinstance(enc, dict):
        t = list(_base_table(enc.get("/BaseEncoding")))
        diffs = pdf.resolve(enc.get("/Differences"))
        if isinstance(diffs, list):
            code = 0
            for item in diffs:
                if isinstance(item, (int, float)):
                    code = int(item)
                elif isinstance(item, str) and item.startswith("/"):
                    if 0 <= code < 256:
                        t[code] = _glyph_to_unicode(item[1:])
                    code += 1
        table = tuple(t)
    if nbytes == 2:
        get = (cmap or {}).get

        def decode2(raw: bytes) -> str:
            n = len(raw) >> 1
            text = "".join(map(get, unpack_from(f">{n}H", raw),
                               repeat("�", n)))
            return text + "�" if len(raw) & 1 else text
        return decode2
    if cmap is None and table is None:
        return _decode_pdf_text
    per_byte = table or _FALLBACK_TABLE
    if cmap:
        per_byte = list(per_byte)
        for code, text in cmap.items():
            if code < 256:
                per_byte[code] = text
    return lambda raw: raw.decode("latin-1").translate(per_byte)


def _page_fonts(pdf: "_Pdf", page: dict) -> dict:
    """Resource name (/F1 ...) → decoder for the page's fonts. A font
    object shared by several pages is built once per document."""
    res = pdf.resolve(page.get("/Resources"))
    if not isinstance(res, dict):
        return {}
    fonts = pdf.resolve(res.get("/Font"))
    out = {}
    if isinstance(fonts, dict):
        built = pdf.fonts
        for name, ref in fonts.items():
            fd = pdf.resolve(ref)
            if isinstance(fd, dict):
                key = id(fd)
                if key not in built:
                    try:
                        built[key] = (fd, _font_decoder(pdf, fd))
                    except Exception:  # noqa: BLE001 — a bad font never kills
                        built[key] = (fd, None)  # the page; its strings use
                dec = built[key][1]             # the fallback
                if dec is not None:
                    out[name] = dec
    return out


# content-stream tokenizer: one regex pass instead of a Python-level
# parse_object call per operand (the interpreter's measured hot path).
# Exactly one alternative matches at each token: a group's number names
# its kind; comments, ``<< >> { }`` and stray bytes match no group. A
# literal string with an escape or a nested '(' is left to _Lexer.
_CONTENT_TOKEN_RE = re.compile(
    rb"[\x00\t\n\x0c\r ]*(?:"
    rb"([-+]?(?:\d+\.?\d*|\.\d+))"          # 1 number
    rb"|\(([^()\\]*)\)"                      # 2 plain literal string
    rb"|([^\x00\t\n\x0c\r ()<>\[\]{}/%]+)"   # 3 operator / keyword
    rb"|/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"  # 4 name
    rb"|<([0-9A-Fa-f\s]*)>"                  # 5 hex string
    rb"|(\[|\])"                             # 6 array bracket
    rb"|(\()"                                # 7 literal string, _Lexer rules
    rb"|%[^\r\n]*|<<|>>|[\s\S]"              # comment, dict punct, stray
    rb")"
)


def _extract_page_runs(
        content: bytes, fonts: dict | None = None,
) -> list[tuple[float, float, str]]:
    """Interpret text operators, yielding (x, y, text) runs. ``fonts``
    maps resource names (/F1 ...) to string decoders; ``Tf`` switches
    the active one (text state persists across BT/ET per spec)."""
    runs: list[tuple[float, float, str]] = []
    stack: list = []     # operands since the last operator
    arrs: list[list] = []  # open [ ... ] operands; nesting preserved
    push = stack.append  # appends to the innermost open array, else stack
    x = y = 0.0          # text-line matrix translation
    lx = ly = 0.0        # line start (for T*/TD)
    leading = 0.0
    dec = _decode_pdf_text
    tokens = _CONTENT_TOKEN_RE.finditer
    pos = 0
    while True:
        for m in tokens(content, pos):
            g = m.lastindex
            if g == 1:
                num = m.group(1)
                try:
                    push(int(num) if b"." not in num else float(num))
                except ValueError:
                    push(float(num))
            elif g == 2:
                push(m.group(2))
            elif g == 3:
                op = m.group(3)
                if arrs:  # an operator closes any malformed open array
                    arrs.clear()
                    push = stack.append
                try:
                    if op == b"Tm":
                        lx, ly = float(stack[-2]), float(stack[-1])
                        x, y = lx, ly
                    elif op == b"Tj":
                        if stack and isinstance(stack[-1], bytes):
                            runs.append((x, y, dec(stack[-1])))
                    elif op == b"TJ":
                        if stack and isinstance(stack[-1], list):
                            parts: list[str] = []
                            for item in stack[-1]:
                                if isinstance(item, bytes):
                                    parts.append(dec(item))
                                elif isinstance(item, (int, float)) \
                                        and item < _KERN_SPACE:
                                    parts.append(" ")
                            runs.append((x, y, "".join(parts)))
                    elif op == b"Td" or op == b"TD":
                        tx, ty = float(stack[-2]), float(stack[-1])
                        if op == b"TD":
                            leading = -ty
                        lx, ly = lx + tx, ly + ty
                        x, y = lx, ly
                    elif op == b"T*":
                        ly -= leading
                        x, y = lx, ly
                    elif op == b"TL":
                        leading = float(stack[-1])
                    elif op == b"'" or op == b'"':
                        ly -= leading
                        x, y = lx, ly
                        if stack and isinstance(stack[-1], bytes):
                            runs.append((x, y, dec(stack[-1])))
                    elif op == b"Tf":
                        if fonts and len(stack) >= 2 \
                                and isinstance(stack[-2], str):
                            dec = fonts.get(stack[-2], dec)
                    elif op == b"BT":
                        x = y = lx = ly = 0.0
                        leading = 0.0
                except (IndexError, ValueError, TypeError):
                    pass
                stack.clear()  # operands always precede their operator
            elif g == 4:  # name operand (e.g. /F1 for Tf)
                push("/" + m.group(4).decode("latin-1"))
            elif g == 5:
                h = m.group(5).translate(None, _WS)
                if len(h) % 2:
                    h += b"0"
                try:
                    push(bytes.fromhex(h.decode("ascii")))
                except ValueError:
                    push(b"")
            elif g == 6:
                if m.group(6) == b"[":
                    # nested arrays become items of their parent
                    # (parse_object parity): TJ ignores non-bytes/number
                    inner: list = []
                    if arrs:
                        push(inner)
                    arrs.append(inner)
                    push = inner.append
                elif arrs:
                    done = arrs.pop()
                    push = arrs[-1].append if arrs else stack.append
                    if not arrs:
                        push(done)
            elif g == 7:
                lex = _Lexer(content, m.end() - 1)
                push(lex._parse_literal_string())
                pos = lex.pos
                break
        else:
            return runs


def _page_text(runs: list[tuple[float, float, str]]) -> str:
    """Group runs into lines by y, order top-down then left-right.

    Semantics: each run joins the FIRST-CREATED line within ``_LINE_TOL`` of
    its y (else starts a new line). A y-sorted index narrows the candidate
    window so a pathological page (tens of thousands of runs) stays near
    O(n log n) instead of quadratic; within the window the minimum creation
    index reproduces the first-created rule exactly."""
    if not runs:
        return ""
    import bisect

    lines: list[tuple[float, list[tuple[float, str]]]] = []
    ys: list[tuple[float, int]] = []  # sorted (line_y, creation_idx)
    eps = 1e-6  # widen the window a hair; the abs() below is authoritative
    for x, y, text in runs:
        lo = bisect.bisect_left(ys, (y - _LINE_TOL - eps, -1))
        hi = bisect.bisect_right(ys, (y + _LINE_TOL + eps, 1 << 60))
        best = -1
        for j in range(lo, hi):
            line_y, idx = ys[j]
            if abs(line_y - y) <= _LINE_TOL and (best < 0 or idx < best):
                best = idx
        if best >= 0:
            lines[best][1].append((x, text))
        else:
            bisect.insort(ys, (y, len(lines)))
            lines.append((y, [(x, text)]))
    lines.sort(key=lambda l: -l[0])
    out_lines = []
    for _, items in lines:
        items.sort(key=lambda it: it[0])
        out_lines.append("".join(t for _, t in items))
    return "\n".join(out_lines)


def extract_pdf_text(data: bytes) -> str:
    if not data.startswith(b"%PDF-"):
        raise ConvertError("not a PDF file (missing %PDF- header)")
    pdf = _Pdf(data)
    pages = pdf.pages()
    if not pages:
        raise ConvertError("no pages found in PDF")
    page_texts = []
    for page in pages:
        runs = _extract_page_runs(pdf.content_bytes(page),
                                  _page_fonts(pdf, page))
        text = _page_text(runs)
        if text:
            page_texts.append(text)
    return "\n\n".join(page_texts)


def convert_pdf(text: str) -> list[Segment]:
    return [md(extract_pdf_text(decode_binary_payload(text)))]
