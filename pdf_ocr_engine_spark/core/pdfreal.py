"""Real-PDF text-layer extraction — content streams to word boxes (S3/S4).

Round 1 decoded only the repo's own WBOX word-box containers; genuine PDFs
were ``status='unsupported'``.  This module parses *real* PDFs the way the
reference reads born-digital documents — page sizes via the page tree
(``/root/reference/src/lib/ocr/extractor.ts:44-60``, pdf-lib) and existing
text via the content streams (``extractor.ts:62-103``, pdf.js
``getTextContent``) — entirely in stdlib Python (``zlib`` for FlateDecode),
and emits the same ``{"page_count", "pages": [{"page_no", "width",
"height", "has_text", "texts", "coords"}]}`` shape as
``pdfbin.decode_pdf_arrays`` so the extraction pipeline downstream
(layout kernel, spans, assembly) is unchanged.

Scope — the deterministic text layer only (no rasterizing, no OCR):

* object graph: classic ``N G obj`` scan (robust to broken xref tables —
  the index is rebuilt from the bytes, last definition wins, mirroring
  pdf.js recovery mode) plus compressed object streams (``/Type /ObjStm``);
* filters: FlateDecode (with PNG predictors), ASCIIHexDecode,
  ASCII85Decode; anything else on a *content* stream raises → the
  document lands in ``status='decode_error'`` (errors are values);
* text operators: BT/ET, Tf, Td/TD/Tm/T*/TL, Tc/Tw/Tz/Ts, Tj/TJ/'/",
  with q/Q/cm tracked so positioned text survives transformed pages;
* fonts: simple-font ``/Widths`` + base-14 AFM fallback
  (``functions/afm.py``), Type0/Identity-H ``/W`` widths, and ``/ToUnicode``
  CMaps (bfchar/bfrange) for text mapping.

Word boxes: glyph runs split at whitespace; a word's box is
``x0 = start, x1 = start + advances`` on the device baseline, with the
glyph box approximated as 0.8 em ascent / 0.2 em descent around the
baseline (top-origin image coords, same convention the WBOX path uses).
``has_text`` per page follows the reference's detector exactly: any shown
string with non-blank content (``extractor.ts:80-91``).

The writer ``core/pdfwrite.py`` and this parser oracle each other:
write → re-extract → layout must reproduce the document token stream
(see ``queries.q_extract_real_pdf`` and tests/test_pdfreal.py).
"""

from __future__ import annotations

import re
import struct
import zlib
from typing import Any

from ..functions.afm import FALLBACK_UNITS, HELVETICA_WIDTHS
from .glyphs import STANDARD, base_encoding_map, glyph_to_unicode

__all__ = ["extract_page_images", "is_real_pdf", "parse_real_pdf"]

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_OBJ_RE = re.compile(rb"(\d+)[\x00\t\n\x0c\r ]+(\d+)[\x00\t\n\x0c\r ]+obj\b")

# Base-14 faces we can width with the embedded AFM table (subset prefixes
# like "ABCDEF+Helvetica" are stripped before the lookup).
_AFM_FACES = ("Helvetica", "Arial", "Courier", "Times")


class _Ref(tuple):
    """Indirect reference (num, gen)."""
    __slots__ = ()


class _Name(str):
    """PDF name object — distinct from string values."""
    __slots__ = ()


#: pdf.js-style header recovery: real-world crawl PDFs frequently carry
#: leading junk (HTTP garbage, BOM) before %PDF-; tolerate it within the
#: first 1 KiB like pdf.js does instead of rejecting the document.
_HEADER_SCAN = 1024


def _header_offset(data: bytes) -> int:
    """Offset of the %PDF- magic within the first 1 KiB, or -1."""
    if data[:5] == b"%PDF-":
        return 0
    return data.find(b"%PDF-", 0, _HEADER_SCAN)


def is_real_pdf(data: bytes) -> bool:
    """%PDF- magic (within the first 1 KiB, pdf.js recovery semantics)
    and at least one indirect object definition."""
    return _header_offset(data) >= 0 and _OBJ_RE.search(data) is not None


# --------------------------------------------------------------------------
# Object parsing
# --------------------------------------------------------------------------

def _skip_ws(d: bytes, p: int) -> int:
    n = len(d)
    while p < n:
        c = d[p]
        if c in _WS:
            p += 1
        elif c == 0x25:  # '%' comment to EOL
            while p < n and d[p] not in (0x0A, 0x0D):
                p += 1
        else:
            break
    return p


def _parse_name(d: bytes, p: int) -> tuple[_Name, int]:
    p += 1  # '/'
    out = bytearray()
    n = len(d)
    while p < n and d[p] not in _WS and d[p] not in _DELIM:
        if d[p] == 0x23 and p + 2 < n:  # '#xx'
            try:
                out.append(int(d[p + 1:p + 3], 16))
                p += 3
                continue
            except ValueError:
                pass
        out.append(d[p])
        p += 1
    return _Name(out.decode("latin-1")), p


def _parse_literal_string(d: bytes, p: int) -> tuple[bytes, int]:
    p += 1  # '('
    out = bytearray()
    depth = 1
    n = len(d)
    while p < n:
        c = d[p]
        if c == 0x5C:  # backslash
            nxt = d[p + 1:p + 2]
            if nxt in (b"n", b"r", b"t", b"b", b"f"):
                out.append({"n": 10, "r": 13, "t": 9, "b": 8,
                            "f": 12}[nxt.decode()])
                p += 2
            elif nxt and nxt in b"01234567":
                # octal digits only: "\9" is an escaped literal '9' per
                # spec (handled by the fall-through), and "\778" is octal
                # 77 followed by a literal '8'
                k = p + 1
                oct_d = b""
                while k < n and len(oct_d) < 3 and d[k] in b"01234567":
                    oct_d += d[k:k + 1]
                    k += 1
                out.append(int(oct_d, 8) & 0xFF)
                p = k
            elif nxt in (b"\n", b"\r"):  # line continuation
                p += 2
                if nxt == b"\r" and d[p:p + 1] == b"\n":
                    p += 1
            else:
                out += nxt
                p += 2
        elif c == 0x28:
            depth += 1
            out.append(c)
            p += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), p + 1
            out.append(c)
            p += 1
        else:
            out.append(c)
            p += 1
    raise ValueError("unterminated string")


def _parse_hex_string(d: bytes, p: int) -> tuple[bytes, int]:
    p += 1  # '<'
    end = d.find(b">", p)
    if end < 0:
        raise ValueError("unterminated hex string")
    hx = bytes(c for c in d[p:end] if c not in _WS).decode("latin-1")
    if len(hx) % 2:
        hx += "0"
    return bytes.fromhex(hx), end + 1


#: inline-image terminator: EI followed by whitespace/EOF — the byte-after
#: check pdf.js's findDefaultInlineStreamEnd applies.  The spec doesn't
#: mandate LEADING whitespace (real encoders emit data abutting EI), and
#: requiring it can overshoot past the true terminator; the trailing check
#: alone already rejects the common 'EI' byte-pairs inside binary data.
_EI_TRAIL_RE = re.compile(rb"EI(?=[\x00\t\n\x0c\r ]|\Z)")

_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_REF_RE = re.compile(
    rb"[\x00\t\n\x0c\r ]+(\d+)[\x00\t\n\x0c\r ]+R(?![A-Za-z0-9])")


def _parse_value(d: bytes, p: int) -> tuple[Any, int]:
    """One PDF object starting at ``p`` (whitespace already allowed)."""
    p = _skip_ws(d, p)
    if p >= len(d):
        raise ValueError("unexpected end of data")
    c = d[p]
    if c == 0x2F:  # '/'
        return _parse_name(d, p)
    if c == 0x28:  # '('
        return _parse_literal_string(d, p)
    if c == 0x3C:  # '<' or '<<'
        if d[p:p + 2] == b"<<":
            p += 2
            out: dict[str, Any] = {}
            while True:
                p = _skip_ws(d, p)
                if p >= len(d):
                    raise ValueError("unterminated dictionary")
                if d[p:p + 2] == b">>":
                    return out, p + 2
                if d[p] != 0x2F:
                    raise ValueError("dict key is not a name")
                key, p = _parse_name(d, p)
                val, p = _parse_value(d, p)
                out[str(key)] = val
        return _parse_hex_string(d, p)
    if c == 0x5B:  # '['
        p += 1
        arr: list[Any] = []
        while True:
            p = _skip_ws(d, p)
            if p >= len(d):
                raise ValueError("unterminated array")
            if d[p] == 0x5D:
                return arr, p + 1
            val, p = _parse_value(d, p)
            arr.append(val)
    if d[p:p + 4] == b"true":
        return True, p + 4
    if d[p:p + 5] == b"false":
        return False, p + 5
    if d[p:p + 4] == b"null":
        return None, p + 4
    m = _NUM_RE.match(d, p)
    if m:
        tok = m.group()
        p2 = m.end()
        if b"." not in tok:
            # lookahead for "num gen R" indirect reference
            m2 = _REF_RE.match(d, p2)
            if m2:
                return _Ref((int(tok), int(m2.group(1)))), m2.end()
            return int(tok), p2
        return float(tok), p2
    raise ValueError(f"unparseable object at byte {p}")


# --------------------------------------------------------------------------
# Filters
# --------------------------------------------------------------------------

def _png_unpredict(data: bytes, colors: int, bpc: int, columns: int) -> bytes:
    """Reverse PNG row predictors (used by Flate DecodeParms)."""
    bpp = max(1, (colors * bpc) // 8)
    row_len = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(row_len)
    pos = 0
    while pos + 1 + row_len <= len(data) + row_len and pos < len(data):
        ft = data[pos]
        row = bytearray(data[pos + 1:pos + 1 + row_len])
        pos += 1 + row_len
        if ft == 1:    # Sub
            for i in range(bpp, len(row)):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(len(row)):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(len(row)):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                cc = prev[i - bpp] if i >= bpp else 0
                pa, pb, pc = abs(b - cc), abs(a - cc), abs(a + b - 2 * cc)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                row[i] = (row[i] + pr) & 0xFF
        out += row
        prev = row
    return bytes(out)


def _apply_predictor(raw: bytes, parms: dict | None) -> bytes:
    """Shared DecodeParms predictor handling (Flate and LZW take the same
    parameters): PNG predictors reversed, TIFF predictor 2 rejected loudly
    — silently passing predicted bytes through would extract wrong text
    with status='ok'."""
    parms = parms or {}
    pred = int(parms.get("Predictor", 1) or 1)
    if pred >= 10:
        return _png_unpredict(raw, int(parms.get("Colors", 1)),
                              int(parms.get("BitsPerComponent", 8)),
                              int(parms.get("Columns", 1)))
    if pred != 1:
        raise ValueError(f"unsupported predictor {pred}")
    return raw


def _apply_filter(name: str, data: bytes, parms: dict | None) -> bytes:
    if name in ("FlateDecode", "Fl"):
        try:
            raw = zlib.decompress(data)
        except zlib.error:
            # tolerate trailing garbage / missing adler (seen in the wild)
            raw = zlib.decompressobj().decompress(data)
        return _apply_predictor(raw, parms)
    if name in ("ASCIIHexDecode", "AHx"):
        body = data.split(b">")[0]
        hx = bytes(c for c in body if c not in _WS).decode("latin-1")
        if len(hx) % 2:
            hx += "0"
        return bytes.fromhex(hx)
    if name in ("ASCII85Decode", "A85"):
        import base64
        body = data.split(b"~>")[0]
        body = bytes(c for c in body if c not in _WS)
        return base64.a85decode(body, adobe=False)
    if name in ("LZWDecode", "LZW"):
        parms = parms or {}
        raw = _lzw_decode(data,
                          early=int(parms.get("EarlyChange", 1) or 0))
        return _apply_predictor(raw, parms)
    if name in ("RunLengthDecode", "RL"):
        return _rle_decode(data)
    raise ValueError(f"unsupported stream filter {name}")


#: trailing filters whose "decoded" form is an image interchange format —
#: a stream-filter pass must NOT try to expand them (abbreviated names per
#: ISO 32000 table 6 included)
_IMAGE_FILTERS = {
    "DCTDecode": "DCTDecode", "DCT": "DCTDecode",
    "JPXDecode": "JPXDecode",
    "CCITTFaxDecode": "CCITTFaxDecode", "CCF": "CCITTFaxDecode",
    "JBIG2Decode": "JBIG2Decode",
}


def _rle_decode(data: bytes) -> bytes:
    """RunLengthDecode (ISO 32000 §7.4.5): length byte L — L<128 copies the
    next L+1 bytes literally, L>128 repeats the next byte 257−L times,
    L=128 is EOD.  Seen in older real-world PDFs (VERDICT round-2 item 9)."""
    out = bytearray()
    p, n = 0, len(data)
    while p < n:
        ln = data[p]
        p += 1
        if ln == 128:
            break
        if ln < 128:
            chunk = data[p:p + ln + 1]
            if len(chunk) != ln + 1:
                raise ValueError("truncated RunLength literal run")
            out += chunk
            p += ln + 1
        else:
            if p >= n:
                raise ValueError("truncated RunLength repeat run")
            out += data[p:p + 1] * (257 - ln)
            p += 1
    return bytes(out)


#: LZW expansion bound: table entries grow a byte per code, so k input
#: codes can emit O(k²) output — a small hostile stream would otherwise
#: OOM the worker where max_doc_ms can't interrupt.
_LZW_MAX_OUT = 64 << 20


def _lzw_decode(data: bytes, early: int = 1,
                max_out: int = _LZW_MAX_OUT) -> bytes:
    """PDF-flavor LZW (ISO 32000 §7.4.4): MSB-first variable-width codes
    9→12 bits, 256 = clear-table, 257 = EOD, ``EarlyChange`` widens the
    code size one code early (the default).  Older real-world PDFs (pre-
    Flate toolchains) still carry it on content streams.  Output is capped
    at ``max_out`` (quadratic-expansion bombs become ValueError →
    decode_error, not executor OOM)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    buf = 0
    nbits = 0
    prev: bytes | None = None
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (buf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:  # clear table
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
            else:
                raise ValueError("corrupt LZW stream (code out of range)")
            out += entry
            if len(out) > max_out:
                raise ValueError("LZW stream expands past the output cap")
            if prev is not None:
                table.append(prev + entry[:1])
            prev = entry
            if len(table) + early >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


# --------------------------------------------------------------------------
# Document graph
# --------------------------------------------------------------------------

class _Doc:
    """Lazy object store over the raw bytes: offset index from a full
    ``N G obj`` scan (xref-table-independent), compressed-object-stream
    sideload, memoized resolution."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.index: dict[int, int] = {}
        self.gens: dict[int, int] = {}
        for m in _OBJ_RE.finditer(data):
            # later definitions (incremental updates) win
            num = int(m.group(1))
            self.index[num] = m.end()
            self.gens[num] = int(m.group(2))
        self._cache: dict[int, Any] = {}
        self._objstm_loaded = False
        self.decryptor = None
        if b"/Encrypt" in data:  # cheap pre-check; the common case skips all
            self._setup_encryption()

    def _setup_encryption(self) -> None:
        """Standard-security-handler setup (ISO 32000-1 §7.6): find the
        governing trailer's /Encrypt + /ID and build the empty-user-password
        decryptor.  Raises ``EncryptedPdfError`` (→ ``status='encrypted'``)
        when the scheme is unsupported or a real password is required."""
        from .pdfcrypt import EncryptedPdfError, StandardDecryptor

        enc_ref = None
        id0 = b""
        # last trailer wins (incremental updates); XRef-stream trailers are
        # dicts of /Type /XRef objects and are picked up below
        for m in re.finditer(rb"trailer\b", self.data):
            try:
                d, _ = _parse_value(self.data, m.end())
            except (ValueError, IndexError):
                continue
            if isinstance(d, dict) and "Encrypt" in d:
                enc_ref = d.get("Encrypt")
                ids = d.get("ID")
                if isinstance(ids, list) and ids and isinstance(ids[0], bytes):
                    id0 = ids[0]
        if enc_ref is None:
            for num in list(self.index):
                try:
                    obj = self.get(num)
                except ValueError:
                    continue
                d = obj.dict if isinstance(obj, _Stream) else obj
                if isinstance(d, dict) and str(d.get("Type", "")) == "XRef" \
                        and "Encrypt" in d:
                    enc_ref = d.get("Encrypt")
                    ids = d.get("ID")
                    if isinstance(ids, list) and ids \
                            and isinstance(ids[0], bytes):
                        id0 = ids[0]
        if enc_ref is None:
            return  # "/Encrypt" bytes were a false positive (e.g. in text)
        enc = self.resolve(enc_ref)
        if not isinstance(enc, dict):
            raise EncryptedPdfError("malformed /Encrypt reference")
        self.decryptor = StandardDecryptor(enc, id0)

    def _load_object_streams(self) -> None:
        if self._objstm_loaded:
            return
        self._objstm_loaded = True
        for num in list(self.index):
            try:
                obj = self.get(num)
            except ValueError:
                continue
            if isinstance(obj, _Stream) and \
                    str(obj.dict.get("Type", "")) == "ObjStm":
                try:
                    body = obj.decoded(self)
                    n = int(self.resolve(obj.dict.get("N", 0)))
                    first = int(self.resolve(obj.dict.get("First", 0)))
                except (ValueError, TypeError):
                    continue
                header = body[:first].split()
                for i in range(n):
                    try:
                        onum = int(header[2 * i])
                        off = int(header[2 * i + 1])
                        val, _ = _parse_value(body, first + off)
                    except (ValueError, IndexError):
                        continue
                    if onum not in self._cache:
                        self._cache[onum] = val

    def all_object_numbers(self) -> list[int]:
        """Every reachable object number — top-level definitions plus the
        contents of compressed object streams — in ascending order."""
        self._load_object_streams()
        return sorted(set(self.index) | set(self._cache))

    def get(self, num: int) -> Any:
        if num in self._cache:
            return self._cache[num]
        pos = self.index.get(num)
        if pos is None:
            self._load_object_streams()
            if num in self._cache:
                return self._cache[num]
            raise ValueError(f"missing object {num}")
        try:
            val, p = _parse_value(self.data, pos)
        except (IndexError, struct.error) as exc:
            # truncated trailing object (cut-off download / incremental
            # update): normalize to ValueError so the per-object recovery
            # loops skip it instead of aborting the whole document
            raise ValueError(f"truncated object {num}: {exc}") from exc
        if isinstance(val, dict):
            p2 = _skip_ws(self.data, p)
            if self.data[p2:p2 + 6] == b"stream":
                p2 += 6
                if self.data[p2:p2 + 2] == b"\r\n":
                    p2 += 2
                elif self.data[p2:p2 + 1] in (b"\n", b"\r"):
                    p2 += 1
                try:
                    length = int(self.resolve(val.get("Length", -1)))
                except (ValueError, TypeError):
                    length = -1
                if length >= 0 and \
                        self.data[p2 + length:p2 + length + 20].lstrip(
                            _WS).startswith(b"endstream"):
                    raw = self.data[p2:p2 + length]
                else:  # bad /Length — recover by scanning
                    e = self.data.find(b"endstream", p2)
                    if e < 0:
                        raise ValueError(f"unterminated stream in obj {num}")
                    raw = self.data[p2:e].rstrip(b"\r\n")
                val = _Stream(val, raw, num, self.gens.get(num, 0))
        self._cache[num] = val
        return val

    def resolve(self, v: Any, _depth: int = 0) -> Any:
        while isinstance(v, _Ref):
            if _depth > 32:
                raise ValueError("reference cycle")
            v = self.get(v[0])
            _depth += 1
        return v


class _Stream:
    __slots__ = ("dict", "raw", "_decoded", "num", "gen")

    def __init__(self, d: dict, raw: bytes, num: int = 0,
                 gen: int = 0) -> None:
        self.dict = d
        self.raw = raw
        self.num = num
        self.gen = gen
        self._decoded: bytes | None = None

    def _filter_chain(self, doc: _Doc) -> list[tuple[str, dict | None]]:
        """Normalized ``(filter_name, decode_parms)`` pairs."""
        filters = doc.resolve(self.dict.get("Filter"))
        parms = doc.resolve(self.dict.get("DecodeParms"))
        if filters is None:
            filters, parms = [], []
        elif not isinstance(filters, list):
            filters, parms = [filters], [parms]
        elif not isinstance(parms, list):
            parms = [parms] * len(filters)
        out: list[tuple[str, dict | None]] = []
        for i, f in enumerate(filters):
            pp = doc.resolve(parms[i]) if i < len(parms) else None
            out.append((str(doc.resolve(f)),
                        pp if isinstance(pp, dict) else None))
        return out

    def _decrypted_raw(self, doc: _Doc) -> bytes:
        data = self.raw
        if doc.decryptor is not None:
            # Algorithm-1 per-object decryption before any filter;
            # XRef streams are spec-exempt but never decoded here
            data = doc.decryptor.decrypt(self.num, self.gen, data)
        return data

    def decoded(self, doc: _Doc) -> bytes:
        if self._decoded is None:
            data = self._decrypted_raw(doc)
            for name, pp in self._filter_chain(doc):
                data = _apply_filter(name, data, pp)
            self._decoded = data
        return self._decoded

    def decoded_image(self, doc: _Doc,
                      ) -> tuple[bytes, str | None, dict | None]:
        """Decoded bytes of an image XObject: every stream filter applied
        EXCEPT a trailing image-codec filter (DCTDecode et al.), whose
        canonical name and DecodeParms are returned — per ISO 32000 those
        bytes are the image interchange format itself (JPEG/JPEG2000/
        CCITT), consumed by an image codec rather than a stream filter
        (CCITTFaxDecode needs /K, /Columns, /Rows from the parms)."""
        data = self._decrypted_raw(doc)
        chain = self._filter_chain(doc)
        for i, (name, pp) in enumerate(chain):
            canon = _IMAGE_FILTERS.get(name)
            if canon is not None and i == len(chain) - 1:
                return data, canon, pp
            data = _apply_filter(name, data, pp)
        return data, None, None


# --------------------------------------------------------------------------
# Page tree
# --------------------------------------------------------------------------

_INHERITABLE = ("Resources", "MediaBox", "Rotate", "CropBox")


def _find_pages(doc: _Doc) -> list[dict]:
    """Ordered page dicts with inherited attributes folded in."""
    root_pages = None
    for num in doc.all_object_numbers():
        try:
            obj = doc.get(num)
        except ValueError:
            continue
        if isinstance(obj, dict) and str(obj.get("Type", "")) == "Catalog":
            root_pages = obj.get("Pages")
            break
    pages: list[dict] = []

    def walk(node_ref: Any, inherited: dict, depth: int,
             seen: set[int]) -> None:
        if depth > 64:
            raise ValueError("page tree too deep")
        if isinstance(node_ref, _Ref):
            if node_ref[0] in seen:
                raise ValueError("page tree cycle")
            seen = seen | {node_ref[0]}
        node = doc.resolve(node_ref)
        if not isinstance(node, dict):
            return
        inh = dict(inherited)
        for k in _INHERITABLE:
            if k in node:
                inh[k] = node[k]
        t = str(node.get("Type", ""))
        if t == "Page" or (t != "Pages" and "Contents" in node):
            merged = dict(inh)
            merged.update(node)
            # object number of the page node (None for illegal inline page
            # dicts) — the incremental-update overlay needs it to redefine
            # the page in place (core/pdfoverlay.py)
            merged["__num__"] = (node_ref[0]
                                 if isinstance(node_ref, _Ref) else None)
            pages.append(merged)
        elif t == "Pages" or "Kids" in node:
            for kid in doc.resolve(node.get("Kids", [])) or []:
                walk(kid, inh, depth + 1, seen)

    if root_pages is not None:
        walk(root_pages, {}, 0, set())
    if not pages:  # no/broken catalog: every /Type /Page in object order
        for num in doc.all_object_numbers():
            try:
                obj = doc.get(num)
            except ValueError:
                continue
            if isinstance(obj, dict) and str(obj.get("Type", "")) == "Page":
                page = dict(obj)
                page["__num__"] = num
                pages.append(page)
    return pages


# --------------------------------------------------------------------------
# Fonts
# --------------------------------------------------------------------------

class _Font:
    __slots__ = ("widths", "default_w", "to_unicode", "two_byte",
                 "encoding_map")

    def __init__(self) -> None:
        self.widths: dict[int, float] = {}
        self.default_w = 500.0
        self.to_unicode: dict[int, str] | None = None
        self.two_byte = False
        #: simple-font code→Unicode from /Encoding (+/Differences); for
        #: Type0 UCS2 predefined CMaps the 2-byte code IS the code point,
        #: which the plain chr() fallback already yields.
        self.encoding_map: dict[int, str] | None = None

    def advance_units(self, code: int) -> float:
        return self.widths.get(code, self.default_w)

    def char(self, code: int) -> str:
        # resolution order mirrors pdf.js getTextContent: an explicit
        # ToUnicode CMap is authoritative, then the font's /Encoding
        # (base table + Differences), then the Latin-1 byte fallback
        # (our own writer's encoding; also the pre-encoding behavior).
        if self.to_unicode is not None and code in self.to_unicode:
            return self.to_unicode[code]
        if self.encoding_map is not None:
            got = self.encoding_map.get(code)
            if got is not None:
                return got
        return chr(code)


_BF_CHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BF_RANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEX_RE = re.compile(rb"<([0-9A-Fa-f]+)>")


def _utf16be(hx: bytes) -> str:
    b = bytes.fromhex(hx.decode("latin-1"))
    try:
        return b.decode("utf-16-be")
    except UnicodeDecodeError:
        return ""


def _parse_tounicode(data: bytes) -> dict[int, str]:
    out: dict[int, str] = {}
    for m in _BF_CHAR_RE.finditer(data):
        toks = _HEX_RE.findall(m.group(1))
        for i in range(0, len(toks) - 1, 2):
            out[int(toks[i], 16)] = _utf16be(toks[i + 1])
    for m in _BF_RANGE_RE.finditer(data):
        body = m.group(1)
        pos = 0
        while True:
            mm = re.compile(
                rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(<([0-9A-Fa-f]+)>|\[)"
            ).search(body, pos)
            if not mm:
                break
            lo, hi = int(mm.group(1), 16), int(mm.group(2), 16)
            if mm.group(3) == b"[":
                end = body.find(b"]", mm.end())
                if end < 0:
                    # truncated/malformed array form: without this bail,
                    # pos would wrap to 0 and the same match would repeat
                    # forever (CPU-bound hang max_doc_ms can't interrupt)
                    break
                dsts = _HEX_RE.findall(body[mm.end():end])
                for i, code in enumerate(range(lo, hi + 1)):
                    if i < len(dsts):
                        out[code] = _utf16be(dsts[i])
                pos = end + 1
            else:
                base = int(mm.group(4), 16)
                for i, code in enumerate(range(lo, min(hi, lo + 65535) + 1)):
                    out[code] = chr(base + i) if base + i < 0x110000 else ""
                pos = mm.end()
    return out


def _afm_widths_for(base_font: str) -> dict[int, float] | None:
    face = base_font.split("+")[-1]
    if any(face.startswith(f) for f in _AFM_FACES):
        return {i: float(w) for i, w in enumerate(HELVETICA_WIDTHS) if w}
    return None


#: predefined CMaps whose 2-byte code IS the UCS-2 code point — the common
#: CJK encodings where extraction needs no CMap resource files at all.
_UCS2_CMAPS = frozenset(
    f"Uni{reg}-UCS2-{wm}"
    for reg in ("GB", "CNS", "JIS", "KS") for wm in ("H", "V"))


def _simple_encoding_map(doc: _Doc, enc: Any,
                         counters: dict[str, int]) -> dict[int, str] | None:
    """Code→Unicode table from a simple font's /Encoding entry — a base
    encoding NAME or a dict with /BaseEncoding + /Differences (glyph names
    resolved through the AGL subset).  Unknown base names and unresolvable
    glyph names bump ``encoding_fallback`` so corpus-quality drift is
    counted, never silent."""
    base_name: str | None = None
    diffs = None
    if isinstance(enc, _Name):
        base_name = str(enc)
    elif isinstance(enc, dict):
        b = enc.get("BaseEncoding")
        base_name = str(doc.resolve(b)) if b is not None else None
        diffs = doc.resolve(enc.get("Differences"))
    else:
        return None
    table = base_encoding_map(base_name)
    if base_name is not None and table is None:
        counters["encoding_fallback"] += 1
    if table is None:
        # missing/unknown base with a Differences array: the spec says the
        # font's built-in encoding, which (absent an embedded font program)
        # Standard approximates — the same default pdf.js applies
        table = dict(STANDARD) if isinstance(diffs, list) else None
    if isinstance(diffs, list) and table is not None:
        _apply_differences(doc, diffs, table, counters)
    return table


def _apply_differences(doc: _Doc, diffs: list, table: dict[int, str],
                       counters: dict[str, int]) -> None:
    """Apply an /Encoding /Differences array onto ``table`` in place
    (glyph names through the AGL subset; unresolvable names counted)."""
    code = 0
    for item in diffs:
        item = doc.resolve(item)
        if isinstance(item, (int, float)):
            code = int(item)
        elif isinstance(item, _Name):
            u = glyph_to_unicode(str(item))
            if u is None:
                counters["encoding_fallback"] += 1
                u = "�"
            table[code] = u
            code += 1


def _truetype_recovery(doc: _Doc, descr: Any,
                       ) -> tuple[dict[int, str] | None,
                                  dict[int, int] | None]:
    """Embedded TrueType program (``/FontFile2``) → ``(gid→unicode,
    code→gid)`` recovered from its ``cmap``/``post`` tables, or
    ``(None, None)`` when absent/unreadable.  This is the tier the
    reference gets from pdf.js for subsetted fonts with no /ToUnicode
    (``extractor.ts:62-103``); spec: ISO/IEC 14496-22 (sfnt), ISO 32000
    9.6.6.4 (symbolic TrueType code lookup)."""
    if not isinstance(descr, dict):
        return None, None
    ff = doc.resolve(descr.get("FontFile2"))
    if not isinstance(ff, _Stream):
        return None, None
    from .sfnt import SfntError, best_unicode_cmap, gid_to_unicode, \
        parse_tables

    try:
        font = ff.decoded(doc)
        g2u = gid_to_unicode(font)
        cmap = parse_tables(font).get("cmap")
        c2g = best_unicode_cmap(cmap) if cmap is not None else None
        return (g2u or None), (c2g or None)
    except (SfntError, ValueError):
        return None, None


def _load_font(doc: _Doc, font_obj: Any,
               counters: dict[str, int]) -> _Font:
    f = _Font()
    fd = doc.resolve(font_obj)
    if not isinstance(fd, dict):
        return f
    subtype = str(fd.get("Subtype", ""))
    tu = doc.resolve(fd.get("ToUnicode"))
    if isinstance(tu, _Stream):
        try:
            f.to_unicode = _parse_tounicode(tu.decoded(doc))
        except ValueError:
            pass
    if subtype == "Type0":
        f.two_byte = True
        f.default_w = 1000.0
        cmap = doc.resolve(fd.get("Encoding"))
        cmap_name = str(cmap) if isinstance(cmap, _Name) else None
        if cmap_name in _UCS2_CMAPS or cmap_name in ("Identity-H",
                                                     "Identity-V"):
            # UCS2 family: code == Unicode code point, which char()'s
            # chr() fallback already yields; Identity: code == CID, only
            # ToUnicode can map it (the fallback is best-effort either way)
            pass
        elif f.to_unicode is None:
            # embedded CMap stream or unhandled predefined name without a
            # ToUnicode: text comes back as raw CIDs — count it
            counters["encoding_fallback"] += 1
        desc = doc.resolve(fd.get("DescendantFonts"))
        if isinstance(desc, list) and desc:
            d0 = doc.resolve(desc[0])
            if isinstance(d0, dict):
                if (f.to_unicode is None
                        and cmap_name in ("Identity-H", "Identity-V")):
                    # subsetted CIDFontType2 without ToUnicode: recover
                    # CID→Unicode through the embedded font program's
                    # cmap/post tables (code → CID → gid → Unicode)
                    descr0 = doc.resolve(d0.get("FontDescriptor"))
                    g2u, _c2g = _truetype_recovery(doc, descr0)
                    if g2u:
                        c2gid = doc.resolve(d0.get("CIDToGIDMap"))
                        if isinstance(c2gid, _Stream):
                            try:
                                raw = c2gid.decoded(doc)
                            except ValueError:
                                raw = b""
                            mapping = {
                                cid: g2u[gid]
                                for cid in range(len(raw) // 2)
                                if (gid := (raw[2 * cid] << 8)
                                    | raw[2 * cid + 1]) in g2u}
                            if mapping:
                                f.encoding_map = mapping
                            else:
                                # corrupt/uninformative map: text comes
                                # back as raw CIDs — count it, same as
                                # the no-recovery branch below
                                counters["encoding_fallback"] += 1
                        else:
                            # /Identity (name or absent): CID == gid
                            f.encoding_map = dict(g2u)
                    else:
                        # no recovery possible (font program absent or
                        # uninformative) — text comes back as raw CIDs;
                        # count the quality loss in lineage
                        counters["encoding_fallback"] += 1
                f.default_w = float(doc.resolve(d0.get("DW", 1000)) or 1000)
                w_arr = doc.resolve(d0.get("W"))
                if isinstance(w_arr, list):
                    i = 0
                    while i < len(w_arr):
                        c = doc.resolve(w_arr[i])
                        nxt = doc.resolve(w_arr[i + 1]) if i + 1 < len(w_arr) \
                            else None
                        if isinstance(nxt, list):
                            for j, w in enumerate(nxt):
                                f.widths[int(c) + j] = float(doc.resolve(w))
                            i += 2
                        elif nxt is not None and i + 2 < len(w_arr):
                            w = float(doc.resolve(w_arr[i + 2]))
                            for code in range(int(c), int(nxt) + 1):
                                f.widths[code] = w
                            i += 3
                        else:
                            break
        return f
    # simple font
    f.encoding_map = _simple_encoding_map(
        doc, doc.resolve(fd.get("Encoding")), counters)
    first = doc.resolve(fd.get("FirstChar"))
    widths = doc.resolve(fd.get("Widths"))
    base = str(doc.resolve(fd.get("BaseFont", "")) or "")
    afm = _afm_widths_for(base)
    if afm:
        f.widths.update(afm)
        f.default_w = float(FALLBACK_UNITS)
    # Type3 widths live in GLYPH space scaled by /FontMatrix (usually
    # [0.001 ...], which coincides with the /1000 text-space convention
    # every other simple font uses); normalize non-standard matrices so
    # advance_units/1000 semantics hold for all fonts
    wscale = 1.0
    if subtype == "Type3":
        fm = doc.resolve(fd.get("FontMatrix"))
        if isinstance(fm, list) and len(fm) == 6:
            try:
                wscale = float(doc.resolve(fm[0])) * 1000.0
            except (TypeError, ValueError):
                wscale = 1.0
    if isinstance(widths, list) and first is not None:
        for i, w in enumerate(widths):
            try:
                f.widths[int(first) + i] = float(doc.resolve(w)) * wscale
            except (TypeError, ValueError):
                pass
    descr = doc.resolve(fd.get("FontDescriptor"))
    if subtype == "TrueType" and f.to_unicode is None:
        # symbolic/subsetted simple TrueType (print-driver PDFs): the
        # content byte resolves through the font's own cmap — (3,0)
        # Symbol wraps it as 0xF000+byte — to a gid, whose meaning only
        # the Unicode cmap or post names record (ISO 32000 9.6.6.4).
        g2u, c2g = _truetype_recovery(doc, descr)
        if g2u and c2g:
            rec = {code: g2u[gid] for code, gid in c2g.items()
                   if 0 <= code < 256 and gid in g2u}
            if rec:
                flags = doc.resolve(descr.get("Flags")) \
                    if isinstance(descr, dict) else None
                symbolic = isinstance(flags, (int, float)) \
                    and int(flags) & 4
                if f.encoding_map is None or symbolic:
                    # a symbolic font's base encoding IS its built-in
                    # cmap; explicit /Differences still override it
                    table = dict(rec)
                    enc = doc.resolve(fd.get("Encoding"))
                    if isinstance(enc, dict):
                        diffs = doc.resolve(enc.get("Differences"))
                        if isinstance(diffs, list):
                            _apply_differences(doc, diffs, table,
                                               counters)
                    f.encoding_map = table
                else:
                    # nonsymbolic: the named encoding stays authoritative
                    # and recovery fills its holes
                    for c, u in rec.items():
                        f.encoding_map.setdefault(c, u)
    if isinstance(descr, dict) and "MissingWidth" in descr:
        try:
            # MissingWidth lives in the same glyph space as /Widths — the
            # Type3 FontMatrix normalization applies to it too
            f.default_w = float(doc.resolve(descr["MissingWidth"])) * wscale
        except (TypeError, ValueError):
            pass
    return f


# --------------------------------------------------------------------------
# Content-stream interpreter
# --------------------------------------------------------------------------

def _mat_mul(m: tuple, n: tuple) -> tuple:
    a1, b1, c1, d1, e1, f1 = m
    a2, b2, c2, d2, e2, f2 = n
    return (a1 * a2 + b1 * c2, a1 * b2 + b1 * d2,
            c1 * a2 + d1 * c2, c1 * b2 + d1 * d2,
            e1 * a2 + f1 * c2 + e2, e1 * b2 + f1 * d2 + f2)


def _mat_apply(m: tuple, x: float, y: float) -> tuple[float, float]:
    a, b, c, d, e, f = m
    return (a * x + c * y + e, b * x + d * y + f)


_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _tokenize_content(d: bytes):
    """Yield ('op', name) / ('val', obj) over a content stream."""
    p, n = 0, len(d)
    while True:
        p = _skip_ws(d, p)
        if p >= n:
            return
        c = d[p]
        if c == 0x2F or c == 0x28 or c == 0x3C or c == 0x5B or \
                c == 0x2B or c == 0x2D or c == 0x2E or 0x30 <= c <= 0x39:
            try:
                val, p = _parse_value(d, p)
            except ValueError:
                p += 1
                continue
            yield ("val", val)
        else:
            start = p
            while p < n and d[p] not in _WS and d[p] not in _DELIM:
                p += 1
            if p == start:
                # unhandled delimiter (stray ')', ']', '>', '{', '}' …):
                # ALWAYS advance — an empty "operator" here would loop
                # forever and hang the task on a malformed stream
                p += 1
                continue
            op = d[start:p].decode("latin-1", errors="replace")
            if op == "BI":
                # inline image: skip to the first EI at a trailing
                # whitespace/EOF boundary (see _EI_TRAIL_RE); bare-find
                # fallback so a boundary-less terminator still ends the scan
                m = _EI_TRAIL_RE.search(d, p)
                if m is not None:
                    p = m.end()
                else:
                    e = d.find(b"EI", p)
                    p = n if e < 0 else e + 2
                continue
            yield ("op", op)


class _WordSink:
    """Accumulates glyph runs into whitespace-delimited words with boxes."""

    def __init__(self, page_h: float) -> None:
        self.page_h = page_h
        self.words: list[tuple[str, float, float, float, float]] = []
        self.any_text = False
        self._chars: list[str] = []
        self._x0 = self._x = self._y = self._size = 0.0

    def flush(self) -> None:
        if self._chars:
            text = "".join(self._chars)
            s = self._size if self._size > 0 else 1.0
            y_top = self.page_h - (self._y + 0.8 * s)
            y_bot = self.page_h - (self._y - 0.2 * s)
            self.words.append((text, self._x0, y_top, self._x, y_bot))
            self._chars = []

    def glyph(self, ch: str, x: float, y: float, x_next: float,
              size: float) -> None:
        if ch.strip() == "":
            self.any_text = self.any_text or False
            self.flush()
            return
        self.any_text = True
        if self._chars and (abs(y - self._y) > 1e-6):
            self.flush()
        if not self._chars:
            self._x0, self._y, self._size = x, y, size
        self._chars.append(ch)
        self._x = x_next


#: nested Form-XObject execution depth cap (cycle guard is separate)
_MAX_FORM_DEPTH = 8


def _run_page(doc: _Doc, content: bytes, fonts: dict[str, _Font],
              page_h: float, resources: dict | None = None,
              counters: dict[str, int] | None = None,
              base_ctm: tuple = _ID) -> _WordSink:
    sink = _WordSink(page_h)
    gs_stack: list[tuple] = []
    gs_floor = 0  # Q may not pop below this while inside a Form XObject
    #: form fonts memoized by indirect ref across Do invocations — a page
    #: tiling one form 200× must load (and lineage-count) its fonts ONCE
    form_font_cache: dict = {}
    ctm = base_ctm
    tm = tlm = _ID
    font: _Font | None = None
    size = tc = tw = ts = tl = 0.0
    tz = 100.0
    form_seen: set[int] = set()  # object ids on the current Do chain

    def show(s: bytes) -> None:
        nonlocal tm
        if font is None or not isinstance(s, (bytes, bytearray)):
            return
        codes: list[int]
        if font.two_byte:
            codes = [c << 8 | d for c, d in
                     zip(s[::2], s[1::2])] if len(s) >= 2 else []
        else:
            codes = list(s)
        for code in codes:
            ch = font.char(code)
            trm = _mat_mul(tm, ctm)
            x, y = _mat_apply(trm, 0.0, ts)
            w0 = font.advance_units(code) / 1000.0
            adv = (w0 * size + tc + (tw if (not font.two_byte and code == 32)
                                    else 0.0)) * tz / 100.0
            tm = _mat_mul((1.0, 0.0, 0.0, 1.0, adv, 0.0), tm)
            x2, _ = _mat_apply(_mat_mul(tm, ctm), 0.0, ts)
            dev_size = abs(size * trm[3]) or size
            sink.glyph(ch, x, y, x2, dev_size)

    def do_form(name: str, resources: dict | None, fonts: dict,
                depth: int) -> None:
        """Execute a /Subtype /Form XObject (text inside forms is real
        page text — pdf.js getTextContent descends into them too).  Per
        ISO 32000 §8.10.1, Do brackets the form in an implicit q..Q and
        premultiplies the form /Matrix into the CTM; the form's own
        /Resources scope its content, falling back to the caller's."""
        nonlocal ctm, font, size, tc, tw, tz, tl, ts, gs_floor
        if depth >= _MAX_FORM_DEPTH or not isinstance(resources, dict):
            return
        xobjs = doc.resolve(resources.get("XObject"))
        if not isinstance(xobjs, dict) or name not in xobjs:
            return
        obj = doc.resolve(xobjs[name])
        if not isinstance(obj, _Stream) or \
                str(doc.resolve(obj.dict.get("Subtype", ""))) != "Form":
            return
        if id(obj) in form_seen:  # self-referential form: cycle guard
            return
        form_seen.add(id(obj))
        save = (ctm, font, size, tc, tw, tz, tl, ts)
        gs_depth = len(gs_stack)  # forms must not unbalance the caller's q/Q
        old_floor = gs_floor
        gs_floor = gs_depth
        try:
            mat = doc.resolve(obj.dict.get("Matrix"))
            if isinstance(mat, list) and len(mat) == 6:
                try:
                    ctm = _mat_mul(
                        tuple(float(doc.resolve(v)) for v in mat), ctm)
                except (TypeError, ValueError):
                    pass
            sub_res = doc.resolve(obj.dict.get("Resources"))
            if not isinstance(sub_res, dict):
                sub_res = resources
            sub_fonts = fonts
            sub_font_res = doc.resolve(sub_res.get("Font")) \
                if isinstance(sub_res, dict) else None
            if isinstance(sub_font_res, dict):
                sub_fonts = dict(fonts)
                for fname, fref in sub_font_res.items():
                    key = fref if isinstance(fref, _Ref) else id(fref)
                    if key not in form_font_cache:
                        form_font_cache[key] = _load_font(
                            doc, fref, counters if counters is not None
                            else {"encoding_fallback": 0})
                    sub_fonts[fname] = form_font_cache[key]
            try:
                body = obj.decoded(doc)
            except Exception:  # noqa: BLE001 - bad form ≠ bad page
                return
            execute(body, sub_res, sub_fonts, depth + 1)
        finally:
            form_seen.discard(id(obj))
            # a form with unbalanced q leaves saved states behind; a bare
            # Q inside one must not have popped the caller's — restore the
            # stack depth exactly (excess Q is prevented by the depth
            # floor in the Q handler)
            del gs_stack[gs_depth:]
            gs_floor = old_floor
            ctm, font, size, tc, tw, tz, tl, ts = save

    def execute(content: bytes, resources: dict | None,
                fonts: dict, depth: int) -> None:
        nonlocal ctm, tm, tlm, font, size, tc, tw, tz, tl, ts
        stack: list[Any] = []
        for kind, tok in _tokenize_content(content):
            if kind == "val":
                stack.append(tok)
                continue
            op = tok
            try:
                if op == "q":
                    # ISO 32000 §8.4.2: the saved graphics state includes the
                    # text-state parameters, not just the CTM — a
                    # 'q /F2 8 Tf ... Q' must not leak the font change past Q
                    gs_stack.append((ctm, font, size, tc, tw, tz, tl, ts))
                elif op == "Q":
                    if len(gs_stack) > gs_floor:
                        ctm, font, size, tc, tw, tz, tl, ts = gs_stack.pop()
                    elif gs_floor == 0:
                        ctm = base_ctm  # underflowed Q: reset to viewport
                    # else: excess Q inside a form — never pop the caller's
                elif op == "cm" and len(stack) >= 6:
                    ctm = _mat_mul(tuple(float(v) for v in stack[-6:]), ctm)
                elif op == "BT":
                    tm = tlm = _ID
                elif op == "ET":
                    sink.flush()
                elif op == "Tf" and len(stack) >= 2:
                    font = fonts.get(str(stack[-2]))
                    size = float(stack[-1])
                elif op == "Td" and len(stack) >= 2:
                    sink.flush()
                    tlm = _mat_mul((1, 0, 0, 1,
                                    float(stack[-2]), float(stack[-1])), tlm)
                    tm = tlm
                elif op == "TD" and len(stack) >= 2:
                    sink.flush()
                    tl = -float(stack[-1])
                    tlm = _mat_mul((1, 0, 0, 1,
                                    float(stack[-2]), float(stack[-1])), tlm)
                    tm = tlm
                elif op == "Tm" and len(stack) >= 6:
                    sink.flush()
                    tm = tlm = tuple(float(v) for v in stack[-6:])
                elif op == "T*":
                    sink.flush()
                    tlm = _mat_mul((1, 0, 0, 1, 0.0, -tl), tlm)
                    tm = tlm
                elif op == "TL" and stack:
                    tl = float(stack[-1])
                elif op == "Tc" and stack:
                    tc = float(stack[-1])
                elif op == "Tw" and stack:
                    tw = float(stack[-1])
                elif op == "Tz" and stack:
                    tz = float(stack[-1]) or 100.0
                elif op == "Ts" and stack:
                    ts = float(stack[-1])
                elif op == "Tj" and stack:
                    show(stack[-1])
                elif op == "'" and stack:
                    sink.flush()
                    tlm = _mat_mul((1, 0, 0, 1, 0.0, -tl), tlm)
                    tm = tlm
                    show(stack[-1])
                elif op == '"' and len(stack) >= 3:
                    tw = float(stack[-3])
                    tc = float(stack[-2])
                    sink.flush()
                    tlm = _mat_mul((1, 0, 0, 1, 0.0, -tl), tlm)
                    tm = tlm
                    show(stack[-1])
                elif op == "TJ" and stack and isinstance(stack[-1], list):
                    for el in stack[-1]:
                        if isinstance(el, (bytes, bytearray)):
                            show(el)
                        elif isinstance(el, (int, float)):
                            adv = -float(el) / 1000.0 * size * tz / 100.0
                            tm = _mat_mul((1, 0, 0, 1, adv, 0.0), tm)
                elif op == "Do" and stack:
                    # XObject paint: Form XObjects carry real page text
                    # (pdf.js getTextContent descends); images are the
                    # OCR tier's concern (extract_page_images)
                    sink.flush()
                    do_form(str(stack[-1]), resources, fonts, depth)
            except (TypeError, ValueError, IndexError):
                pass  # malformed operands: skip the op, keep extracting
            stack.clear()

    execute(content, resources, fonts, 0)
    sink.flush()
    return sink


# --------------------------------------------------------------------------
# Entry point
# --------------------------------------------------------------------------

def effective_page_box(doc: _Doc, pd: dict,
                       counters: dict[str, int] | None = None,
                       ) -> tuple[float, float, float, float, int]:
    """The displayed page region: ``(box_x0, box_y0, width, height, rot)``
    — the CropBox intersected with the MediaBox when well-formed
    (pdf.js viewports are CropBox-relative), else the MediaBox, plus the
    normalized /Rotate.  Shared by the parser AND the preserveImages
    overlay so the display→user round trip cannot drift.  Silent
    substitutions (missing/garbage MediaBox, malformed/degenerate
    CropBox) bump lineage counters when ``counters`` is supplied."""
    media = doc.resolve(pd.get("MediaBox"))
    if not isinstance(media, list) or len(media) != 4:
        media = None
    try:
        if media is None:
            raise ValueError("missing MediaBox")
        mx0, my0, mx1, my1 = (float(doc.resolve(v)) for v in media)
    except (TypeError, ValueError):
        mx0, my0, mx1, my1 = 0.0, 0.0, 612.0, 792.0
        if counters is not None:
            counters["mediabox_fallback"] = \
                counters.get("mediabox_fallback", 0) + 1
    crop = doc.resolve(pd.get("CropBox"))
    if isinstance(crop, list) and len(crop) == 4:
        applied = False
        try:
            cx0, cy0, cx1, cy1 = (float(doc.resolve(v)) for v in crop)
            if cx1 > cx0 and cy1 > cy0:
                # intersect with media (spec: effective crop ⊆ media)
                mx0n = max(min(mx0, mx1), cx0)
                my0n = max(min(my0, my1), cy0)
                mx1n = min(max(mx0, mx1), cx1)
                my1n = min(max(my0, my1), cy1)
                if mx1n > mx0n and my1n > my0n:
                    mx0, my0, mx1, my1 = mx0n, my0n, mx1n, my1n
                    applied = True
        except (TypeError, ValueError):
            pass
        if not applied and counters is not None:
            # malformed/degenerate/disjoint CropBox silently ignored —
            # counted so corpus drift is observable (same contract as
            # mediabox_fallback)
            counters["cropbox_fallback"] = \
                counters.get("cropbox_fallback", 0) + 1
    try:
        rot = int(doc.resolve(pd.get("Rotate", 0)) or 0) % 360
    except (TypeError, ValueError):
        rot = 0
    if rot not in (90, 180, 270):
        rot = 0
    return (min(mx0, mx1), min(my0, my1),
            abs(mx1 - mx0), abs(my1 - my0), rot)


def parse_real_pdf(data: bytes) -> dict[str, Any]:
    """Real PDF → the ``decode_pdf_arrays`` page shape (+ ``flavor='real'``).

    Raises ``ValueError`` on documents whose object graph or content
    streams can't be parsed (mapped to ``status='decode_error'`` upstream).
    """
    import numpy as np

    off = _header_offset(data)
    if off > 0:
        data = data[off:]  # strip leading junk before the header
    doc = _Doc(data)
    page_dicts = _find_pages(doc)
    pages = []
    # corpus-quality lineage counters: every silent substitution the parser
    # makes is counted here so drift is observable in the metrics table
    # instead of shipping as confident status='ok' rows
    counters = {"mediabox_fallback": 0, "cropbox_fallback": 0,
                "encoding_fallback": 0}
    for i, pd in enumerate(page_dicts):
        box_x0, box_y0, width, height, rot = effective_page_box(
            doc, pd, counters)

        # /Rotate viewport: scanned pages routinely carry 90/180/270 —
        # pdf.js folds it into the viewport transform; here the rotation
        # becomes the base CTM so word boxes land in the DISPLAYED page's
        # top-origin coords (90/270 swap the page dimensions).  Derivation
        # (display dx,dy from user x,y; sink applies dy = page_h − Y):
        #   0:   dx=x,   dy=h−y  → B=I,            page h×w unchanged
        #   90:  dx=y,   dy=x    → B=(0,−1,1,0,0,w),   page w'=h, h'=w
        #   180: dx=w−x, dy=y    → B=(−1,0,0,−1,w,h)
        #   270: dx=h−y, dy=w−x  → B=(0,1,−1,0,h,0),   page w'=h, h'=w
        base_ctm = _ID
        if rot == 90:
            base_ctm = (0.0, -1.0, 1.0, 0.0, 0.0, width)
            width, height = height, width
        elif rot == 180:
            base_ctm = (-1.0, 0.0, 0.0, -1.0, width, height)
        elif rot == 270:
            base_ctm = (0.0, 1.0, -1.0, 0.0, height, 0.0)
            width, height = height, width
        if box_x0 or box_y0:
            # crop/media origin ≠ (0,0): translate user space to the box
            # origin BEFORE the rotation viewport (pdf.js order)
            base_ctm = _mat_mul((1.0, 0.0, 0.0, 1.0, -box_x0, -box_y0),
                                base_ctm)

        resources = doc.resolve(pd.get("Resources")) or {}
        font_res = doc.resolve(resources.get("Font")) if \
            isinstance(resources, dict) else None
        fonts = {}
        if isinstance(font_res, dict):
            for fname, fref in font_res.items():
                fonts[fname] = _load_font(doc, fref, counters)

        contents = doc.resolve(pd.get("Contents"))
        chunks: list[bytes] = []
        if isinstance(contents, _Stream):
            chunks.append(contents.decoded(doc))
        elif isinstance(contents, list):
            for c in contents:
                cs = doc.resolve(c)
                if isinstance(cs, _Stream):
                    chunks.append(cs.decoded(doc))
        content = b"\n".join(chunks)

        sink = _run_page(doc, content, fonts, height,
                         resources if isinstance(resources, dict) else None,
                         counters, base_ctm)
        words = sink.words
        n = len(words)
        coords = np.empty((n, 5), dtype="f8")
        texts: list[str] = []
        for j, (txt, x0, y0, x1, y1) in enumerate(words):
            coords[j, 0] = x0
            coords[j, 1] = y0
            coords[j, 2] = x1
            coords[j, 3] = y1
            coords[j, 4] = 100.0  # text layer is exact, not OCR confidence
            texts.append(txt)
        pages.append({"page_no": i + 1, "width": width, "height": height,
                      "has_text": sink.any_text, "texts": texts,
                      "coords": coords})
    return {"page_count": len(pages), "pages": pages, "flavor": "real",
            "counters": counters}


def _walk_xobjects(doc: _Doc, resources: Any,
                   _depth: int = 0, _seen: set | None = None):
    """Yield every Image/Form XObject STREAM reachable from ``resources``,
    descending into Form XObjects' own resources (depth-capped, cycle-
    guarded) — scanned-page images are often wrapped in a form, and form
    content streams carry real text the cheap probe must see."""
    if _depth >= _MAX_FORM_DEPTH or not isinstance(resources, dict):
        return
    seen = _seen if _seen is not None else set()
    xobjs = doc.resolve(resources.get("XObject"))
    if not isinstance(xobjs, dict):
        return
    for _name, ref in xobjs.items():
        try:
            obj = doc.resolve(ref)
        except ValueError:
            continue
        if not isinstance(obj, _Stream) or id(obj) in seen:
            continue
        seen.add(id(obj))
        subtype = str(doc.resolve(obj.dict.get("Subtype", "")))
        yield subtype, obj
        if subtype == "Form":
            yield from _walk_xobjects(
                doc, doc.resolve(obj.dict.get("Resources")),
                _depth + 1, seen)


def extract_page_images(data: bytes) -> list[dict[str, Any]]:
    """Per-page image XObjects of a real PDF — the rasterizer-side input for
    the scanned/image-only tier (reference ``extractor.ts:12-37`` renders
    pages to PNG via pdf.js canvas; here the page of a *scanned* PDF IS its
    embedded image, so "rasterizing" = pulling that image's decoded bytes).

    Returns one dict per page: ``{"page_no", "width", "height", "images":
    [{"data": bytes, "width": int|None, "height": int|None}]}`` in page
    order.  Pages without image XObjects get an empty list (a blank or
    vector-only page — nothing for a recognizer to read).  Raises
    ``ValueError`` on unparseable documents, same contract as
    :func:`parse_real_pdf`.
    """
    off = _header_offset(data)
    if off > 0:
        data = data[off:]
    doc = _Doc(data)
    out: list[dict[str, Any]] = []
    for i, pd in enumerate(_find_pages(doc)):
        media = doc.resolve(pd.get("MediaBox"))
        try:
            mx0, my0, mx1, my1 = (float(doc.resolve(v)) for v in media)
        except (TypeError, ValueError):
            mx0, my0, mx1, my1 = 0.0, 0.0, 612.0, 792.0
        images: list[dict[str, Any]] = []
        resources = doc.resolve(pd.get("Resources")) or {}
        # Walk only the images this page actually PAINTS (Do operands in
        # its content streams, descending into drawn forms) — never every
        # XObject merely *reachable* from Resources: pages routinely
        # inherit one shared /Resources dict from the Pages node, and the
        # reachable-set walk would attribute every sibling page's raster
        # to every page (the OCR tier would then recognize the whole
        # document's pixels once per page — duplicated text).
        contents = doc.resolve(pd.get("Contents"))
        chunks: list[bytes] = []
        if isinstance(contents, _Stream):
            chunks.append(contents.decoded(doc))
        elif isinstance(contents, list):
            for c in contents:
                cs = doc.resolve(c)
                if isinstance(cs, _Stream):
                    chunks.append(cs.decoded(doc))
        _collect_drawn_images(doc, b"\n".join(chunks), resources,
                              0, set(), images)
        out.append({"page_no": i + 1,
                    "width": abs(mx1 - mx0), "height": abs(my1 - my0),
                    "images": images})
    return out


def _parm_value(doc: "_Doc", v: Any) -> Any:
    """Resolve a DecodeParms value for the cross-boundary image dict; a
    stream value (``/JBIG2Globals``) becomes its decoded bytes (None if
    undecodable — the codec then treats it as absent)."""
    rv = doc.resolve(v)
    if isinstance(rv, _Stream):
        try:
            return rv.decoded(doc)
        except Exception:  # noqa: BLE001 - bad globals ≠ bad page
            return None
    return rv


def _collect_drawn_images(doc: "_Doc", content: bytes, resources: Any,
                          depth: int, seen: set[int],
                          images: list[dict[str, Any]]) -> None:
    """Append (in paint order) every Image XObject the ``content`` stream
    draws via ``Do``, recursing into drawn Form XObjects — the image-side
    twin of ``detect_pages_text``'s drawn-forms-only discipline.  ``seen``
    guards the current Do chain against form cycles; an image drawn twice
    on one page is yielded twice (it is painted twice)."""
    if depth >= _MAX_FORM_DEPTH or not isinstance(resources, dict):
        return
    pending: list = []
    for kind, val in _tokenize_content(content):
        if kind == "val":
            pending.append(val)
            if len(pending) > 8:
                del pending[0]
            continue
        if val == "Do" and pending:
            name = pending[-1]
            xobjs = doc.resolve(resources.get("XObject"))
            if isinstance(name, _Name) and isinstance(xobjs, dict) \
                    and str(name) in xobjs:
                try:
                    obj = doc.resolve(xobjs[str(name)])
                except ValueError:
                    obj = None
                if isinstance(obj, _Stream):
                    subtype = str(doc.resolve(obj.dict.get("Subtype", "")))
                    if subtype == "Image":
                        try:
                            blob, img_filter, img_parms = \
                                obj.decoded_image(doc)
                        except Exception:  # noqa: BLE001 - bad image ≠ bad page
                            blob, img_filter, img_parms = None, None, None
                        if blob is not None:
                            w = doc.resolve(obj.dict.get("Width"))
                            h = doc.resolve(obj.dict.get("Height"))
                            cs = doc.resolve(obj.dict.get("ColorSpace"))
                            bpc = doc.resolve(
                                obj.dict.get("BitsPerComponent"))
                            if isinstance(img_parms, dict):
                                # stream-valued parms (e.g. /JBIG2Globals)
                                # cross the boundary as their decoded bytes
                                img_parms = {
                                    str(k): _parm_value(doc, v)
                                    for k, v in img_parms.items()}
                            dec = doc.resolve(obj.dict.get("Decode"))
                            try:
                                dec = (tuple(float(doc.resolve(v))
                                             for v in dec)
                                       if isinstance(dec, list) else None)
                            except (TypeError, ValueError):
                                dec = None  # malformed ≠ bad image
                            images.append({
                                "data": blob,
                                # trailing image-codec filter (DCTDecode …)
                                # whose bytes `data` still are, or None when
                                # fully decoded to raw samples
                                "filter": img_filter,
                                # /Decode array (sample-value remap; an
                                # inverted B/W scan carries [1 0])
                                "decode": dec,
                                # its DecodeParms (CCITT needs /K /Columns
                                # /Rows /EncodedByteAlign to interpret data)
                                "decode_parms": img_parms,
                                "width": int(w)
                                if isinstance(w, (int, float)) else None,
                                "height": int(h)
                                if isinstance(h, (int, float)) else None,
                                "colorspace": str(cs)
                                if isinstance(cs, _Name) else None,
                                "bpc": int(bpc)
                                if isinstance(bpc, (int, float)) else None,
                            })
                    elif subtype == "Form" and id(obj) not in seen:
                        seen.add(id(obj))
                        sub_res = doc.resolve(obj.dict.get("Resources"))
                        if not isinstance(sub_res, dict):
                            sub_res = resources
                        try:
                            body = obj.decoded(doc)
                        except Exception:  # noqa: BLE001 - bad form
                            body = b""
                        if body:
                            _collect_drawn_images(doc, body, sub_res,
                                                  depth + 1, seen, images)
                        seen.discard(id(obj))
        pending.clear()


def detect_pages_text(data: bytes) -> list[bool]:
    """Cheap has-text detector: per-page boolean WITHOUT font loading,
    ToUnicode/encoding resolution, or word-box building — the probe of
    the OCR gate (``operators/ocr.py``), ~3-5× cheaper than
    :func:`parse_real_pdf` on font-heavy documents.

    A page "has text" when any show operator (Tj/TJ/'/\") draws a string
    whose raw bytes are non-blank (latin-1 view).  This matches the full
    parser's reference detector on everything the deterministic writers
    emit and on ordinary simple-font PDFs; exotic encodings whose
    non-blank bytes decode to all-whitespace would probe as has-text and
    merely route to the expensive branch — which extracts via the full
    parser and still handles them correctly (probe false-positives cost
    routing, never correctness).  Raises ``ValueError`` like
    :func:`parse_real_pdf` on unparseable documents.
    """
    off = _header_offset(data)
    if off > 0:
        data = data[off:]
    doc = _Doc(data)

    def scan(content: bytes, resources: Any, depth: int,
             seen: set[int]) -> bool:
        """True on the first non-blank show string, descending ONLY into
        forms this stream actually draws via Do.  Counting every form
        merely *reachable* from (often inherited, shared) resources would
        flip needs_ocr False for a scanned page whose sibling uses the
        form — the one direction the router cannot tolerate (text loss,
        not just routing cost)."""
        pending: list = []
        for kind, val in _tokenize_content(content):
            if kind == "val":
                pending.append(val)
                if len(pending) > 8:
                    del pending[0]
                continue
            if val in ("Tj", "'", '"'):
                s = pending[-1] if pending else None
                if isinstance(s, bytes) and s.decode(
                        "latin-1", "replace").strip():
                    return True
            elif val == "TJ":
                arr = pending[-1] if pending else None
                if isinstance(arr, list) and any(
                        isinstance(x, bytes) and x.decode(
                            "latin-1", "replace").strip()
                        for x in arr):
                    return True
            elif val == "Do" and pending and depth < _MAX_FORM_DEPTH \
                    and isinstance(resources, dict):
                name = pending[-1]
                xobjs = doc.resolve(resources.get("XObject"))
                if isinstance(name, _Name) and isinstance(xobjs, dict) \
                        and str(name) in xobjs:
                    try:
                        obj = doc.resolve(xobjs[str(name)])
                    except ValueError:
                        obj = None
                    if isinstance(obj, _Stream) and id(obj) not in seen \
                            and str(doc.resolve(
                                obj.dict.get("Subtype", ""))) == "Form":
                        seen.add(id(obj))
                        sub_res = doc.resolve(obj.dict.get("Resources"))
                        if not isinstance(sub_res, dict):
                            sub_res = resources
                        try:
                            body = obj.decoded(doc)
                        except Exception:  # noqa: BLE001 - bad form
                            body = b""
                        if body and scan(body, sub_res, depth + 1, seen):
                            return True
                        seen.discard(id(obj))
            pending.clear()
        return False

    out: list[bool] = []
    for pd in _find_pages(doc):
        contents = doc.resolve(pd.get("Contents"))
        chunks: list[bytes] = []
        if isinstance(contents, _Stream):
            chunks.append(contents.decoded(doc))
        elif isinstance(contents, list):
            for c in contents:
                cs = doc.resolve(c)
                if isinstance(cs, _Stream):
                    chunks.append(cs.decoded(doc))
        out.append(scan(b"\n".join(chunks),
                        doc.resolve(pd.get("Resources")), 0, set()))
    return out
