"""Real-PDF file reader: parse an actual PDF file into DOC_SCHEMA rows.

The reference converts real PDFs via PDFBox (PDFToHTML.java:41-98); until
now every corpus this engine ran was synthetic (corpus.py stream
generators). This module is the ingest bridge that lets the SAME extraction
kernel run over the reference's own test fixtures
(/root/reference/src/test/resources/*.pdf), so the reference-test
properties — rendering-mode colors (TestPDFDomTree.java:28-74), page-range
gating (:76-86), rotation quadrants (TestPageRotation.java:15-97) — can be
asserted against our output from the very files the reference asserts them
on (tests/test_realpdf.py).

Stdlib only (zlib + re). Covers the constructs the fixtures use:

- classic xref tables (incl. /Prev chains and hybrid /XRefStm),
- cross-reference STREAMS (/Type/XRef, /W field widths, /Index, PNG
  predictors 10-15 on FlateDecode),
- object streams (/Type/ObjStm: the compressed-object containers every
  PDF-1.5+ fixture stores its objects in),
- FlateDecode for content; DCTDecode/raw image payloads kept as opaque
  bytes (hashed into a stable ``media_ref`` — the kernel never decodes
  real image codecs, matching multimodal.py's opaque-binary design),
- page tree walk with attribute inheritance (Resources, MediaBox, Rotate),
- simple-font /Encoding /Differences and /ToUnicode CMaps -> kind='cmap'
  spans (the kernel's font-encoding hook, interp.doc_cmaps),
- image XObjects -> kind='image' spans spliced at their ``Do`` site (the
  kernel's DoMedia contract, interp.doc_tokens),
- form XObjects -> kind='form' spans with /Matrix modeled as a leading
  ``cm`` (doc_tokens expands ``/Name Do`` inline q/Q-wrapped).

Type0/Identity-H fonts emit a ``bytes:2``-flagged cmap span: the kernel
pairs show-string bytes into 2-byte codes before mapping
(interp.doc_cid2_fonts). Real /Widths and CID /W advance tables plus
FontDescriptor vertical metrics ride ``kind='widths'`` spans; embedded
font programs ride ``kind='fontfile'`` spans. Images referenced inside
form XObjects are rewritten to the interpreter's inline ``DoMedia``
pseudo-op; inline BI/ID/EI images splice like XObject images. Fonts and
images cascade from the invoking context into forms (optional
/Resources); per-context form names that collide on different content
are aliased.
"""

from __future__ import annotations

import hashlib
import re
import zlib

# ---------------------------------------------------------------------------
# object model
# ---------------------------------------------------------------------------


class Name(str):
    """PDF name object (distinct from string literals)."""


class Ref(tuple):
    """Indirect reference (num, gen)."""


class Stream:
    def __init__(self, d: dict, raw: bytes, pdf: "PdfFile",
                 num: int = 0, gen: int = 0):
        self.dict = d
        self.raw = raw
        self.num = num
        self.gen = gen
        self._pdf = pdf
        self._data: bytes | None = None

    @property
    def raw_plain(self) -> bytes:
        """Stored bytes AFTER decryption, BEFORE filters — the stable
        identity of an opaque payload (image media_refs hash this, so
        the ref is invariant to whether the file was encrypted)."""
        crypt = getattr(self._pdf, "_crypt", None)
        if crypt is not None and self.num not in self._pdf._no_decrypt:
            cfm = self._crypt_filter_cfm(crypt)
            if cfm == "Identity":
                return self.raw
            # decrypt BEFORE filters (PDF 32000-1 7.6.2); the xref
            # stream is read before crypt init and never re-read, so
            # it stays plaintext as the spec requires
            return crypt.decrypt_stream(self.raw, self.num, self.gen,
                                        cfm=cfm)
        return self.raw

    @property
    def data(self) -> bytes:
        if self._data is None:
            self._data = _decode_stream(self.dict, self.raw_plain,
                                        self._pdf)
        return self._data

    def _crypt_filter_cfm(self, crypt) -> str | None:
        """CFM override from a per-stream /Crypt filter (PDF 32000-1
        7.4.10). /Name /Identity (or absent) opts the stream OUT of
        encryption — metadata streams use this under encrypt-all
        defaults. A /Name referencing a declared CF entry decrypts with
        THAT entry's CFM instead of the default StmF method (PDFBox
        SecurityHandler honors the named filter). None = no /Crypt
        filter, use the default method."""
        pdf = self._pdf
        filters = pdf.resolve(self.dict.get("Filter"))
        parms = pdf.resolve(self.dict.get("DecodeParms", self.dict.get("DP")))
        if not isinstance(filters, list):
            filters, parms = [filters], [parms]
        elif not isinstance(parms, list):
            parms = [parms] * len(filters)
        for f, p in zip(filters, parms):
            if str(f) == "Crypt":
                p = pdf.resolve(p)
                name = (str(pdf.resolve(p.get("Name")) or "Identity")
                        if isinstance(p, dict) else "Identity")
                if name == "Identity":
                    return "Identity"
                named = getattr(crypt, "named_cfm", lambda _n: None)(name)
                # undeclared name: spec says Identity
                return named or "Identity"
        return None


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_NUM_RE = re.compile(rb"[-+]?(?:\d+\.\d*|\.\d+|\d+)")
_NAME_ESC_RE = re.compile(rb"#([0-9A-Fa-f]{2})")


_NAME_BODY_RE = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")


def _skip_ws(b: bytes, i: int) -> int:
    # byte loop, NOT a regex: the dominant call skips 0-2 bytes, where
    # the `in` checks beat re.match's fixed overhead 2x (measured)
    n = len(b)
    while i < n:
        c = b[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # % comment
            while i < n and b[i] not in (0x0A, 0x0D):
                i += 1
        else:
            break
    return i


def _parse_name(b: bytes, i: int) -> tuple[Name, int]:
    m = _NAME_BODY_RE.match(b, i + 1)
    raw = m.group(0)
    if b"#" in raw:
        raw = _NAME_ESC_RE.sub(
            lambda mm: bytes([int(mm.group(1), 16)]), raw)
    return Name(raw.decode("latin-1")), m.end()


def _parse_literal(b: bytes, i: int) -> tuple[bytes, int]:
    out = bytearray()
    depth = 1
    j = i + 1
    n = len(b)
    esc = {0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08, 0x66: 0x0C,
           0x28: 0x28, 0x29: 0x29, 0x5C: 0x5C}
    while j < n and depth:
        c = b[j]
        if c == 0x5C and j + 1 < n:
            nx = b[j + 1]
            if nx in esc:
                out.append(esc[nx])
                j += 2
            elif 0x30 <= nx <= 0x37:
                k = j + 1
                while k < n and k < j + 4 and 0x30 <= b[k] <= 0x37:
                    k += 1
                out.append(int(b[j + 1:k], 8) & 0xFF)
                j = k
            elif nx in (0x0A, 0x0D):  # line continuation
                j += 2
                if nx == 0x0D and j < n and b[j] == 0x0A:
                    j += 1
            else:
                out.append(nx)
                j += 2
        elif c == 0x28:
            depth += 1
            out.append(c)
            j += 1
        elif c == 0x29:
            depth -= 1
            if depth:
                out.append(c)
            j += 1
        else:
            out.append(c)
            j += 1
    return bytes(out), j


def _parse_hex(b: bytes, i: int) -> tuple[bytes, int]:
    e = b.find(b">", i)
    if e == -1:
        e = len(b)
    body = re.sub(rb"[^0-9A-Fa-f]", b"", b[i + 1:e])
    if len(body) % 2:
        body += b"0"
    return bytes.fromhex(body.decode("ascii")), e + 1


def parse_obj(b: bytes, i: int) -> tuple[object, int]:
    """Parse one PDF object starting at (whitespace before) index ``i``."""
    i = _skip_ws(b, i)
    c = b[i:i + 1]
    if b.startswith(b"<<", i):
        d: dict = {}
        i += 2
        while True:
            i = _skip_ws(b, i)
            if b.startswith(b">>", i):
                return d, i + 2
            key, i = _parse_name(b, i)
            val, i = parse_obj(b, i)
            d[str(key)] = val
    if c == b"[":
        arr: list = []
        i += 1
        while True:
            i = _skip_ws(b, i)
            if b[i:i + 1] == b"]":
                return arr, i + 1
            val, i = parse_obj(b, i)
            arr.append(val)
    if c == b"/":
        return _parse_name(b, i)
    if c == b"(":
        return _parse_literal(b, i)
    if c == b"<":
        return _parse_hex(b, i)
    if b.startswith(b"true", i):
        return True, i + 4
    if b.startswith(b"false", i):
        return False, i + 5
    if b.startswith(b"null", i):
        return None, i + 4
    m = _NUM_RE.match(b, i)
    if m:
        tok = m.group(0)
        j = m.end()
        # "num gen R" lookahead -> indirect reference
        if b"." not in tok:
            k = _skip_ws(b, j)
            m2 = _NUM_RE.match(b, k)
            if m2 and b"." not in m2.group(0):
                k2 = _skip_ws(b, m2.end())
                if b[k2:k2 + 1] == b"R" and (
                        k2 + 1 >= len(b)
                        or b[k2 + 1] in _WS or b[k2 + 1] in _DELIM):
                    return Ref((int(tok), int(m2.group(0)))), k2 + 1
            return int(tok), j
        return float(tok), j
    raise ValueError(f"cannot parse object at byte {i}: {b[i:i+20]!r}")


# ---------------------------------------------------------------------------
# filters
# ---------------------------------------------------------------------------


def _png_unpredict(data: bytes, columns: int, colors: int, bpc: int) -> bytes:
    """Reverse PNG row predictors (PDF 32000-1 7.4.4.4)."""
    stride = (columns * colors * bpc + 7) // 8
    bpp = max(1, (colors * bpc + 7) // 8)
    out = bytearray()
    prev = bytearray(stride)
    i = 0
    while i + 1 + stride <= len(data) + stride and i < len(data):
        ft = data[i]
        row = bytearray(data[i + 1:i + 1 + stride])
        i += 1 + stride
        if ft == 1:  # Sub
            for x in range(bpp, len(row)):
                row[x] = (row[x] + row[x - bpp]) & 0xFF
        elif ft == 2:  # Up
            for x in range(len(row)):
                row[x] = (row[x] + prev[x]) & 0xFF
        elif ft == 3:  # Average
            for x in range(len(row)):
                left = row[x - bpp] if x >= bpp else 0
                row[x] = (row[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for x in range(len(row)):
                a = row[x - bpp] if x >= bpp else 0
                bb = prev[x]
                cc = prev[x - bpp] if x >= bpp else 0
                p = a + bb - cc
                pa, pb, pc = abs(p - a), abs(p - bb), abs(p - cc)
                pr = a if (pa <= pb and pa <= pc) else (bb if pb <= pc else cc)
                row[x] = (row[x] + pr) & 0xFF
        out += row
        prev = row
    return bytes(out)


_OPAQUE_FILTERS = {"DCTDecode", "JPXDecode", "CCITTFaxDecode", "JBIG2Decode"}


def _lzw_decode(data: bytes) -> bytes:
    """PDF LZWDecode (PDF 32000-1 7.4.4.2): 9..12-bit codes, clear=256,
    EOD=257, code width grows one step EARLY (EarlyChange=1 default)."""
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
            nbits -= width
            code = (buf >> nbits) & ((1 << width) - 1)
            if code == 256:  # clear table
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:  # KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            # EarlyChange: widen one code BEFORE the table is full
            if len(table) + 1 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _a85_decode(data: bytes) -> bytes:
    import base64

    body = re.sub(rb"\s", b"", data)
    if body.startswith(b"<~"):
        body = body[2:]
    if body.endswith(b"~>"):
        body = body[:-2]
    return base64.a85decode(body, adobe=False)


def _rle_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i]
        if n == 128:  # EOD
            break
        if n < 128:
            out += data[i + 1:i + 2 + n]
            i += 2 + n
        else:
            out += data[i + 1:i + 2] * (257 - n)
            i += 2
    return bytes(out)


def _decode_stream(d: dict, raw: bytes, pdf: "PdfFile") -> bytes:
    filters = pdf.resolve(d.get("Filter"))
    parms = pdf.resolve(d.get("DecodeParms", d.get("DP")))
    if filters is None:
        return raw
    if not isinstance(filters, list):
        filters = [filters]
        # /DecodeParms may legally be a one-element ARRAY even when
        # /Filter is scalar — unwrap rather than double-nest
        if isinstance(parms, list):
            parms = parms[:1] or [None]
        else:
            parms = [parms]
    elif not isinstance(parms, list):
        parms = [parms] * len(filters)
    data = raw
    for f, p in zip(filters, parms):
        f = str(f)
        if f in ("FlateDecode", "Fl", "LZWDecode", "LZW"):
            data = (zlib.decompress(data) if f in ("FlateDecode", "Fl")
                    else _lzw_decode(data))
            p = pdf.resolve(p)
            p = p if isinstance(p, dict) else {}
            pred = int(pdf.resolve(p.get("Predictor", 1)) or 1)
            if pred >= 10:
                data = _png_unpredict(
                    data, int(pdf.resolve(p.get("Columns", 1)) or 1),
                    int(pdf.resolve(p.get("Colors", 1)) or 1),
                    int(pdf.resolve(p.get("BitsPerComponent", 8)) or 8))
        elif f in ("ASCIIHexDecode", "AHx"):
            body = re.sub(rb"[^0-9A-Fa-f]", b"", data.split(b">")[0])
            if len(body) % 2:
                body += b"0"
            data = bytes.fromhex(body.decode("ascii"))
        elif f in ("ASCII85Decode", "A85"):
            data = _a85_decode(data)
        elif f in ("RunLengthDecode", "RL"):
            data = _rle_decode(data)
        elif f == "Crypt":
            # decryption already happened at Stream.data (or was skipped
            # for an /Identity crypt filter) — pass through to the next
            # filter in the chain
            continue
        elif f in _OPAQUE_FILTERS:
            return data  # image codec payload stays opaque
        else:  # unknown filter: keep raw (caller treats as opaque)
            return data
    return data


# ---------------------------------------------------------------------------
# file reader: xref chain, object store
# ---------------------------------------------------------------------------


class EncryptedPdfError(ValueError):
    """The file declares /Encrypt and cannot be opened without a
    password (or uses a non-standard security handler). Empty-password
    files — the kind the reference opens transparently via PDFBox's
    standard security handler — decrypt silently and never raise."""


class PdfFile:
    """Random-access PDF object store over one file's bytes."""

    def __init__(self, data: bytes, password: bytes = b""):
        self.data = data
        self._password = password
        # obj num -> ("n", byte_offset) | ("s", container_objnum, index)
        self.xref: dict[int, tuple] = {}
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, list] = {}
        self._crypt = None
        self._no_decrypt: set[int] = set()
        try:
            self._load_xref()
        except Exception:
            self.xref.clear()
            self.trailer.clear()
        if "Root" not in self.trailer or not self.xref:
            # damaged/truncated xref: rebuild by scanning for object
            # headers (the classic repair path every real-corpus ingester
            # needs — PDFBox does the same on xref failure)
            self._repair_scan()
        if "Encrypt" in self.trailer:
            self._init_crypt()

    def _init_crypt(self) -> None:
        """Standard security handler with the EMPTY password — the same
        no-password open PDFBox performs for the reference. Files that
        truly need a password raise EncryptedPdfError."""
        from .pdfcrypt import (PasswordRequiredError, StdSecurityHandler,
                               UnsupportedEncryptionError)

        enc_ref = self.trailer.get("Encrypt")
        if isinstance(enc_ref, Ref):
            # the /Encrypt dictionary's own strings (O, U, ...) are never
            # encrypted — exclude its object from string decryption
            self._no_decrypt.add(enc_ref[0])
        enc = self.resolve(enc_ref)
        if not isinstance(enc, dict):
            raise EncryptedPdfError("malformed /Encrypt dictionary")
        id0 = b""
        ids = self.resolve(self.trailer.get("ID"))
        if isinstance(ids, list) and ids:
            v = self.resolve(ids[0])
            if isinstance(v, bytes):
                id0 = v
        try:
            self._crypt = StdSecurityHandler(enc, id0, resolve=self.resolve,
                                             password=self._password)
        except (PasswordRequiredError, UnsupportedEncryptionError) as exc:
            raise EncryptedPdfError(str(exc)) from exc
        # objects parsed during setup cached ciphered strings / stream
        # payloads — reparse everything under the live handler
        self._cache.clear()
        self._objstm_cache.clear()

    def _decrypt_strings(self, v, num: int, gen: int):
        if isinstance(v, bytes):
            return self._crypt.decrypt_string(v, num, gen)
        if isinstance(v, dict):
            return {k: self._decrypt_strings(x, num, gen)
                    for k, x in v.items()}
        if isinstance(v, list):  # Ref is a tuple subclass: passes through
            return [self._decrypt_strings(x, num, gen) for x in v]
        return v

    def _repair_scan(self) -> None:
        b = self.data
        for m in re.finditer(rb"(?m)^[^\S\n\r]*(\d+)\s+(\d+)\s+obj\b", b):
            # later occurrence wins: incremental updates append newer
            # generations at higher offsets
            self.xref[int(m.group(1))] = ("n", m.start(1))
        self._cache.clear()
        if "Root" not in self.trailer:
            for m in re.finditer(rb"trailer", b):
                try:
                    t, _ = parse_obj(b, m.end())
                except Exception:
                    continue
                if isinstance(t, dict):
                    for k, v in t.items():
                        self.trailer.setdefault(k, v)
        if "Root" not in self.trailer:
            # last resort: find the catalog object itself
            for num in self.xref:
                try:
                    obj = self.get(num)
                except Exception:
                    continue
                if isinstance(obj, dict) and str(obj.get("Type")) == "Catalog":
                    self.trailer["Root"] = Ref((num, 0))
                    break

    # -- xref ---------------------------------------------------------------

    def _load_xref(self) -> None:
        tail = self.data[-2048:]
        m = list(re.finditer(rb"startxref\s+(\d+)", tail))
        if not m:
            raise ValueError("no startxref")
        offset = int(m[-1].group(1))
        seen: set[int] = set()
        while offset and offset not in seen:
            seen.add(offset)
            offset = self._load_xref_section(offset)

    def _put(self, num: int, entry: tuple) -> None:
        # first writer wins: sections are visited newest-first, and a newer
        # section's entry supersedes any /Prev section's
        if num not in self.xref:
            self.xref[num] = entry

    def _load_xref_section(self, offset: int) -> int:
        b = self.data
        i = _skip_ws(b, offset)
        if b.startswith(b"xref", i):
            i += 4
            while True:
                i = _skip_ws(b, i)
                if b.startswith(b"trailer", i):
                    trailer, _ = parse_obj(b, i + 7)
                    break
                m = re.match(rb"(\d+)\s+(\d+)", b[i:i + 40])
                if not m:
                    trailer = {}
                    break
                start, count = int(m.group(1)), int(m.group(2))
                i = _skip_ws(b, i + m.end())
                # cap at the bytes actually present: a corrupt count like
                # 4294967295 must not spin billions of empty iterations
                count = min(count, max(0, (len(b) - i) // 20))
                for k in range(count):
                    ent = b[i:i + 20]
                    if ent[17:18] == b"n" or ent.rstrip()[-1:] == b"n":
                        self._put(start + k, ("n", int(ent[:10])))
                    else:
                        # FREE entry: the newest section's deletion must
                        # shadow any older 'n' row in a /Prev section
                        self._put(start + k, ("z",))
                    i += 20
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)
            # hybrid-reference file: the XRefStm stream carries the entries
            # for compressed objects
            if "XRefStm" in trailer:
                self._load_xref_section(int(trailer["XRefStm"]))
            return int(trailer.get("Prev", 0) or 0)
        # cross-reference stream: "N G obj <<...>> stream"
        stream = self._parse_indirect_at(i)
        d = stream.dict
        for k, v in d.items():
            self.trailer.setdefault(k, v)
        w = [int(self.resolve(x)) for x in self.resolve(d["W"])]
        size = int(self.resolve(d.get("Size", 0)))
        index = self.resolve(d.get("Index", [0, size]))
        data = stream.data
        rw = sum(w)
        pos = 0
        pairs = [(int(index[j]), int(index[j + 1]))
                 for j in range(0, len(index), 2)]
        for start, count in pairs:
            for k in range(count):
                if pos + rw > len(data):
                    break
                fields = []
                for width in w:
                    fields.append(int.from_bytes(data[pos:pos + width], "big")
                                  if width else None)
                    pos += width
                typ = fields[0] if w[0] else 1
                if typ == 1:
                    self._put(start + k, ("n", fields[1]))
                elif typ == 2:
                    self._put(start + k, ("s", fields[1], fields[2] or 0))
                else:  # type 0 = free: shadow older sections' entries
                    self._put(start + k, ("z",))
        return int(self.resolve(d.get("Prev", 0)) or 0)

    # -- objects ------------------------------------------------------------

    def _parse_indirect_at(self, offset: int):
        b = self.data
        m = re.match(rb"\s*(\d+)\s+(\d+)\s+obj", b[offset:offset + 40])
        if not m:
            raise ValueError(f"no obj header at {offset}")
        num, gen = int(m.group(1)), int(m.group(2))
        val, i = parse_obj(b, offset + m.end())
        if self._crypt is not None and num not in self._no_decrypt:
            # strings in a directly-stored indirect object are encrypted
            # with its object key (strings inside object streams are NOT
            # — the container stream already was)
            val = self._decrypt_strings(val, num, gen)
        i = _skip_ws(b, i)
        if b.startswith(b"stream", i):
            i += 6
            if b[i:i + 2] == b"\r\n":
                i += 2
            elif b[i:i + 1] == b"\n":
                i += 1
            length = self.resolve(val.get("Length")) if isinstance(val, dict) else None
            if isinstance(length, (int, float)):
                end = i + int(length)
                if b.find(b"endstream", end, end + 40) == -1:
                    end = b.find(b"endstream", i)  # wrong /Length: rescan
            else:
                end = b.find(b"endstream", i)
            raw = b[i:end]
            # strip the EOL that precedes endstream when Length was absent
            if not isinstance(length, (int, float)):
                raw = raw.rstrip(b"\r\n")
            return Stream(val, raw, self, num, gen)
        return val

    def get(self, num: int):
        if num in self._cache:
            return self._cache[num]
        ent = self.xref.get(num)
        if ent is None or ent[0] == "z":  # absent or freed -> null
            obj = None
        elif ent[0] == "n":
            obj = self._parse_indirect_at(ent[1])
        else:
            obj = self._from_objstm(ent[1], ent[2], num)
        self._cache[num] = obj
        return obj

    def _from_objstm(self, container: int, idx: int, want: int):
        if container not in self._objstm_cache:
            stm = self.get(container)
            data = stm.data
            n = int(self.resolve(stm.dict["N"]))
            first = int(self.resolve(stm.dict["First"]))
            header = data[:first].split()
            pairs = [(int(header[2 * j]), int(header[2 * j + 1]))
                     for j in range(n)]
            objs = []
            for objnum, off in pairs:
                val, _ = parse_obj(data, first + off)
                objs.append((objnum, val))
            self._objstm_cache[container] = objs
        objs = self._objstm_cache[container]
        if idx < len(objs) and objs[idx][0] == want:
            return objs[idx][1]
        for objnum, val in objs:  # robustness: index mismatch
            if objnum == want:
                return val
        return None

    def resolve(self, v):
        seen: set[tuple] | None = None
        while isinstance(v, Ref):
            if seen is None:
                seen = set()
            if tuple(v) in seen:  # circular indirect reference -> null
                return None
            seen.add(tuple(v))
            v = self.get(v[0])
        return v

    # -- page tree ----------------------------------------------------------

    _INHERIT = ("Resources", "MediaBox", "CropBox", "Rotate")

    def pages(self) -> list[dict]:
        root = self.resolve(self.trailer["Root"])
        out: list[dict] = []
        visited: set = set()

        def walk(node_ref, inherited: dict, depth: int) -> None:
            # cycle + depth guards: a corrupt Kids ref back to an ancestor
            # (or a pathologically deep tree) degrades gracefully instead
            # of RecursionError
            if isinstance(node_ref, Ref):
                if tuple(node_ref) in visited:
                    return
                visited.add(tuple(node_ref))
            if depth > 256:
                return
            node = self.resolve(node_ref)
            if node is None:
                return
            inh = dict(inherited)
            for k in self._INHERIT:
                if k in node:
                    inh[k] = node[k]
            if str(node.get("Type")) == "Pages" or "Kids" in node:
                for kid in self.resolve(node.get("Kids", [])) or []:
                    walk(kid, inh, depth + 1)
            else:
                page = dict(node)
                for k, v in inh.items():
                    page.setdefault(k, v)
                out.append(page)

        walk(root.get("Pages"), {}, 0)
        return out


# ---------------------------------------------------------------------------
# fonts: family naming + code->unicode maps
# ---------------------------------------------------------------------------

_SUBSET_RE = re.compile(r"^[A-Z]{6}\+")
# compact Adobe-glyph-list subset: enough for the fixtures' /Differences;
# single-letter glyph names map to themselves below
_GLYPHS = {
    "space": 0x20, "exclam": 0x21, "quotedbl": 0x22, "numbersign": 0x23,
    "dollar": 0x24, "percent": 0x25, "ampersand": 0x26, "quotesingle": 0x27,
    "parenleft": 0x28, "parenright": 0x29, "asterisk": 0x2A, "plus": 0x2B,
    "comma": 0x2C, "hyphen": 0x2D, "period": 0x2E, "slash": 0x2F,
    "zero": 0x30, "one": 0x31, "two": 0x32, "three": 0x33, "four": 0x34,
    "five": 0x35, "six": 0x36, "seven": 0x37, "eight": 0x38, "nine": 0x39,
    "colon": 0x3A, "semicolon": 0x3B, "less": 0x3C, "equal": 0x3D,
    "greater": 0x3E, "question": 0x3F, "at": 0x40, "bracketleft": 0x5B,
    "backslash": 0x5C, "bracketright": 0x5D, "asciicircum": 0x5E,
    "underscore": 0x5F, "grave": 0x60, "braceleft": 0x7B, "bar": 0x7C,
    "braceright": 0x7D, "asciitilde": 0x7E, "bullet": 0x2022,
    "quoteright": 0x2019, "quoteleft": 0x2018, "quotedblleft": 0x201C,
    "quotedblright": 0x201D, "endash": 0x2013, "emdash": 0x2014,
}


def _glyph_to_cp(name: str) -> int | None:
    if len(name) == 1:
        return ord(name)
    if name in _GLYPHS:
        return _GLYPHS[name]
    if name.startswith("uni") and len(name) >= 7:
        try:
            return int(name[3:7], 16)
        except ValueError:
            return None
    return None


def font_family(pdf: PdfFile, font: dict, fallback: str) -> str:
    base = pdf.resolve(font.get("BaseFont"))
    fam = str(base) if base else fallback
    fam = _SUBSET_RE.sub("", fam)
    # must survive as ONE /Name token in a content stream
    return re.sub(r"[\s/()<>\[\]{}%]", "", fam) or fallback


_BFCHAR_RE = re.compile(
    rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_BFRANGE_RE = re.compile(
    rb"beginbfrange(.*?)endbfrange", re.DOTALL)
_HEXPAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_HEXTRIPLE_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(<[0-9A-Fa-f]+>|\[[^\]]*\])")


def _utf16_str(hexs: bytes) -> str | None:
    """Full decoded string of a UTF-16BE ToUnicode destination — decoded
    properly so surrogate pairs (non-BMP math/symbol chars) yield real
    codepoints, never a lone surrogate that poisons later utf-8 encodes
    (Arrow serialization, HTML output). Multi-char destinations (ligature
    entries like <0066 0069> -> "fi") come back whole: PDFBox's showText
    produces the full string in one TextPosition."""
    try:
        raw = bytes.fromhex(hexs.decode("ascii"))
    except ValueError:
        return None
    if len(raw) == 1:
        return chr(raw[0])
    if len(raw) % 2:
        raw = raw[:-1]
    try:
        s = raw.decode("utf-16-be")
    except UnicodeDecodeError:
        return None
    return s or None


def tounicode_map(cmap_bytes: bytes,
                  two_byte: bool = False) -> dict[int, str]:
    """ToUnicode CMap -> {code: decoded string} (usually one char;
    ligature entries carry the full multi-char expansion).
    ``two_byte``: accept the full 2-byte source code space (Type0
    fonts); otherwise only single-byte codes."""
    def src_ok(src: bytes) -> bool:
        if two_byte:
            return len(src) <= 4
        return len(src) <= 2 or (len(src) == 4 and src[:2] == b"00")

    out: dict[int, str] = {}
    for m in _BFCHAR_RE.finditer(cmap_bytes):
        for src, dst in _HEXPAIR_RE.findall(m.group(1)):
            if src_ok(src):
                dec = _utf16_str(dst)
                if dec:
                    out[int(src, 16)] = dec
    for m in _BFRANGE_RE.finditer(cmap_bytes):
        for lo, hi, dst in _HEXTRIPLE_RE.findall(m.group(1)):
            if not src_ok(lo):
                continue
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            if hi_i - lo_i > 255:
                continue
            if dst.startswith(b"<"):
                base = _utf16_str(dst[1:-1])
                if base:
                    # PDF 32000-1 9.10.3: only the LAST code unit of the
                    # destination increments across the range
                    base_cp = ord(base[-1])
                    for c in range(lo_i, hi_i + 1):
                        cp = base_cp + (c - lo_i)
                        if cp > 0x10FFFF:
                            break  # adversarial range past Unicode — stop
                        if 0xD800 <= cp <= 0xDFFF:
                            continue  # would fabricate a lone surrogate
                        out[c] = base[:-1] + chr(cp)
            else:  # [<d1> <d2> ...]
                dsts = re.findall(rb"<([0-9A-Fa-f]+)>", dst)
                for c, dh in zip(range(lo_i, hi_i + 1), dsts):
                    dec = _utf16_str(dh)
                    if dec:
                        out[c] = dec
    return out


def font_widths(pdf: PdfFile,
                font: dict) -> tuple[float, dict[int, float]] | None:
    """Real advance widths for one font -> (default_milli, {code: milli}).

    Simple fonts: /FirstChar + /Widths (+ descriptor /MissingWidth as the
    default). Type0: descendant /DW (default 1000) + /W array in both
    forms (``c [w1 w2 ...]`` and ``cFirst cLast w``), keyed by raw CID.
    None when the font declares no widths (non-embedded base-14 — PDFBox
    falls back to AFM metrics there; we keep the family heuristics)."""
    subtype = str(pdf.resolve(font.get("Subtype")) or "")
    if subtype == "Type0":
        dfs = pdf.resolve(font.get("DescendantFonts")) or []
        d = pdf.resolve(dfs[0]) if dfs else None
        if not isinstance(d, dict):
            return None
        dw = float(pdf.resolve(d.get("DW", 1000)) or 1000)
        wmap: dict[int, float] = {}
        w = pdf.resolve(d.get("W"))
        i = 0
        w = w if isinstance(w, list) else []
        while i < len(w):
            a = pdf.resolve(w[i])
            nxt = pdf.resolve(w[i + 1]) if i + 1 < len(w) else None
            if isinstance(nxt, list):
                for j, wv in enumerate(nxt):
                    c = int(a) + j
                    if c < 65536:
                        wmap[c] = float(pdf.resolve(wv))
                i += 2
            elif i + 2 < len(w):
                wv = float(pdf.resolve(w[i + 2]))
                lo, hi = int(a), min(int(nxt), int(a) + 65535)
                for c in range(lo, hi + 1):
                    wmap[c] = wv
                i += 3
            else:
                break
        return dw, {c: v for c, v in wmap.items() if v != dw}
    widths = pdf.resolve(font.get("Widths"))
    if not isinstance(widths, list) or not widths:
        return None
    fc = int(pdf.resolve(font.get("FirstChar", 0)) or 0)
    desc = pdf.resolve(font.get("FontDescriptor"))
    mw = 0.0
    if isinstance(desc, dict):
        mw = float(pdf.resolve(desc.get("MissingWidth", 0)) or 0)
    wmap = {fc + i: float(pdf.resolve(v) or 0)
            for i, v in enumerate(widths)}
    return mw, {c: v for c, v in wmap.items() if v != mw}


def _font_vmetrics(pdf: PdfFile, font: dict) -> str:
    """FontDescriptor /CapHeight /Ascent /Descent (direct or first
    descendant) as the named tokens the kernel's doc_vmetrics reads;
    empty string when the descriptor declares none."""
    cands = [font] + [pdf.resolve(d) for d in
                      (pdf.resolve(font.get("DescendantFonts")) or [])]
    for f in cands:
        if not isinstance(f, dict):
            continue
        desc = pdf.resolve(f.get("FontDescriptor"))
        if not isinstance(desc, dict):
            continue
        toks = []
        for key, tok in (("CapHeight", "cap"), ("Ascent", "ascent"),
                         ("Descent", "descent")):
            v = pdf.resolve(desc.get(key))
            if isinstance(v, (int, float)) and v != 0:
                toks.append(f"{tok}:{float(v):g}")
        if toks:
            return " ".join(toks)
    return ""


def _font_program(pdf: PdfFile, font: dict) -> tuple[str, bytes] | None:
    """The embedded program for one font dict (or its first descendant):
    (kind, bytes) with kind = Type1 | TrueType | FontFile3's /Subtype."""
    cands = [font] + [pdf.resolve(d) for d in
                      (pdf.resolve(font.get("DescendantFonts")) or [])]
    for f in cands:
        if not isinstance(f, dict):
            continue
        desc = pdf.resolve(f.get("FontDescriptor"))
        if not isinstance(desc, dict):
            continue
        for key, kind in (("FontFile", "Type1"), ("FontFile2", "TrueType"),
                          ("FontFile3", None)):
            ff = pdf.resolve(desc.get(key))
            if isinstance(ff, Stream):
                k = kind or str(pdf.resolve(ff.dict.get("Subtype")) or "CFF")
                return k, ff.data
    return None


def encoding_map(pdf: PdfFile, font: dict) -> tuple[dict[int, str], bool]:
    """-> (code -> decoded string, is_two_byte) for one font.

    Simple fonts: /Encoding /Differences + /ToUnicode, single-byte codes
    (ToUnicode wins where both define a code — PDFBox prefers it too).
    Type0 fonts (Identity-H): the full 2-byte ToUnicode space, flagged so
    the kernel pairs show-string bytes before mapping (interp
    doc_cid2_fonts). Values are usually one char; ligature ToUnicode
    entries carry the full expansion like PDFBox's TextPositions do."""
    subtype = str(pdf.resolve(font.get("Subtype")) or "")
    cid2 = subtype == "Type0"
    out: dict[int, str] = {}
    enc = pdf.resolve(font.get("Encoding"))
    if not cid2:
        # named base encoding (WinAnsi/MacRoman): the high-range codes
        # that differ from the tokenizer's latin-1 default, generated from
        # the stdlib codecs rather than hand tables
        base = enc if isinstance(enc, Name) else (
            pdf.resolve(enc.get("BaseEncoding"))
            if isinstance(enc, dict) else None)
        codec = {"WinAnsiEncoding": "cp1252",
                 "MacRomanEncoding": "mac_roman"}.get(str(base or ""))
        if codec:
            for c in range(128, 256):
                try:
                    u = bytes([c]).decode(codec)
                except UnicodeDecodeError:
                    continue
                if ord(u) != c:
                    out[c] = u
    if isinstance(enc, dict) and not cid2:
        diffs = pdf.resolve(enc.get("Differences")) or []
        code = 0
        for item in diffs:
            item = pdf.resolve(item)
            if isinstance(item, (int, float)):
                code = int(item)
            elif isinstance(item, Name):
                cp = _glyph_to_cp(str(item))
                if cp is not None and cp != code:
                    out[code] = chr(cp)
                code += 1
    tu = pdf.resolve(font.get("ToUnicode"))
    if isinstance(tu, Stream):
        for code, dec in tounicode_map(tu.data, two_byte=cid2).items():
            if cid2 or dec != chr(code):
                out[code] = dec
    if not cid2:
        # identity entries carry no information for the kernel
        out = {c: dec for c, dec in out.items() if dec != chr(c)}
    return out, cid2


# ---------------------------------------------------------------------------
# page content -> spans
# ---------------------------------------------------------------------------

_INLINE_IMG_RE = re.compile(rb"\bBI\b.*?\bEI\b", re.DOTALL)
_BI_RE = re.compile(rb"(?<![A-Za-z0-9])BI(?![A-Za-z0-9])")


def _mask_stream_bytes(raw: bytes) -> bytes:
    """Blank (string) literals, <hex> strings and %-comments so operator
    searches (BI detection) never match inside shown text; same length as
    the input, so match positions map 1:1 onto the original bytes."""
    out = bytearray(raw)
    i, n = 0, len(raw)
    while i < n:
        c = raw[i]
        if c == 0x28:  # ( literal
            _, j = _parse_literal(raw, i)
            for k in range(i, min(j, n)):
                out[k] = 0x20
            i = max(j, i + 1)
        elif c == 0x3C:  # < hex string (but << dicts keep scanning inside)
            if raw.startswith(b"<<", i):
                i += 2
            else:
                e = raw.find(b">", i)
                j = (e + 1) if e != -1 else n
                for k in range(i, j):
                    out[k] = 0x20
                i = j
        elif c == 0x25:  # % comment
            nl = min([x for x in (raw.find(b"\n", i), raw.find(b"\r", i))
                      if x != -1], default=n)
            for k in range(i, nl):
                out[k] = 0x20
            i = nl
        else:
            i += 1
    return bytes(out)
_EI_RE = re.compile(rb"[\x00\t\n\x0c\r ]EI(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)")


def _splice_inline_images(raw: bytes, images: dict,
                          start_idx: int) -> tuple[bytes, int]:
    """Replace every inline image (``BI <dict> ID <data> EI``) with a
    synthetic ``/InlImg<n> Do`` and register (w, h, media_ref) in
    ``images`` — the same span-splicing contract XObject images use, so
    placement math (the surrounding cm) works identically. Data bytes are
    found via /L when declared, else the whitespace-EI-delimiter scan
    PDFBox's parser uses."""
    out = bytearray()
    pos = 0
    n = start_idx
    # search the string-masked copy: a "BI" inside shown text (literal or
    # hex string) must never be taken for an inline image
    masked = _mask_stream_bytes(raw)
    while True:
        m = _BI_RE.search(masked, pos)
        if not m:
            out += raw[pos:]
            break
        out += raw[pos:m.start()]
        i = m.end()
        params: dict = {}
        ok = True
        while True:
            i = _skip_ws(raw, i)
            if raw[i:i + 2] == b"ID":
                i += 2
                if i < len(raw) and raw[i] in _WS:
                    i += 1
                break
            try:
                key, i = _parse_name(raw, i)
                val, i = parse_obj(raw, i)
            except Exception:
                ok = False
                break
            params[str(key)] = val
        if not ok:
            # malformed inline image: keep the original bytes untouched
            out += raw[m.start():m.end()]
            pos = m.end()
            continue
        length = params.get("L", params.get("Length"))
        if isinstance(length, int):
            data_end = i + length
            e = _EI_RE.search(raw, data_end)
            end = e.end() if e else len(raw)
        else:
            e = _EI_RE.search(raw, i)
            data_end = e.start() if e else len(raw)
            end = e.end() if e else len(raw)
        data = raw[i:data_end]
        w = int(params.get("W", params.get("Width", 1)) or 1)
        h = int(params.get("H", params.get("Height", 1)) or 1)
        name = f"InlImg{n}"
        n += 1
        images[name] = (w, h, "sha:" + hashlib.md5(data).hexdigest())
        out += f" /{name} Do ".encode()
        pos = end
    return bytes(out), n


def _name_sub(content: str, old: str, new: str) -> str:
    if old == new:
        return content
    return re.sub(r"/" + re.escape(old) + r"(?=[\s/\[\]()<>{}%]|$)",
                  "/" + new, content)


def _apply_renames(content: str, renames: dict[str, str]) -> str:
    """ALL name renames in ONE pass: sequential substitution is order-
    dependent when one rename's target equals another's source (e.g.
    {F1 -> Arial, Arial -> Arial.2} must not map F1's text through
    Arial.2's cmap)."""
    live = {o: n for o, n in renames.items() if o != n}
    if not live:
        return content
    alts = "|".join(re.escape(o)
                    for o in sorted(live, key=len, reverse=True))
    return re.sub(r"/(" + alts + r")(?=[\s/\[\]()<>{}%]|$)",
                  lambda m: "/" + live[m.group(1)], content)


# PDFDocEncoding deltas vs latin-1 (PDF 32000-1 Annex D.2): the 0x18-0x1F
# accent row, the 0x80-0x9E typographic block, and the euro at 0xA0.
# Text strings WITHOUT a UTF-16 BOM decode through this, matching
# PDFBox's PDFDocEncoding reader (titles with curly quotes/dashes).
_PDFDOC_DELTAS = {
    0x18: 0x02D8, 0x19: 0x02C7, 0x1A: 0x02C6, 0x1B: 0x02D9,
    0x1C: 0x02DD, 0x1D: 0x02DB, 0x1E: 0x02DA, 0x1F: 0x02DC,
    0x80: 0x2022, 0x81: 0x2020, 0x82: 0x2021, 0x83: 0x2026,
    0x84: 0x2014, 0x85: 0x2013, 0x86: 0x0192, 0x87: 0x2044,
    0x88: 0x2039, 0x89: 0x203A, 0x8A: 0x2212, 0x8B: 0x2030,
    0x8C: 0x201E, 0x8D: 0x201C, 0x8E: 0x201D, 0x8F: 0x2018,
    0x90: 0x2019, 0x91: 0x201A, 0x92: 0x2122, 0x93: 0xFB01,
    0x94: 0xFB02, 0x95: 0x0141, 0x96: 0x0152, 0x97: 0x0160,
    0x98: 0x0178, 0x99: 0x017D, 0x9A: 0x0131, 0x9B: 0x0142,
    0x9C: 0x0153, 0x9D: 0x0161, 0x9E: 0x017E, 0xA0: 0x20AC,
}


def pdfdoc_decode(raw: bytes) -> str:
    """PDF text string -> str: UTF-16BE when BOM-prefixed, else
    PDFDocEncoding (latin-1 plus the Annex D.2 deltas)."""
    if raw.startswith(b"\xfe\xff"):
        return raw[2:].decode("utf-16-be", "replace")
    return "".join(chr(_PDFDOC_DELTAS.get(b, b)) for b in raw)


def _apply_gs(content: str, gsmap: dict[str, str],
              renames: dict[str, str]) -> str:
    """Rewrite ``/Name gs`` invocations into the equivalent inline ops.

    PDFBoxTree extends PDFTextStripper, whose legacy engine registers
    SetGraphicsStateParameters — so the reference HONORS ExtGState
    parameters the interpreter models: /LW (line width, same state as the
    ``w`` op) and /Font (text font + size, same state as ``Tf``). Other
    entries (alpha, blend mode, smask) never reach Pdf2Dom's output, so a
    gs carrying none of the modeled keys is dropped. Runs AFTER
    ``_apply_renames`` — gs resource names that collide with a renamed
    font resource name have already been mapped, so match keys are the
    post-rename spellings (and the replacement's family name, already
    final, can no longer be re-renamed)."""
    if not gsmap:
        return content
    live = {o: n for o, n in renames.items() if o != n}
    post = {live.get(n, n): repl for n, repl in gsmap.items()}
    alts = "|".join(re.escape(n)
                    for n in sorted(post, key=len, reverse=True))
    return re.sub(r"/(" + alts + r")\s+gs(?=[\s/\[\]()<>{}%]|$)",
                  lambda m: post[m.group(1)], content)


class _SpanBuilder:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.off = 0

    def add(self, kind: str, text: str | None, media_ref: str | None) -> None:
        self.spans.append({"kind": kind, "text": text,
                           "media_ref": media_ref, "offset": self.off})
        self.off += 1


def _fmt(v: float) -> str:
    return f"{v:g}"


def _smask_alpha(pdf: "PdfFile", sm: "Stream", w: int,
                 h: int):
    """Decode an /SMask (8-bit DeviceGray soft mask, PDF 32000-1
    7.8.7) into a (h, w) uint8 alpha plane, nearest-resampled when the
    mask's dims differ from the base image (PDFBox scales the mask to
    the image). None when outside that scope."""
    import numpy as np

    try:
        mw = int(pdf.resolve(sm.dict.get("Width", 0)) or 0)
        mh = int(pdf.resolve(sm.dict.get("Height", 0)) or 0)
        bpc = int(pdf.resolve(sm.dict.get("BitsPerComponent", 8)) or 8)
        cs = pdf.resolve(sm.dict.get("ColorSpace"))
        if not (0 < mw <= 10000 and 0 < mh <= 10000) or bpc != 8 \
                or str(cs) != "DeviceGray":
            return None
        payload = sm.data
        if len(payload) < mw * mh:
            return None
        a = np.frombuffer(payload[: mw * mh],
                          dtype=np.uint8).reshape(mh, mw)
        dec = pdf.resolve(sm.dict.get("Decode"))
        if isinstance(dec, list) and len(dec) >= 2 \
                and float(pdf.resolve(dec[0]) or 0) == 1:
            a = 255 - a
        if (mw, mh) != (w, h):
            yi = (np.arange(h) * mh // h)
            xi = (np.arange(w) * mw // w)
            a = a[yi][:, xi]
        return a
    except Exception:
        return None


def _image_png_datauri(pdf: "PdfFile", xo: "Stream") -> str | None:
    """Reference-parity media payload: decode the image XObject to
    pixels and re-encode as PNG (ImageResource.java:38-51 does exactly
    this through ImageIO for EVERY image, whatever the source codec),
    returned as a ``data:image/png;base64,`` URI. Covers the dominant
    real-world codecs: DCTDecode (baseline + progressive JPEG,
    jpegdec.py), Flate/LZW-coded raw 1/2/4/8-bit DeviceRGB/DeviceGray
    bitmaps, Indexed palettes, /Decode gray inversion, and /SMask soft
    masks (the alpha channel PDFBox's getImage folds in before the PNG
    re-encode). Returns None for anything else (JPX/CCITT/JBIG2,
    16-bit samples) — the caller keeps the stable opaque sha ref."""
    import base64

    import numpy as np

    from .jpegdec import jpeg_to_rgba
    from .raster import encode_png_rgba

    try:
        w = int(pdf.resolve(xo.dict.get("Width", 0)) or 0)
        h = int(pdf.resolve(xo.dict.get("Height", 0)) or 0)
        if not (0 < w <= 10000 and 0 < h <= 10000):
            return None
        if pdf.resolve(xo.dict.get("ImageMask")):
            return None
        filters = pdf.resolve(xo.dict.get("Filter"))
        if not isinstance(filters, list):
            filters = [filters] if filters is not None else []
        names = [str(f) for f in filters]
        payload = xo.data  # decompressed up to any opaque codec
        if names and names[-1] in ("DCTDecode", "DCT"):
            rgba = jpeg_to_rgba(payload)
        elif any(fn in _OPAQUE_FILTERS for fn in names):
            return None
        else:
            bpc = int(pdf.resolve(xo.dict.get("BitsPerComponent", 8))
                      or 8)
            cs = pdf.resolve(xo.dict.get("ColorSpace"))
            palette = None  # Indexed: (hival+1, 3) uint8 lookup
            if isinstance(cs, list) and cs and str(cs[0]) in ("Indexed",
                                                              "I"):
                # [/Indexed base hival lookup] (PDF 32000-1 8.6.6.3) —
                # base limited to the RGB/Gray device spaces here
                base = pdf.resolve(cs[1]) if len(cs) > 1 else None
                base_n = {"DeviceRGB": 3, "CalRGB": 3,
                          "DeviceGray": 1, "CalGray": 1}.get(
                              str(base) if not isinstance(
                                  base, (list, dict)) else "")
                hival = int(pdf.resolve(cs[2]) or 0) if len(cs) > 2 else 0
                lk = pdf.resolve(cs[3]) if len(cs) > 3 else None
                lk = lk.data if isinstance(lk, Stream) else lk
                if base_n is None or not isinstance(lk, bytes) \
                        or len(lk) < (hival + 1) * base_n:
                    return None
                tbl = np.frombuffer(lk[:(hival + 1) * base_n],
                                    dtype=np.uint8)
                tbl = tbl.reshape(hival + 1, base_n)
                palette = (tbl if base_n == 3
                           else np.repeat(tbl, 3, axis=1))
                ncomp = 1
            else:
                cs_name = str(cs) if not isinstance(cs,
                                                    (list, dict)) else ""
                ncomp = {"DeviceRGB": 3, "DeviceGray": 1,
                         "CalRGB": 3, "CalGray": 1}.get(cs_name)
            if ncomp is None or bpc not in (1, 2, 4, 8):
                return None
            if bpc == 8:
                if len(payload) < w * h * ncomp:
                    return None
                px = np.frombuffer(payload[: w * h * ncomp],
                                   dtype=np.uint8).reshape(h, w, ncomp)
            else:
                # sub-byte samples: each ROW is bit-packed and padded to
                # a byte boundary (PDF 32000-1 8.9.5.2)
                if ncomp != 1:
                    return None
                stride = (w * bpc + 7) // 8
                if len(payload) < stride * h:
                    return None
                rows = np.frombuffer(payload[: stride * h],
                                     dtype=np.uint8).reshape(h, stride)
                bits = np.unpackbits(rows, axis=1)
                samples = bits[:, : w * bpc].reshape(h, w, bpc)
                weights = (1 << np.arange(bpc - 1, -1, -1)).astype(
                    np.uint8)
                vals = (samples * weights).sum(axis=2).astype(np.uint8)
                if palette is None:
                    # scale to full 8-bit gray (max_val -> 255)
                    vals = (vals.astype(np.uint16) * 255
                            // ((1 << bpc) - 1)).astype(np.uint8)
                px = vals[..., None]
            dec = pdf.resolve(xo.dict.get("Decode"))
            if isinstance(dec, list) and len(dec) >= 2 and palette is None \
                    and ncomp == 1 and float(pdf.resolve(dec[0]) or 0) == 1:
                px = 255 - px  # /Decode [1 0] gray inversion
            if palette is not None:
                idx = np.minimum(px[..., 0].astype(np.int64),
                                 palette.shape[0] - 1)
                px = palette[idx]
            rgba = np.empty((h, w, 4), dtype=np.uint8)
            rgba[..., :3] = px if px.shape[-1] == 3 else px
            rgba[..., 3] = 255
        if rgba.shape[0] != h or rgba.shape[1] != w:
            return None
        sm = pdf.resolve(xo.dict.get("SMask"))
        if isinstance(sm, Stream):
            alpha = _smask_alpha(pdf, sm, w, h)
            if alpha is None:
                return None  # declared mask we can't honor: stay opaque
            rgba[..., 3] = alpha
        png = encode_png_rgba(np.ascontiguousarray(rgba))
        return ("data:image/png;base64,"
                + base64.b64encode(png).decode("ascii"))
    except Exception:
        return None


def pdf_to_spans(data: bytes, max_pages: int | None = None,
                 password: bytes = b"",
                 image_pixels: bool = False) -> list[dict]:
    """One PDF file's bytes -> the DOC_SCHEMA ``spans`` array.

    ``image_pixels=True`` decodes each decodable image XObject to
    pixels and carries the reference's PNG re-encode as the media_ref
    (a ``data:image/png;base64,`` URI — EmbedAsBase64Handler
    semantics); undecodable codecs keep the default stable
    ``sha:<md5>`` opaque ref either way."""
    pdf = PdfFile(data, password=password)
    sb = _SpanBuilder()

    info = pdf.resolve(pdf.trailer.get("Info"))
    if isinstance(info, dict):
        title = pdf.resolve(info.get("Title"))
        if isinstance(title, bytes) and title:
            # UTF-16BE with BOM, else PDFDocEncoding (PDF 32000-1 7.9.2.2)
            t = pdfdoc_decode(title)
            if t:
                sb.add("meta", t, "title")

    # per-family accumulated code map: a document may carry several subset
    # font OBJECTS of the same family (one per page, each with its own
    # ToUnicode covering just that page's glyphs — 3-page-document.pdf does
    # exactly this). Merge compatible subsets into one family cmap (emitting
    # only the delta per object); rename on a genuine code conflict so two
    # subsets never fight over one code.
    fam_maps: dict[str, dict[int, int]] = {}
    fam_cid2: dict[str, bool] = {}
    fam_w: dict[str, tuple[float, dict[int, float]]] = {}
    fam_prog: set[str] = set()
    fam_vm: set[str] = set()
    font_obj_fam: dict[tuple, str] = {}
    form_bodies: dict[str, str] = {}  # emitted form name -> content

    def register_font(rname: str, fref) -> str | None:
        key = tuple(fref) if isinstance(fref, Ref) else None
        if key is not None and key in font_obj_fam:
            return font_obj_fam[key]
        font = pdf.resolve(fref)
        if not isinstance(font, dict):
            return None
        base_fam = font_family(pdf, font, rname)
        cmap, cid2 = encoding_map(pdf, font)
        fw = font_widths(pdf, font)

        def conflicts(fam: str) -> bool:
            if fam_cid2[fam] != cid2:
                return True
            if any(fam_maps[fam].get(c, cp) != cp for c, cp in cmap.items()):
                return True
            if fw is not None and fam in fam_w:
                adflt, amap = fam_w[fam]
                return (adflt != fw[0]
                        or any(amap.get(c, v) != v for c, v in fw[1].items()))
            return False

        fam, k = base_fam, 1
        while fam in fam_maps and conflicts(fam):
            k += 1
            fam = f"{base_fam}.{k}"
        acc = fam_maps.setdefault(fam, {})
        first = fam not in fam_cid2
        fam_cid2[fam] = cid2
        delta = {c: cp for c, cp in cmap.items() if acc.get(c) != cp}
        acc.update(cmap)
        if delta or (cid2 and first):
            # multi-char decodes (ligatures) serialize as '+'-joined cps
            body = " ".join(
                f"{c}:" + "+".join(f"{ord(ch):04x}" for ch in dec)
                for c, dec in sorted(delta.items()))
            if cid2:
                body = ("bytes:2 " + body).strip()
            sb.add("cmap", body, f"cmap:{fam}")
        vm = _font_vmetrics(pdf, font) if fam not in fam_vm else ""
        if vm:
            fam_vm.add(fam)
        if fw is not None:
            prior = fam_w.get(fam)
            wdelta = {c: v for c, v in fw[1].items()
                      if prior is None or prior[1].get(c) != v}
            # `or vm`: a later subset that only ADDS vertical metrics must
            # still emit a span, else the metrics are silently lost
            if prior is None or wdelta or vm:
                body = " ".join([f"default:{fw[0]:g}"]
                                + [f"{c}:{v:g}"
                                   for c, v in sorted(wdelta.items())]
                                + ([vm] if vm else []))
                sb.add("widths", body, f"widths:{fam}")
            merged = dict(prior[1]) if prior else {}
            merged.update(fw[1])
            fam_w[fam] = (fw[0], merged)
        elif vm:
            # vertical metrics without declared widths: the span carries
            # only named tokens (doc_widths registers no width override)
            sb.add("widths", vm, f"widths:{fam}")
        if fam not in fam_prog:
            prog = _font_program(pdf, font)
            if prog is not None:
                fam_prog.add(fam)
                import base64
                sb.add("fontfile",
                       prog[0] + ";"
                       + base64.b64encode(prog[1]).decode("ascii"),
                       f"fontfile:{fam}")
        if key is not None:
            font_obj_fam[key] = fam
        return fam

    def process_resources(res, depth: int = 0,
                          parent_renames: dict | None = None,
                          parent_images: dict | None = None,
                          parent_gs: dict | None = None):
        """-> (font rename map, image map, form names, gs rewrite map);
        emits cmap/form spans as a side effect.
        ``parent_renames``/``parent_images``/``parent_gs`` cascade into
        form content: a form may reference fonts, image XObjects, or
        ExtGStates from the INVOKING context's resources (its own
        /Resources is optional per the spec — the Horarios fixture's text
        fonts live at page level), so the enclosing page's maps apply
        beneath the form's own."""
        res = pdf.resolve(res) or {}
        fonts = pdf.resolve(res.get("Font")) or {}
        renames: dict[str, str] = dict(parent_renames or {})
        for rname, fref in fonts.items():
            fam = register_font(str(rname), fref)
            if fam is not None:
                renames[str(rname)] = fam
        # ExtGState: translate each dict's modeled parameters into the
        # inline ops _apply_gs splices over the gs invocation. The /Font
        # entry registers through the SAME font machinery as /Font
        # resources (cmap/widths/fontfile spans and all).
        gss = pdf.resolve(res.get("ExtGState")) or {}
        gsmap: dict[str, str] = dict(parent_gs or {})
        for gname, gref in (gss.items() if isinstance(gss, dict) else ()):
            g = pdf.resolve(gref)
            if not isinstance(g, dict):
                continue
            parts: list[str] = []
            lw = pdf.resolve(g.get("LW"))
            if isinstance(lw, (int, float)):
                parts.append(f"{_fmt(float(lw))} w")
            fnt = pdf.resolve(g.get("Font"))
            if isinstance(fnt, list) and len(fnt) == 2:
                fam = register_font(f"GS:{gname}", fnt[0])
                size = pdf.resolve(fnt[1])
                if fam is not None and isinstance(size, (int, float)):
                    # GsTf: text state like Tf, but excluded from the
                    # font TABLE — the reference's table scans only
                    # /Font resources (processFontResources), so a
                    # gs-only font never emits @font-face
                    parts.append(f"/{fam} {_fmt(float(size))} GsTf")
            gsmap[str(gname)] = " ".join(parts)
        xobjs = pdf.resolve(res.get("XObject")) or {}
        images: dict[str, tuple] = dict(parent_images or {})
        forms: set[str] = set()
        resolved = [(str(rname), pdf.resolve(xref_))
                    for rname, xref_ in xobjs.items()]
        # images first, forms second: a form must see EVERY sibling image
        # regardless of dictionary order
        for rname, xo in resolved:
            if not isinstance(xo, Stream):
                continue
            if str(pdf.resolve(xo.dict.get("Subtype")) or "") == "Image":
                w = int(pdf.resolve(xo.dict.get("Width", 1)) or 1)
                h = int(pdf.resolve(xo.dict.get("Height", 1)) or 1)
                ref = None
                if image_pixels:
                    ref = _image_png_datauri(pdf, xo)
                if ref is None:
                    ref = "sha:" + hashlib.md5(xo.raw_plain).hexdigest()
                images[rname] = (w, h, ref)
        for fname, xo in resolved:
            if not isinstance(xo, Stream):
                continue
            if (str(pdf.resolve(xo.dict.get("Subtype")) or "") == "Form"
                    and depth < 4):
                body = _form_content(xo, depth, renames, images, gsmap)
                # form definitions are document-global in doc_tokens but
                # resource names are PER-CONTEXT: two pages reusing /Fm0
                # for different forms must not collide — alias on a body
                # conflict and rewrite the invoking content's Do
                target, k = fname, 1
                while (target in form_bodies
                       and form_bodies[target] != body):
                    k += 1
                    target = f"{fname}.{k}"
                if target not in form_bodies:
                    form_bodies[target] = body
                    sb.add("form", body, f"form:{target}")
                if target != fname:
                    renames[fname] = target
                forms.add(target)
        return renames, images, forms, gsmap

    def _form_content(xo: Stream, depth: int,
                      parent_renames: dict | None = None,
                      parent_images: dict | None = None,
                      parent_gs: dict | None = None) -> str:
        content = _INLINE_IMG_RE.sub(b" ", xo.data).decode("latin-1")
        renames, images, _forms, gsmap = process_resources(
            xo.dict.get("Resources"), depth + 1, parent_renames,
            parent_images, parent_gs)
        content = _apply_renames(content, renames)
        content = _apply_gs(content, gsmap, renames)
        # images referenced INSIDE a form cannot be spliced as standalone
        # spans (form expansion is token-level) — rewrite their Do as the
        # inline DoMedia pseudo-op the interpreter dispatches natively:
        # "(<ref>) W H (<name>) DoMedia" (interp.py DoMedia handler)
        for name, (w, h, ref) in images.items():
            content = re.sub(
                r"/" + re.escape(name) + r"\s+Do(?=[\s/\[\]()<>{}%]|$)",
                f"({ref}) {w} {h} ({name}) DoMedia", content)
        matrix = pdf.resolve(xo.dict.get("Matrix"))
        if matrix and list(matrix) != [1, 0, 0, 1, 0, 0]:
            nums = " ".join(_fmt(float(pdf.resolve(v))) for v in matrix)
            content = f"{nums} cm " + content
        return content

    pages = pdf.pages()
    inline_n = 0  # document-wide inline-image counter (stable names)
    if max_pages is not None:
        pages = pages[:max_pages]
    for page in pages:
        box = [float(pdf.resolve(v)) for v in
               pdf.resolve(page.get("CropBox") or page.get("MediaBox")
                           or [0, 0, 612, 792])]
        x0, y0 = min(box[0], box[2]), min(box[1], box[3])
        w, h = abs(box[2] - box[0]), abs(box[3] - box[1])
        rot = int(pdf.resolve(page.get("Rotate", 0)) or 0)
        # PDPage.getRotation(): a /Rotate that is not a multiple of 90 is
        # invalid and reads as 0; negatives normalize into 0..270
        rot = rot % 360 if rot % 90 == 0 else 0

        contents = pdf.resolve(page.get("Contents"))
        parts: list[bytes] = []
        if isinstance(contents, Stream):
            parts = [contents.data]
        elif isinstance(contents, list):
            for c in contents:
                c = pdf.resolve(c)
                if isinstance(c, Stream):
                    parts.append(c.data)
        renames, images, _forms, gsmap = process_resources(
            page.get("Resources"))
        raw_content, inline_n = _splice_inline_images(
            b"\n".join(parts), images, inline_n)
        content = raw_content.decode("latin-1")
        content = _apply_renames(content, renames)
        content = _apply_gs(content, gsmap, renames)

        header = f"{_fmt(w)} {_fmt(h)} {rot} PG "
        if x0 or y0:
            # shift a non-origin CropBox to (0,0) — PDFBox normalizes via
            # the page's displayable area (PDFBoxTree.java:797-801)
            header += f"1 0 0 1 {_fmt(-x0)} {_fmt(-y0)} cm "

        if images:
            alts = "|".join(re.escape(n) for n in images)
            pieces = re.split(
                r"/(" + alts + r")[\s]+Do(?=[\s/\[\]()<>{}%]|$)", content)
            # pieces = [text, imgname, text, imgname, ..., text]
            sb.add("text", header + pieces[0], None)
            for j in range(1, len(pieces), 2):
                iw, ih, ref = images[pieces[j]]
                sb.add("image", f"{iw} {ih} {pieces[j]}", ref)
                sb.add("text", pieces[j + 1], None)
        else:
            sb.add("text", header + content, None)

    return sb.spans


def pdf_file_to_row(path: str, doc_id: str | None = None,
                    max_pages: int | None = None,
                    password: bytes = b"",
                    image_pixels: bool = False) -> dict:
    """One on-disk PDF -> a DOC_SCHEMA row dict (doc_id, spans)."""
    with open(path, "rb") as fh:
        data = fh.read()
    import os
    return {"doc_id": doc_id or os.path.basename(path),
            "spans": pdf_to_spans(data, max_pages=max_pages,
                                  password=password,
                                  image_pixels=image_pixels)}


# ---------------------------------------------------------------------------
# distributed ingest: a directory of real PDF files -> DOC_SCHEMA DataFrame
# ---------------------------------------------------------------------------


def pdf_batch_parser(password: bytes = b"", image_pixels: bool = False,
                     containers: bool = False):
    """The mapInPandas body of every binaryFile ingest (``pdf_docs_df``,
    ``pdf_archive_docs_df``, streaming ``extract_pdf_stream_lineage``):
    (path, content) batches -> DOC_SCHEMA frames. One row is one PDF
    (doc_id = file name), or with ``containers=True`` one zip / tar /
    gzip container whose PDF members become ``<container>/<member>``
    docs. An unparseable file or member is skipped, never poisoning its
    batch."""
    import os

    def parse_batch(it):
        import pandas as pd

        from .memtune import tune_malloc
        tune_malloc()  # once per worker: file payloads are large allocs
        for batch in it:
            ids, spans = [], []
            for path, content in zip(batch["path"], batch["content"]):
                base = os.path.basename(str(path))
                members = (_container_pdf_members(bytes(content))
                           if containers else ((None, bytes(content)),))
                for name, blob in members:
                    try:
                        spans.append(pdf_to_spans(
                            blob, password=password,
                            image_pixels=image_pixels))
                        ids.append(base if name is None
                                   else f"{base}/{name}")
                    except Exception:
                        continue
            # object dtype even when EMPTY: a batch whose every file was
            # skipped would otherwise produce float64 columns Arrow cannot
            # cast to list<struct>
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype=object),
                                "spans": pd.Series(spans, dtype=object)})

    return parse_batch


def pdf_docs_df(spark, path_glob: str, password: bytes = b"",
                image_pixels: bool = False):
    """Distributed real-PDF ingest: ``binaryFile`` scan -> per-file parse in
    Arrow batches -> DOC_SCHEMA rows (the same shape every other pipeline
    entry consumes, so run_checkpointed/extract_spans work unchanged).

    Scale shape: the binaryFile source splits the file listing across
    executors (one row per PDF, content as bytes); parsing is a narrow
    mapInPandas — no shuffle at all until the extraction salt. One monster
    PDF cannot skew a task beyond its own size; the extraction stage
    re-salts by doc_id hash anyway (pipeline.extract_spans)."""
    from .schema import DOC_SCHEMA

    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.pdf")
             .load(path_glob)
             .select("path", "content"))
    return files.mapInPandas(pdf_batch_parser(password, image_pixels),
                             DOC_SCHEMA)


# A crawled-archive corpus can hide zip/gzip bombs; any single member
# expanding past this ceiling is skipped like a corrupt one, so one
# hostile container can't OOM its executor (advisory cap, not a format
# limit — legitimate web PDFs are orders of magnitude smaller).
MAX_ARCHIVE_MEMBER_BYTES = 256 * 1024 * 1024


def _gzip_bounded(data: bytes, limit: int) -> bytes | None:
    """Incremental gzip decompress with a hard output ceiling — returns
    None (skip) instead of materializing a decompression bomb."""
    import zlib

    d = zlib.decompressobj(wbits=31)
    out = bytearray()
    try:
        out += d.decompress(data, limit + 1)
    except Exception:
        return None
    if len(out) > limit or d.unconsumed_tail:
        return None
    return bytes(out)


def _container_pdf_members(data: bytes,
                           limit: int = MAX_ARCHIVE_MEMBER_BYTES):
    """Yield (member_name, pdf_bytes) from one container blob, sniffed by
    magic bytes: zip (PK), gzip (bare .pdf.gz or .tar.gz), tar (ustar).
    Corrupt containers yield nothing; corrupt or oversized (> ``limit``
    expanded bytes) members are skipped."""
    import io as _io
    import tarfile
    import zipfile

    if data[:2] == b"PK":
        try:
            zf = zipfile.ZipFile(_io.BytesIO(data))
        except Exception:
            return
        for info in zf.infolist():
            if info.filename.lower().endswith(".pdf"):
                if info.file_size > limit:
                    continue  # declared size over cap
                try:
                    with zf.open(info) as fh:
                        # read bounded even if the header lies about size
                        blob = fh.read(limit + 1)
                    if len(blob) > limit:
                        continue
                    yield info.filename, blob
                except Exception:
                    continue
        return
    if data[:2] == b"\x1f\x8b":
        inner = _gzip_bounded(data, limit)
        if inner is None:
            return
        if inner.startswith(b"%PDF"):
            yield "member.pdf", inner  # bare gzipped PDF
            return
        data = inner  # fall through: likely a .tar.gz
    if len(data) > 262 and data[257:262] == b"ustar" \
            or data[:4] == b"%PDF":
        if data[:4] == b"%PDF":
            yield "member.pdf", data
            return
        try:
            tf = tarfile.open(fileobj=_io.BytesIO(data))
        except Exception:
            return
        for m in tf.getmembers():
            if m.isfile() and m.name.lower().endswith(".pdf"):
                if m.size > limit:
                    continue
                try:
                    fh = tf.extractfile(m)
                    if fh is None:
                        continue
                    blob = fh.read(limit + 1)
                    if len(blob) > limit:
                        continue  # stored size lied past the cap
                    yield m.name, blob
                except Exception:
                    continue


def pdf_archive_docs_df(spark, path_glob: str, suffix: str = "*",
                        password: bytes = b"", image_pixels: bool = False):
    """Distributed ingest of PDFs packed inside container files — the
    shapes web-scale corpora actually ship in (many small PDFs per
    S3-friendly object): zip, tar, tar.gz, or bare gzipped PDFs, sniffed
    by magic bytes per container. Same plan as ``pdf_docs_df``:
    binaryFile scan (one row per CONTAINER) -> one narrow mapInPandas
    that opens each container in memory and emits DOC_SCHEMA rows with
    ``<container>/<member>`` doc_ids. Zero shuffle before the extraction
    salt; a corrupt container or member degrades to a skip, never
    poisoning its batch. Stdlib codecs only — no temp files on
    executors."""
    from .schema import DOC_SCHEMA

    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", suffix)
             .load(path_glob)
             .select("path", "content"))
    return files.mapInPandas(
        pdf_batch_parser(password, image_pixels, containers=True),
        DOC_SCHEMA)


# ---------------------------------------------------------------------------
# embedded font programs (F2: the real binaries FontTable.Entry.getData pulls)
# ---------------------------------------------------------------------------


def embedded_font_programs(data: bytes) -> list[dict]:
    """All embedded font programs in one PDF: [{family, base_font, kind,
    program}] where kind is 'Type1' (FontFile), 'TrueType' (FontFile2) or
    the FontFile3 stream /Subtype ('Type1C' bare CFF, 'CIDFontType0C',
    'OpenType'). Descends into Type0 DescendantFonts. These are the REAL
    binaries FontTable.java:141-256 hands to FontVerter."""
    pdf = PdfFile(data)
    out: list[dict] = []
    seen: set[tuple] = set()

    def visit_font(font: dict) -> None:
        desc = pdf.resolve(font.get("FontDescriptor"))
        for d in pdf.resolve(font.get("DescendantFonts")) or []:
            d = pdf.resolve(d)
            if isinstance(d, dict):
                visit_font(d)
        if not isinstance(desc, dict):
            return
        for key, kind in (("FontFile", "Type1"), ("FontFile2", "TrueType"),
                          ("FontFile3", None)):
            ff = pdf.resolve(desc.get(key))
            if not isinstance(ff, Stream):
                continue
            k = kind or str(pdf.resolve(ff.dict.get("Subtype")) or "CFF")
            base = str(pdf.resolve(font.get("BaseFont")) or "")
            ident = (base, k)
            if ident in seen:
                continue
            seen.add(ident)
            out.append({"family": _SUBSET_RE.sub("", base),
                        "base_font": base, "kind": k, "program": ff.data})

    for page in pdf.pages():
        res = pdf.resolve(page.get("Resources")) or {}
        for fref in (pdf.resolve(res.get("Font")) or {}).values():
            font = pdf.resolve(fref)
            if isinstance(font, dict):
                visit_font(font)
        for xref_ in (pdf.resolve(res.get("XObject")) or {}).values():
            xo = pdf.resolve(xref_)
            if isinstance(xo, Stream):
                fres = pdf.resolve(
                    (pdf.resolve(xo.dict.get("Resources")) or {}).get("Font"))
                for fref in (fres or {}).values():
                    font = pdf.resolve(fref)
                    if isinstance(font, dict):
                        visit_font(font)
    return out
