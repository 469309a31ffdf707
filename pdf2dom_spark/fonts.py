"""Deterministic synthetic font model + FontTable semantics.

The reference gets glyph metrics from embedded font programs via PDFBox
(``TextMetrics.java:107-126`` reads ascent/descent from the font descriptor,
``/1000``-scaled). This container has no font binaries, so the engine defines
one deterministic synthetic metric table used by both the fixture generator
and the extractor — self-consistent, seed-free, and exactly reproducible in
SQL oracles for the uniform-width ("Mono") family.

FontTable semantics reimplemented from the reference:
  - family parse regex ``([^+^-]*)[+-]([^+]*)`` with '+' -> ' '
    (``FontTable.java:31,105-118``) — strips PDF subset prefixes,
  - de-duplicated display names by numeric suffix (``FontTable.java:77-88``),
  - entry identity (name, type, subtype) (``FontTable.java:258-265``),
  - unsupported font types are skipped (``PDFBoxTree.java:368-392``).

Style classification reimplemented from the reference:
  - known CSS families (``PDFBoxTree.java:91,756-764``),
  - weight/style via substring match (``PDFBoxTree.java:94-98,719-735``).
"""

from __future__ import annotations

import re

import numpy as np

# Per-mille metrics shared by every synthetic font (scaled by fontsize/1000,
# mirroring the reference's descriptor scaling in TextMetrics.java:89,101,111).
ASCENT = 800.0
DESCENT = -200.0
CAP_HEIGHT = 700.0
BBOX_ASCENT = 900.0
BBOX_DESCENT = -250.0

# Advance widths per mille. "Mono"-family fonts use 500 for every char
# (keeps the SQL oracle for the full pipeline trivially expressible).
_NARROW = set("ilIjft.,;:!|'()[]")
_WIDE = set("mwMW")


def _build_width_table() -> np.ndarray:
    """Width lookup for code points 0..0x2FFF (wider chars beyond -> 500)."""
    w = np.full(0x3000, 500.0, dtype=np.float64)
    w[ord(" ")] = 250.0
    for c in _NARROW:
        w[ord(c)] = 278.0
    for c in _WIDE:
        w[ord(c)] = 833.0
    for c in "0123456789":
        w[ord(c)] = 667.0
    for o in range(ord("A"), ord("Z") + 1):
        w[o] = 667.0
    return w


_WIDTHS = _build_width_table()
_MONO_WIDTH = 500.0


_MONO_CACHE: dict[str, bool] = {}


def is_mono(font_name: str) -> bool:
    hit = _MONO_CACHE.get(font_name)
    if hit is None:
        hit = "mono" in font_name.lower()
        if len(_MONO_CACHE) < 65536:
            _MONO_CACHE[font_name] = hit
    return hit


# widths table + one sentinel entry equal to the index-0 default: a
# single take(mode='clip') then maps every out-of-table code point to the
# sentinel (= the 500.0 default) with no np.where temporary — 3.8x faster
# per show-op call
_WIDTHS_EXT = np.append(_WIDTHS, _WIDTHS[0])


def char_widths(codes: np.ndarray, font_name: str) -> np.ndarray:
    """Vectorized per-mille advance widths for an array of code points.

    Codes must be non-negative (callers pass uint32): ``take(mode='clip')``
    maps a negative code to index 0, the default width, where Python
    negative indexing would have wrapped to the end of the table."""
    if is_mono(font_name):
        return np.full(codes.shape, _MONO_WIDTH, dtype=np.float64)
    return _WIDTHS_EXT.take(codes, mode='clip')


def advance_widths(codes: np.ndarray, font_name: str,
                   scale: float) -> np.ndarray:
    """char_widths * scale, fused (one output allocation in the hot path)."""
    if is_mono(font_name):
        return np.full(codes.shape, _MONO_WIDTH * scale, dtype=np.float64)
    return _WIDTHS_EXT.take(codes, mode='clip') * scale


# ---------------------------------------------------------------------------
# Font type model: the fixture catalog encodes the PDF font type in the name
# suffix so documents stay self-describing.
#   "...-T1"  -> Type1 (unsupported by the reference -> skipped from the table,
#                PDFBoxTree.java:390-391)
#   "...-CID" -> Type0/CIDFontType2 (supported, PDFBoxTree.java:380-384)
#   default   -> TrueType (supported, PDFBoxTree.java:375-378)
# ---------------------------------------------------------------------------

def font_type(font_name: str) -> tuple[str, str]:
    if font_name.endswith("-T1"):
        return ("Type1", "")
    if font_name.endswith("-CID"):
        return ("Type0", "CIDFontType2")
    return ("TrueType", "")


def is_supported(font_name: str) -> bool:
    return font_type(font_name)[0] != "Type1"


# --- family / weight / style classification (PDFBoxTree.java:91-98) --------

CSS_FONT_FAMILY = [
    "Times New Roman", "Times", "Garamond", "Helvetica",
    "Arial Narrow", "Arial", "Verdana", "Courier New", "MS Sans Serif",
]
PD_FONT_TYPE = ["normal", "roman", "bold", "italic", "bolditalic"]
CSS_FONT_WEIGHT = ["normal", "normal", "bold", "normal", "bold"]
CSS_FONT_STYLE = ["normal", "normal", "normal", "italic", "italic"]


# pure functions of the PDF font name, called once per show op in the
# kernel hot loop — a corpus has few distinct font names, so a bounded
# dict memo turns the linear keyword scans into one hash probe
_KNOWN_FAMILY_CACHE: dict[str, str] = {}
_WEIGHT_STYLE_CACHE: dict[str, tuple[str, str]] = {}


def find_known_font_family(font_name: str) -> str:
    """PDFBoxTree.findKnownFontFamily (PDFBoxTree.java:756-764)."""
    hit = _KNOWN_FAMILY_CACHE.get(font_name)
    if hit is not None:
        return hit
    low = font_name.lower()
    out = ""
    for fam in CSS_FONT_FAMILY:
        if low.find(fam.lower().replace(" ", "")) >= 0:
            out = fam
            break
    if len(_KNOWN_FAMILY_CACHE) < 65536:
        _KNOWN_FAMILY_CACHE[font_name] = out
    return out


def font_weight_style(font_name: str) -> tuple[str, str]:
    """First matching subtype keyword wins (PDFBoxTree.java:719-735).

    Note the reference iterates pdFontType in order and breaks on the first
    ``lastIndexOf >= 0`` hit, so "bolditalic" can never win over "bold"
    (mirrored bug-for-bug).
    """
    hit = _WEIGHT_STYLE_CACHE.get(font_name)
    if hit is not None:
        return hit
    low = font_name.lower()
    out = (CSS_FONT_WEIGHT[0], CSS_FONT_STYLE[0])
    for i, key in enumerate(PD_FONT_TYPE):
        if low.rfind(key) >= 0:
            out = (CSS_FONT_WEIGHT[i], CSS_FONT_STYLE[i])
            break
    if len(_WEIGHT_STYLE_CACHE) < 65536:
        _WEIGHT_STYLE_CACHE[font_name] = out
    return out


# --- FontTable (FontTable.java) ---------------------------------------------

_FAMILY_RE = re.compile(r"([^+^-]*)[+-]([^+]*)")


def find_font_family(font_name: str) -> str:
    """FontTable.findFontFamily (FontTable.java:105-118).

    On a regex hit the family is ``group(1) + " " + group(2)`` (the reference
    deliberately keeps the subset prefix / weight suffix "for debugging"),
    then every '+' becomes ' '. Names without a separator pass through.
    """
    m = _FAMILY_RE.search(font_name)
    if m:
        fam = m.group(1) + " " + m.group(2)
    else:
        fam = font_name
    return fam.replace("+", " ")


class FontTable:
    """Per-document font registry (FontTable.java:33-118).

    Entries identified by (name, type, subtype); display names de-duplicated
    with a numeric suffix (``nextUsedName``, FontTable.java:77-88).
    """

    def __init__(self) -> None:
        self.entries: list[dict] = []
        self._keys: set[tuple[str, str, str]] = set()
        self._used_names: set[str] = set()
        # name -> used_name index: type/subtype are functions of the name,
        # so one entry per name and the dict mirrors the list exactly
        self._by_name: dict[str, str] = {}

    def add_entry(self, font_name: str) -> None:
        if not is_supported(font_name):
            return  # PDFBoxTree.java:390-391 — unsupported types skipped
        ftype, subtype = font_type(font_name)
        key = (font_name, ftype, subtype)
        if key in self._keys:
            return
        self._keys.add(key)
        family = find_font_family(font_name)
        used = self._next_used_name(family)
        self._used_names.add(used)
        self.entries.append(
            {"name": font_name, "family": family, "used_name": used,
             "type": ftype, "subtype": subtype}
        )
        self._by_name[font_name] = used

    def _next_used_name(self, family: str) -> str:
        used, i = family, 0
        while used in self._used_names:
            i += 1
            used = f"{family}{i}"
        return used

    def get_used_name(self, font_name: str) -> str | None:
        """FontTable.getUsedName — lookup by font, None when absent."""
        return self._by_name.get(font_name)


def resolve_family(font_name: str, table: FontTable) -> str:
    """updateStyle's family resolution (PDFBoxTree.java:737-747):
    known common family short-circuit, else font-table used name,
    else the raw PDF font name."""
    known = find_known_font_family(font_name)
    if known:
        return known
    used = table.get_used_name(font_name)
    return used if used is not None else font_name
