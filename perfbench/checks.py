"""Correctness checks run by every benchmark run, after the timed window.

A failed check fails the run: the result line reports ``correct: false``
and the process exits non-zero.
"""

from __future__ import annotations

import base64
import math
import os
import random
import struct
import zlib

STYLE_ATTRS = ("font_family", "font_size", "font_weight", "font_style",
               "word_spacing", "letter_spacing", "color", "stroke_color",
               "line_height", "left", "top", "width", "height", "angle",
               "stroke_width")
COMPARED = ("kind", "text", "media_ref", "order", "page_no",
            *[f"style_{a}" for a in STYLE_ATTRS])


class CheckFailed(AssertionError):
    pass


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def load(out: str):
    """A job output's spans and lineage tables, read with pyarrow (not
    through the Spark session under test)."""
    import pyarrow.parquet as pq

    spans = pq.read_table(f"{out}/spans", columns=["doc_id", *COMPARED])
    lineage = pq.read_table(f"{out}/lineage",
                            columns=["part_id", "doc_count", "span_count"])
    return spans, lineage


def table_invariants(out: str, spans, lineage) -> dict:
    """Lineage has one row per part_id; its span_count sums to the spans
    table's rows; every doc's order is dense from 0 without duplicates.
    Returns lineage totals."""
    parts = lineage.column("part_id").to_pylist()
    require(len(parts) == len(set(parts)),
            f"{out}: lineage has {len(parts)} rows for {len(set(parts))} "
            "part_ids")
    n_spans = sum(lineage.column("span_count").to_pylist())
    require(n_spans == spans.num_rows,
            f"{out}: lineage span_count {n_spans} != {spans.num_rows} spans "
            "rows")
    g = spans.select(["doc_id", "order"]).to_pandas().groupby("doc_id")[
        "order"]
    n = g.count()
    bad = int(((g.min() != 0) | (g.max() != n - 1)
               | (g.nunique() != n)).sum())
    require(bad == 0, f"{out}: {bad} docs with a non-dense order")
    return {"lineage_docs": sum(lineage.column("doc_count").to_pylist()),
            "parts": len(parts), "doc_ids": set(n.index)}


def _rows_by_doc(spans, doc_ids) -> dict:
    import pyarrow as pa
    import pyarrow.compute as pc

    rows = spans.filter(pc.is_in(
        spans.column("doc_id"),
        value_set=pa.array(list(doc_ids), type=pa.string()))).to_pylist()
    by: dict[str, list] = {}
    for r in rows:
        by.setdefault(r["doc_id"], []).append(r)
    for v in by.values():
        v.sort(key=lambda r: r["order"])
    return by


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            fa = float("nan") if a is None else float(a)
            fb = float("nan") if b is None else float(b)
        else:
            fa, fb = float(a), float(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        # the table stores style floats as float32
        return struct.pack("f", fa) == struct.pack("f", fb)
    return a == b


def compare_with_single(out: str, spans_t, docs: list) -> int:
    """Spans of (doc_id, spans) docs in the output table must equal
    extract.extract_doc_columnar run in this process, in order."""
    import numpy as np

    from pdf2dom_spark.extract import extract_doc_columnar

    by = _rows_by_doc(spans_t, [d for d, _ in docs])
    for did, spans in docs:
        want = extract_doc_columnar(did, spans)
        got = by.get(did, [])
        n = len(want["order"])
        require(len(got) == n,
                f"{out}: {did} has {len(got)} spans, single-doc gives {n}")
        for c in COMPARED:
            col = want[c]
            for i in range(n):
                w = col[i]
                if isinstance(w, np.generic):
                    w = w.item()
                if c == "page_no" and w is not None and not (
                        isinstance(w, float) and math.isnan(w)):
                    w = int(w)
                elif c == "page_no":
                    w = None
                require(_same(got[i][c], w),
                        f"{out}: {did} span {i} {c}: {got[i][c]!r} != "
                        f"{w!r}")
    return len(docs)


def compare_with_oracle(out: str, spans_t, files: list[dict]) -> int:
    """Text PDFs against the DuckDB closed-form oracle the
    extract_spans_realfile gate uses (qkernel._ORACLE_SPANS_SQL)."""
    import duckdb
    import pandas as pd

    from pdf2dom_spark.qkernel import _ORACLE_SPANS_SQL

    documents = pd.DataFrame({"doc_id": [f["doc_id"] for f in files],
                              "text": [f["text"] for f in files]})
    con = duckdb.connect()
    con.register("documents", documents)
    want = con.execute(f"SELECT * FROM ({_ORACLE_SPANS_SQL}) "
                       "ORDER BY doc_id, ord").fetchall()
    cols = [d[0] for d in con.description]
    con.close()
    oracle: dict[str, list] = {}
    for r in want:
        oracle.setdefault(r[0], []).append(dict(zip(cols, r)))
    by = _rows_by_doc(spans_t, [f["doc_id"] + ".pdf" for f in files])

    def r2(v):
        return None if v is None or (isinstance(v, float) and math.isnan(v)) \
            else round(float(v), 2)

    for f in files:
        o = oracle.get(f["doc_id"], [])
        g = by.get(f["doc_id"] + ".pdf", [])
        require(len(o) == len(g), f"{out}: {f['doc_id']} has {len(g)} "
                f"spans, the oracle {len(o)}")
        for w, r in zip(o, g):
            got = (r["order"], r["kind"], r["text"], r["media_ref"],
                   r["page_no"], r2(r["style_left"]), r2(r["style_top"]),
                   r2(r["style_width"]), r2(r["style_height"]),
                   r2(r["style_line_height"]), r2(r["style_font_size"]),
                   r["style_color"], r["style_font_family"])
            exp = (w["ord"], w["kind"], w["text"], w["media_ref"],
                   w["page_no"], r2(w["left_pt"]), r2(w["top_pt"]),
                   r2(w["width_pt"]), r2(w["height_pt"]),
                   r2(w["line_height"]), r2(w["font_size"]), w["color"],
                   w["font_family"])
            require(got == exp, f"{out}: {f['doc_id']} oracle mismatch "
                    f"{got} != {exp}")
    return len(files)


def decode_png(data: bytes):
    """8-bit RGBA PNG (any scanline filter) -> (h, w, 4) uint8 array."""
    import numpy as np

    require(data[:8] == b"\x89PNG\r\n\x1a\n", "not a PNG")
    pos, idat, w, h = 8, b"", 0, 0
    while pos < len(data):
        ln, typ = struct.unpack(">I4s", data[pos:pos + 8])
        body = data[pos + 8:pos + 8 + ln]
        if typ == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", body[:10])
            require(depth == 8 and ctype == 6, "PNG is not 8-bit RGBA")
        elif typ == b"IDAT":
            idat += body
        pos += 12 + ln
    raw = np.frombuffer(zlib.decompress(idat), np.uint8).reshape(
        h, w * 4 + 1).astype(np.int32)
    out = np.zeros((h, w * 4), dtype=np.int32)
    prev = np.zeros(w * 4, dtype=np.int32)
    for y in range(h):
        ft, line = raw[y, 0], raw[y, 1:]
        if ft == 0:
            cur = line
        elif ft == 1:      # Sub: running sum per channel
            cur = np.cumsum(line.reshape(w, 4), axis=0).reshape(-1) & 0xFF
        elif ft == 2:      # Up
            cur = (line + prev) & 0xFF
        else:              # Average / Paeth: sequential in x
            cur = np.zeros(w * 4, dtype=np.int32)
            for x in range(w * 4):
                a = int(cur[x - 4]) if x >= 4 else 0
                b = int(prev[x])
                c = int(prev[x - 4]) if x >= 4 else 0
                if ft == 3:
                    p = (a + b) // 2
                else:
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    p = a if pa <= pb and pa <= pc else (
                        b if pb <= pc else c)
                cur[x] = (int(line[x]) + p) & 0xFF
        out[y] = cur
        prev = cur
    return out.astype(np.uint8).reshape(h, w, 4)


def check_images(out: str, spans_t, image_ids: list[str],
                 jpeg_dir: str) -> int:
    """Each scanned-photo PDF's image span carries a PNG whose pixels are
    jpegdec.jpeg_to_rgba of the embedded JPEG payload."""
    import numpy as np

    from pdf2dom_spark.jpegdec import jpeg_to_rgba

    by = _rows_by_doc(spans_t, [i + ".pdf" for i in image_ids])
    prefix = "data:image/png;base64,"
    for did in image_ids:
        refs = [r["media_ref"] for r in by.get(did + ".pdf", [])
                if r["kind"] == "image"]
        require(len(refs) == 1 and refs[0].startswith(prefix),
                f"{out}: {did} has no PNG image span")
        png = decode_png(base64.b64decode(refs[0][len(prefix):]))
        with open(os.path.join(jpeg_dir, did + ".jpg"), "rb") as fh:
            want = jpeg_to_rgba(fh.read())
        require(png.shape == want.shape and np.array_equal(png, want),
                f"{out}: {did} PNG pixels differ from the JPEG decode")
    return len(image_ids)


def missing_are_damaged(out: str, doc_ids: set, files: list[dict]) -> int:
    """Every input file absent from the output is a damaged one."""
    missing = [f for f in files if f["doc_id"] + ".pdf" not in doc_ids]
    bad = [f["doc_id"] for f in missing if f["kind"] != "damaged"]
    require(not bad, f"{out}: undamaged docs missing from the output: "
            f"{bad[:5]}")
    return len(missing)


def sample(rng: random.Random, items: list, k: int) -> list:
    return rng.sample(items, min(k, len(items)))
