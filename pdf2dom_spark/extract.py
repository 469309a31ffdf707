"""Per-document extraction + the mapInArrow batch kernel.

``extract_doc_columnar`` mirrors the reference lifecycle
(``PDFDomTree.writeText``/``createDOM`` -> per-page processing -> endDocument,
PDFDomTree.java:180-217, PDFBoxTree.java:200-210): splice spans to tokens,
interpret, chunk text boxes, convert layout events, then materialize DOM
append order as the ``order`` column (appendChild order = content-stream
order, PDFDomTree.java:222-258). Assembly is columnar end-to-end: the only
Python-level loops are per *document* and per *layout event* (tens per doc);
all glyph/box work is numpy. The merge/sort/gather finalize is BATCHED
across the whole Arrow batch (``extract_doc_parts`` + ``finalize_docs``):
one global stable lexsort by (doc, emission key) replaces per-document
argsorts and double concatenation (+31% single-core on the oracle corpus).

``make_extract_arrow`` builds the Spark-facing generator for
``DataFrame.mapInArrow(make_extract_arrow(cfg), SPAN_FLAT_SCHEMA)``: every
extraction path (pipeline, streaming, page-split, the query gates) runs the
same ``extract_doc_parts`` -> ``finalize_docs`` core, and all but one gate
build their output with ``parts_to_arrow``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from . import graphics, memtune, textpipe
from .interp import (DocInterp, _concat_glyphs_many, doc_cid2_fonts,
                     doc_cmaps, doc_tokens, doc_vmetrics, doc_widths)
from .schema import STYLE_FIELDS


@dataclass
class ExtractConfig:
    """PDFDomTreeConfig analog (reference defaults: embed-as-base64 for both
    handlers, PDFDomTreeConfig.java:32-38; page range open,
    PDFBoxTree.java:188-197)."""
    start_page: int = 0
    end_page: int = 2**31 - 1
    disable_graphics: bool = False
    disable_images: bool = False
    disable_image_data: bool = False
    image_handler: str = "embed"   # embed | dir | ignore
    font_handler: str = "embed"    # embed | dir | ignore
    # G11 filled-path raster: True embeds a real PNG data URI (PathDrawer
    # transposition, pure numpy+zlib); False keeps the deterministic
    # content-hash ref the cross-engine oracles rely on
    raster_paths: bool = False
    # F2 font bytes: True converts the synthetic font payload (SFNT build /
    # normalize / WOFF1 for CFF — fontbytes.py) and embeds it as a data URI;
    # False keeps the stable "font:<name>" ref
    font_payloads: bool = False


DEFAULT_CONFIG = ExtractConfig()

_FLOAT_STYLE = {"font_size", "word_spacing", "letter_spacing", "line_height",
                "left", "top", "width", "height", "angle", "stroke_width"}
_STYLE_COLS = [f"style_{f}" for f in STYLE_FIELDS]
_REC_COLS = ["key", "page_no", "kind", "text", "media_ref", *_STYLE_COLS]
_NUM_REC_COLS = {"page_no"} | {f"style_{f}" for f in _FLOAT_STYLE}
# records are fixed-order tuples (graphics.REC_FIELDS == _REC_COLS)
_REC_IDX = {c: i for i, c in enumerate(_REC_COLS)}
assert graphics.REC_FIELDS == _REC_COLS


def extract_doc_parts(doc_id: str, spans: list[dict],
                      cfg: ExtractConfig = DEFAULT_CONFIG,
                      page_offset: int = 0,
                      font_seed: list[str] | None = None,
                      emit_fonts: bool = True) -> tuple[list, dict]:
    """One document -> pre-finalize parts: (event record tuples, box arrays).

    The expensive per-document work (tokenize, interpret, chunk) happens
    here; the cheap-but-allocation-heavy merge/sort/gather is deferred to
    ``finalize_docs`` so it can run ONCE per Arrow batch instead of once
    per document (cross-document batched finalize).

    ``page_offset``/``font_seed``/``emit_fonts`` serve the page-split path
    (pagesplit.py): a page-group numbers its pages from the offset, seeds the
    font table with earlier groups' fonts, and only the last group emits the
    document's font spans."""
    tokens = doc_tokens(spans)
    interp = DocInterp(
        start_page=cfg.start_page, end_page=cfg.end_page,
        disable_graphics=cfg.disable_graphics,
        disable_images=cfg.disable_images,
        collect_fonts=cfg.font_handler != "ignore",  # PDFDomTree.java:456-462
        page_offset=page_offset, font_seed=font_seed,
        raster_paths=cfg.raster_paths,
        cmaps=doc_cmaps(spans),
        cid2_fonts=doc_cid2_fonts(spans),
        widths=doc_widths(spans),
        vmetrics=doc_vmetrics(spans),
    )
    glyph_chunks, events, font_table, end_key, page_flush = interp.run(
        tokens, concat=False)

    records: list[dict] = []
    namer = graphics.ImageNamer()
    # Save-to-dir filename base: bitmap images are named by the DOCUMENT
    # TITLE (ImageResource(getTitle(), ...), PDFBoxTree.java:554,952-958 —
    # null/empty falls back to "PDF Document"), never by the XObject
    # resource name. Path images share the same handler instance under the
    # fixed name "PathImage" (PathDrawer.java:71, PDFDomTree.java:399-433),
    # so both kinds de-dup through ONE namer in append order.
    img_name_base = "PDF Document"
    for sp in spans:
        if sp.get("kind") == "meta" and sp.get("media_ref") == "title":
            if sp.get("text"):
                img_name_base = sp["text"]
            break
    for ev in events:
        kind = ev[0]
        if kind == "page":
            records.append(graphics.page_record(ev))
        elif kind == "rect":
            records.append(graphics.rect_record(ev))
        elif kind == "line":
            records.append(graphics.line_record(ev))
        elif kind == "image":
            media_ref = ev[7]
            if cfg.disable_image_data or cfg.image_handler == "ignore":
                # empty src (PDFDomTree.java:435-438, IgnoreResourceHandler)
                out_ref = ""
            elif cfg.image_handler == "dir":
                # reference resourcePath = name + '.' + fileEnding
                # (SaveResourceToDirHandler.java:50-51; images are PNG)
                out_ref = namer.next_name(img_name_base) + ".png"
            else:
                out_ref = media_ref
            records.append(graphics.image_record(ev, out_ref))
        elif kind == "pathimg":
            if cfg.disable_image_data or cfg.image_handler == "ignore":
                out_ref = ""
            elif cfg.image_handler == "dir":
                out_ref = namer.next_name("PathImage") + ".png"
            else:
                out_ref = ev[7]
            records.append(graphics.image_record(ev, out_ref))

    # endDocument: @font-face per valid table entry (PDFDomTree.java:464-492),
    # skipped entirely under the ignore handler (PDFDomTree.java:456-462)
    if cfg.font_handler != "ignore" and emit_fonts:
        if cfg.font_payloads or cfg.font_handler == "dir":
            import base64
            from .fontbytes import convert_entry, convert_program

            # REAL embedded programs (kind='fontfile' spans from the PDF
            # reader) take precedence over the synthetic name-keyed model:
            # the @font-face payload is then the document's own converted
            # binary (FontTable.Entry.getData on actual FontFile bytes)
            real_progs: dict[str, tuple[str, bytes]] = {}
            for sp in spans:
                if sp.get("kind") != "fontfile":
                    continue
                nm = (sp.get("media_ref") or "")
                nm = nm[9:] if nm.startswith("fontfile:") else nm
                kindp, _, b64 = (sp.get("text") or "").partition(";")
                if nm not in real_progs and b64:
                    real_progs[nm] = (kindp, base64.b64decode(b64))

            def payload(name: str) -> tuple[bytes, str, str]:
                hit = real_progs.get(name)
                if hit is not None:
                    return convert_program(hit[0], hit[1], name)
                return convert_entry(name)
        # fonts go through their OWN handler instance (setFontHandler), so
        # their de-dup namespace is separate from the image namer's
        # (SaveResourceToDirHandler.writtenFileNames is per-instance)
        font_namer = graphics.ImageNamer()
        for i, entry in enumerate(font_table.entries):
            if cfg.font_handler == "dir":
                # SaveResourceToDirHandler: url points at <name>.<ending>
                # in the extract dir (TestFonts.java save-to-dir asserts);
                # the base is the RAW font name (FontTable.Entry passes
                # fontName to super — FontTable.java:131-134), de-duped
                # like any other saved resource
                data, mime, ending = payload(entry["name"])
                if not data:
                    continue
                ref = f"{font_namer.next_name(entry['name'])}.{ending}"
            elif cfg.font_payloads:
                data, mime, _ending = payload(entry["name"])
                if not data:
                    continue  # isEntryValid false -> dropped
                ref = (f"data:{mime};base64,"
                       + base64.b64encode(data).decode("ascii"))
            else:
                ref = "font:" + entry["name"]
            records.append(graphics.make_rec(
                end_key + 1 + i, "font", text=entry["used_name"],
                media_ref=ref))

    # document-info title (endDocument, PDFDomTree.java:165-174): a 'meta'
    # span models PDDocumentInformation; surfaced as a trailing record only
    # when non-blank (the reference keeps the default title otherwise)
    if emit_fonts:
        for sp in spans:
            if sp.get("kind") == "meta" and sp.get("media_ref") == "title":
                t = (sp.get("text") or "").strip()
                if t:
                    records.append(graphics.make_rec(
                        end_key + 1 + len(font_table.entries) + 1, "meta",
                        text=sp.get("text"), media_ref="title"))
                break

    return records, glyph_chunks, page_flush


def finalize_docs(parts: list[tuple[list, dict, dict]],
                  columns: set[str] | None = None
                  ) -> tuple[dict, np.ndarray]:
    """Batched finalize: chunk every document's glyphs into text boxes
    (one batched gaps-and-islands pass, textpipe.boxes_from_glyphs_batched)
    and merge them with the event records into GLOBAL doc-major span
    columns in DOM append order.

    Per-document DOM order is the stable sort of [events..., boxes...] by
    emission key (appendChild order = content-stream order,
    PDFDomTree.java:222-258). The batched equivalent arranges ALL events
    (doc-major) before ALL boxes (doc-major) and stable-lexsorts by
    (doc, key): within one document, events keep record order, boxes keep
    box order, and at equal keys events precede boxes — exactly the
    per-document ``argsort(kind='stable')`` result, computed in one
    numpy pass for the whole Arrow batch.

    Returns (columns dict incl. ``order``, per-doc span counts)."""
    ndocs = len(parts)
    ne = np.fromiter((len(r) for r, _g, _f in parts), np.int64, ndocs)
    frame, gdoc = _concat_glyphs_many([g for _r, g, _f in parts])
    boxes, box_doc = textpipe.boxes_core(
        frame, gdoc, [f for _r, _g, f in parts])
    n_ev = int(ne.sum())
    n_bx = len(box_doc)
    nb = np.bincount(box_doc, minlength=ndocs) if n_bx \
        else np.zeros(ndocs, dtype=np.int64)
    counts = ne + nb
    total = n_ev + n_bx

    all_recs = [r for recs, _g, _f in parts for r in recs]
    # fixed-order record tuples -> one C-level transpose (no per-field loop)
    rec_cols = list(zip(*all_recs)) if all_recs else [()] * len(_REC_COLS)

    doc_idx = np.concatenate((
        np.repeat(np.arange(ndocs, dtype=np.int64), ne), box_doc))
    ev_keys = np.array(rec_cols[0], dtype=np.int64) if all_recs \
        else np.empty(0, dtype=np.int64)
    bx_keys = np.asarray(boxes["key"], dtype=np.int64)
    keys = np.concatenate((ev_keys, bx_keys))
    # stable: primary doc_idx, secondary key, ties by combined position
    perm = np.lexsort((keys, doc_idx))

    out: dict[str, np.ndarray] = {}
    for c in _REC_COLS:
        if c == "key" or (columns is not None and c not in columns):
            continue  # pruned output column: skip the concat+gather too
        j = _REC_IDX[c]
        colv = rec_cols[j]
        if c in _NUM_REC_COLS:
            # numpy maps None -> nan in the object->float64 cast
            ev_arr = np.array(colv, dtype=np.float64)
            bx_arr = np.asarray(boxes[c], dtype=np.float64)
        else:
            ev_arr = np.array(colv, dtype=object) if colv \
                else np.empty(0, dtype=object)
            bx_arr = np.asarray(boxes[c], dtype=object)
        out[c] = np.concatenate((ev_arr, bx_arr))[perm]

    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    out["order"] = (np.arange(total, dtype=np.int64)
                    - np.repeat(starts, counts)).astype(np.int32)
    return out, counts


def extract_doc_columnar(doc_id: str, spans: list[dict],
                         cfg: ExtractConfig = DEFAULT_CONFIG,
                         page_offset: int = 0,
                         font_seed: list[str] | None = None,
                         emit_fonts: bool = True) -> dict:
    """One document -> columnar span arrays (with dense ``order``).

    Single-document wrapper over ``extract_doc_parts`` + ``finalize_docs``
    so the one-doc and batched paths cannot diverge."""
    parts = extract_doc_parts(doc_id, spans, cfg, page_offset=page_offset,
                              font_seed=font_seed, emit_fonts=emit_fonts)
    out, _counts = finalize_docs([parts])
    return out


def extract_doc(doc_id: str, spans: list[dict],
                cfg: ExtractConfig = DEFAULT_CONFIG) -> list[dict]:
    """Test-facing wrapper: ordered span records as a list of dicts."""
    cols = extract_doc_columnar(doc_id, spans, cfg)
    n = len(cols["order"])
    rows = []
    for i in range(n):
        row = {"doc_id": doc_id, "part_id": None}
        for c, arr in cols.items():
            v = arr[i]
            if isinstance(v, (np.floating, np.integer)):
                v = v.item()
            if isinstance(v, float) and np.isnan(v):
                v = None
            row[c] = v
        rows.append(row)
    return rows


def docs_to_arrow_spans(doc_ids, spans_col, parts, cfg: ExtractConfig):
    """Columnar core of the mapInArrow kernel: python lists in -> one
    pyarrow RecordBatch out (no pandas frame on the way)."""
    memtune.tune_malloc()  # once per worker: see memtune.py

    parts_list = [extract_doc_parts(str(doc_id), spans, cfg)
                  for doc_id, spans in zip(doc_ids, spans_col)]
    return parts_to_arrow(parts_list, doc_ids, parts)


def parts_to_arrow(parts_list: list, doc_ids, parts,
                   extra: list[tuple] | None = None,
                   columns: list[str] | None = None):
    """Per-document parts -> ONE pyarrow RecordBatch with the SPAN_FLAT
    schema (plus ``extra`` trailing columns: (name, pa.type, per-doc
    values) repeated by span count). ``parts=None`` emits a null part_id
    column — the contract of the fused synthesize-inside-the-query
    kernels, which carry no partition id.

    ``columns`` restricts the OUTPUT to a subset of the flat schema (in
    schema order): column pruning cannot cross an opaque Python map, so a
    query that projects 6 of the 22 flat columns would otherwise pay
    Arrow build + IPC + JVM deserialization for all 22 (guide §4.2). The
    kernel still computes everything (finalize is shared); only the
    per-column array builds and the boundary bytes are skipped."""
    import pyarrow as pa

    memtune.tune_malloc()  # once per worker: see memtune.py
    want = None if columns is None else set(columns)
    cols, counts = (finalize_docs(parts_list, columns=want)
                    if parts_list else ({}, None))

    n = len(cols["order"]) if parts_list else 0
    schema = _arrow_schema()
    if want is not None:
        schema = pa.schema([f for f in schema if f.name in want])
    if extra:
        schema = pa.schema(
            list(schema) + [pa.field(name, typ) for name, typ, _v in extra])
    if n == 0:
        return pa.RecordBatch.from_arrays(
            [pa.array([], type=f.type) for f in schema], schema=schema)

    arrays = {}
    if want is None or "doc_id" in want:
        did = np.repeat(np.array([str(d) for d in doc_ids], dtype=object),
                        counts)
        arrays["doc_id"] = pa.array(did, type=pa.string())
    if want is None or "order" in want:
        arrays["order"] = pa.array(cols["order"], type=pa.int32())
    if want is None or "part_id" in want:
        if parts is None:
            arrays["part_id"] = pa.nulls(n, pa.int32())
        else:
            arrays["part_id"] = pa.array(
                np.repeat(np.asarray(parts, dtype=np.int64), counts),
                type=pa.int32())
    for c in _REC_COLS:
        if c == "key" or (want is not None and c not in want):
            continue
        merged = cols[c]
        if c in _NUM_REC_COLS:
            if c == "page_no":
                arrays[c] = pa.array(merged, type=pa.int32(), from_pandas=True)
            else:
                arrays[c] = pa.array(merged.astype(np.float32),
                                     type=pa.float32(), from_pandas=True)
        else:
            arrays[c] = pa.array(merged, type=pa.string(), from_pandas=True)
    for name, typ, vals in (extra or []):
        arrays[name] = pa.array(
            np.repeat(np.asarray(vals), counts), type=typ)
    return pa.RecordBatch.from_arrays(
        [arrays[f.name] for f in schema], schema=schema)


def _arrow_schema():
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from .schema import SPAN_FLAT_SCHEMA

    return to_arrow_schema(SPAN_FLAT_SCHEMA)


def make_extract_arrow(cfg: ExtractConfig = DEFAULT_CONFIG):
    """mapInArrow kernel: pyarrow batches in/out, flat schema."""

    def extract_arrow(batches):
        import pyarrow as pa  # noqa: F401
        try:
            from pyspark import TaskContext
            tc = TaskContext.get()
            pid = tc.partitionId() if tc is not None else -1
        except Exception:  # pragma: no cover
            pid = -1
        for b in batches:
            names = b.schema.names
            doc_ids = b.column(names.index("doc_id")).to_pylist()
            spans_col = b.column(names.index("spans")).to_pylist()
            if "part_id" in names:
                parts = b.column(names.index("part_id")).to_pylist()
            else:
                parts = [pid] * len(doc_ids)
            yield docs_to_arrow_spans(doc_ids, spans_col, parts, cfg)

    return extract_arrow
