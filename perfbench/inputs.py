"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload, seed, size) and is written to
disk before any timing starts; the program under test only ever sees the
generated parquet table or PDF files. Generated inputs are cached under
``<work>/cache/<workload>-s<seed>-<size>/`` and reused when the same key
comes back.

Documents are never repeated: each job chunk, the warm-up input and every
run get their own doc ids, so per-process memos (``tokenizer._memo``) only
hit on fragments the corpus itself repeats.
"""

from __future__ import annotations

import json
import os
import random
import shutil

# The 31-word vocabulary of the repo's sf0.1 test corpus
# (documents.parquet, 5,000 docs of 10-100 words each). It is copied here so
# the benchmark reads nothing outside its checkout.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()
WORDS_MIN, WORDS_MAX = 10, 100      # sf0.1 words-per-doc range
RICH_WPP = 24                       # corpus.rich_stream words per page

# Per-workload sizes: docs per job chunk and measured chunks in the pool
# (a run's jobs take 10-25 s on a 4-core box). The warm-up input is
# one more chunk of the same shape at a quarter of the size.
SIZES = {
    "pdf_ingest": {"job_docs": 250, "chunks": 3},
    "skew_resume": {"job_docs": 400, "chunks": 3},
}
PDF_IMAGE_SHARE = 0.10     # one-page scanned-photo PDFs
PDF_DAMAGED_SHARE = 0.01   # byte-damaged text PDFs
SKEW_MONSTER_SHARE = 0.005
SKEW_BODY_PAGES = ((1, 0.70), (2, 0.20), (3, 0.07), (4, 0.03))
SKEW_MONSTER_PAGES = (100, 400)
MEMO_MAX_LEN = 256         # fragments tokenizer._memo may hold


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def _size_tag(workload: str) -> str:
    s = SIZES[workload]
    return f"{s['job_docs']}x{s['chunks']}"


def _doc_table(rows):
    """(doc_id, spans) rows -> a pyarrow table with DOC_SCHEMA's types."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from pdf2dom_spark.schema import DOC_SCHEMA

    schema = to_arrow_schema(DOC_SCHEMA)
    return pa.Table.from_pydict(
        {"doc_id": [r[0] for r in rows], "spans": [r[1] for r in rows]},
        schema=schema)


def _write_docs(path: str, rows) -> int:
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(_doc_table(rows), os.path.join(path, "part-0.parquet"))
    return sum(os.path.getsize(os.path.join(path, f))
               for f in os.listdir(path))


def doc_bytes(spans) -> int:
    """The size pagesplit routes on: summed span text lengths."""
    return sum(len(s.get("text") or "") for s in spans)


def tokenized_fragments(spans):
    """Span texts doc_tokens hands to the tokenizer, in stream order."""
    for sp in sorted(spans, key=lambda s: s["offset"]):
        if sp["kind"] in ("meta", "cmap", "widths", "fontfile", "image"):
            continue
        yield sp.get("text") or ""


def repeat_share(groups) -> float:
    """Share of tokenized fragments already seen earlier in their group
    (an iterable of docs' spans, in order) and short enough for the
    kernel's tokenizer memo: the repeats the memo can hit."""
    seen_total = hits = 0
    for group in groups:
        seen = set()
        for spans in group:
            for frag in tokenized_fragments(spans):
                seen_total += 1
                if len(frag) <= MEMO_MAX_LEN:
                    hits += frag in seen
                    seen.add(frag)
    return hits / max(seen_total, 1)


def _pages(spans) -> int:
    return sum((sp.get("text") or "").count(" PG") for sp in spans
               if sp["kind"] == "text")


def _quantile(vals, q):
    vals = sorted(vals)
    if not vals:
        return 0
    return vals[min(len(vals) - 1, int(q * len(vals)))]


# ---------------------------------------------------------------------------
# skew_resume: a DOC_SCHEMA parquet table
# ---------------------------------------------------------------------------

def _rich_rows(rng, prefix, n, words_for, plain=()):
    """``plain``: row indexes whose doc id must not make rich_stream repeat
    the text SKEW_FACTOR times (its own giant docs), so their page count
    is the one asked for."""
    from pdf2dom_spark import corpus

    rows = []
    for i in range(n):
        did = f"{prefix}-{i}"
        while i in plain and corpus._h(did) % corpus.SKEW_MOD == 0:
            did += "x"
        rows.append((did, corpus.rich_stream(did, _words(rng, words_for(i)))))
    return rows


def _gen_skew(rng, seed, out, size):
    body_p = [p for p, _w in SKEW_BODY_PAGES]
    body_w = [w for _p, w in SKEW_BODY_PAGES]
    lo, hi = SKEW_MONSTER_PAGES

    def body_words(_i):
        p = rng.choices(body_p, body_w)[0]
        return rng.randint((p - 1) * RICH_WPP + 1, p * RICH_WPP)

    def chunk(name, prefix, n):
        n_monsters = max(1, round(SKEW_MONSTER_SHARE * n))
        # stratified monster sizes: one draw per equal slice of [lo, hi],
        # so a chunk's monster pages vary little from seed to seed
        monster_pages = [lo + int((hi - lo) * (m + rng.random())
                                  / n_monsters) for m in range(n_monsters)]
        rng.shuffle(monster_pages)
        monster_at = dict(zip(rng.sample(range(n), n_monsters),
                              monster_pages))

        def words(i):
            if i in monster_at:
                return monster_at[i] * RICH_WPP
            return body_words(i)

        rows = _rich_rows(rng, prefix, n, words, plain=monster_at)
        path = os.path.join(out, name)
        sizes = [doc_bytes(sp) for _d, sp in rows]
        return {"path": path, "docs": n, "doc_ids": [d for d, _s in rows],
                "monsters": [rows[i][0] for i in sorted(monster_at)],
                "bytes": _write_docs(path, rows),
                "pages": [_pages(sp) for _d, sp in rows],
                "body_max_bytes": max(b for i, b in enumerate(sizes)
                                      if i not in monster_at),
                "monster_min_bytes": min(sizes[i] for i in monster_at)}

    man = _pool(chunk, seed, size)
    body_max = max(c.pop("body_max_bytes") for c in man["chunks"])
    monster_min = min(c.pop("monster_min_bytes") for c in man["chunks"])
    # split threshold between the body's largest doc and the smallest monster
    man.update(split_min_bytes=(body_max + monster_min) // 2,
               body_max_bytes=body_max, monster_min_bytes=monster_min)
    return man


def _pool(chunk, seed, size):
    """A warm-up chunk plus the measured chunks, all made by ``chunk``: the
    warm-up has the measured jobs' shape at a quarter of their size."""
    warm = chunk("warm", f"w{seed}", size["job_docs"] // 4)
    chunks = [chunk(f"chunk{c}", f"{seed}-{c}", size["job_docs"])
              for c in range(size["chunks"])]
    man = {"warm": warm["path"], "chunks": chunks, "pages": [], "bytes": 0}
    for c in chunks:
        man["pages"] += c.pop("pages")
        man["bytes"] += c.pop("bytes")
    return man


# ---------------------------------------------------------------------------
# pdf_ingest: directories of real PDF files
# ---------------------------------------------------------------------------

def _photo(rng, w=160, h=120):
    """A seeded photo-like RGB image: smooth gradient plus per-block noise."""
    import numpy as np

    y, x = np.mgrid[0:h, 0:w]
    base = np.stack([(x * 255 // max(w - 1, 1)), (y * 255 // max(h - 1, 1)),
                     ((x + y) * 127 // max(w + h - 2, 1))], axis=-1)
    nrs = np.random.default_rng(rng.getrandbits(32))
    noise = nrs.integers(-40, 41, size=(h // 8 + 1, w // 8 + 1, 3))
    noise = np.repeat(np.repeat(noise, 8, axis=0), 8, axis=1)[:h, :w]
    return np.clip(base + noise, 0, 255).astype(np.uint8)


def damage(rng, real: bytes, mode: int) -> bytes:
    """test_fuzz_damage's byte damage: 1 truncate, 2 flip, 3 splice."""
    if mode == 1:
        return real[:rng.randint(0, len(real))]
    if mode == 2:
        ba = bytearray(real)
        for _ in range(rng.randint(1, 40)):
            ba[rng.randrange(len(ba))] = rng.randrange(256)
        return bytes(ba)
    i, j = sorted((rng.randrange(len(real)), rng.randrange(len(real))))
    return real[:i] + real[j:]


def _gen_pdf(rng, seed, out, size):
    from pdf2dom_spark import jpegdec, pdfwrite

    payload_dir = os.path.join(out, "jpeg")   # image payloads, not ingested
    os.makedirs(payload_dir, exist_ok=True)

    def write_dir(path, prefix, n, kinds):
        os.makedirs(path, exist_ok=True)
        docs = []
        for i in range(n):
            did = f"{prefix}-{i}"
            kind = kinds[i]
            if kind == "image":
                jpg = jpegdec.encode_baseline(_photo(rng))
                data = pdfwrite.dct_image_pdf_bytes(jpg, 160, 120, ncomp=3)
                with open(os.path.join(payload_dir, did + ".jpg"), "wb") as fh:
                    fh.write(jpg)
                text = None
            else:
                text = _words(rng, rng.randint(WORDS_MIN, WORDS_MAX))
                data = pdfwrite.oracle_pdf_bytes(did, text)
                if kind == "damaged":
                    data = damage(rng, data, 1 + i % 3)
            with open(os.path.join(path, did + ".pdf"), "wb") as fh:
                fh.write(data)
            docs.append({"doc_id": did, "kind": kind, "text": text,
                         "bytes": len(data)})
        return docs

    def kinds_for(n):
        n_img = round(PDF_IMAGE_SHARE * n)
        n_dmg = max(1, round(PDF_DAMAGED_SHARE * n))
        kinds = ["image"] * n_img + ["damaged"] * n_dmg
        kinds += ["text"] * (n - len(kinds))
        rng.shuffle(kinds)
        return kinds

    def chunk(name, prefix, n):
        path = os.path.join(out, name)
        docs = write_dir(path, prefix, n, kinds_for(n))
        pages = []
        for d in docs:
            if d["kind"] == "image":
                pages.append(1)
            elif d["text"] is not None:
                nw = len(d["text"].split())
                pages.append(-(-nw // 40))   # corpus.ORACLE_WORDS_PER_PAGE
        return {"path": path, "docs": n, "files": docs,
                "doc_ids": [d["doc_id"] for d in docs],
                "bytes": sum(d["bytes"] for d in docs), "pages": pages}

    man = _pool(chunk, seed, size)
    man["jpeg_dir"] = payload_dir
    return man


GENERATORS = {"pdf_ingest": _gen_pdf, "skew_resume": _gen_skew}


def chunk_docs(workload: str, chunk: dict, image_pixels: bool = True):
    """(doc_id, spans) pairs of one chunk, as the kernel receives them."""
    if workload == "pdf_ingest":
        from pdf2dom_spark.pdfread import pdf_to_spans

        for d in chunk["files"]:
            if d["kind"] == "damaged":
                continue
            with open(os.path.join(chunk["path"], d["doc_id"] + ".pdf"),
                      "rb") as fh:
                yield d["doc_id"] + ".pdf", pdf_to_spans(
                    fh.read(), image_pixels=image_pixels)
        return
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(chunk["path"], "part-0.parquet"))
    yield from zip(t.column("doc_id").to_pylist(),
                   t.column("spans").to_pylist())


def _properties(workload, man):
    """Input properties recorded with every run."""
    pages = man["pages"]
    n_docs = sum(c["docs"] for c in man["chunks"])
    props = {
        "docs": n_docs,
        "chunks": len(man["chunks"]),
        "mb": round(man["bytes"] / 1e6, 3),
        "pages_p50": _quantile(pages, 0.5),
        "pages_p99": _quantile(pages, 0.99),
        "pages_max": max(pages) if pages else 0,
        "image_share": 0.0,
        "damaged_share": 0.0,
    }
    if workload == "pdf_ingest":
        files = [d for c in man["chunks"] for d in c["files"]]
        props["image_share"] = round(
            sum(d["kind"] == "image" for d in files) / len(files), 4)
        props["damaged_share"] = round(
            sum(d["kind"] == "damaged" for d in files) / len(files), 4)
    if workload == "skew_resume":
        monsters = {m for c in man["chunks"] for m in c["monsters"]}
        props["monsters"] = len(monsters)
        total = sum(pages)
        props["monster_page_share"] = round(
            sum(sorted(pages)[-len(monsters):]) / total, 3) if total else 0
        for k in ("split_min_bytes", "body_max_bytes", "monster_min_bytes"):
            props[k] = man[k]
    # per chunk, i.e. per job input
    props["repeat_fragment_share"] = round(repeat_share(
        [sp for _d, sp in chunk_docs(workload, c, image_pixels=False)]
        for c in man["chunks"]), 4)
    return props


def prepare(workload: str, seed: int, work: str) -> dict:
    """Generate (or reuse) the inputs of one (workload, seed, size) key."""
    key = f"{workload}-s{seed}-{_size_tag(workload)}"
    out = os.path.join(work, "cache", key)
    man_path = os.path.join(out, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as fh:
            return json.load(fh)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    # a string seed hashes deterministically (random.Random(str) uses sha512)
    rng = random.Random(f"{workload}:{seed}")
    man = GENERATORS[workload](rng, seed, out, SIZES[workload])
    man["key"] = key
    man["properties"] = _properties(workload, man)
    del man["pages"]
    with open(man_path + ".tmp", "w") as fh:
        json.dump(man, fh)
    os.replace(man_path + ".tmp", man_path)   # manifest last: cache complete
    return man
