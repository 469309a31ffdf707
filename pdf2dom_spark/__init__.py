"""pdf2dom_spark — a PySpark-native document-extraction engine.

A from-scratch reimplementation of the computation performed by
radkovo/Pdf2Dom (reference at /root/reference): tokenize PDF-like content
streams, merge glyph runs into styled text boxes using the reference's
font-metrics / baseline-distance heuristics, classify elements as
text / image / rect / line, and emit an ordered span sequence per document
``(kind, text, media_ref, order)``.

Architecture (Spark-first, not a port):

- The input is a DataFrame of interleaved text+media documents
  ``(doc_id, spans: array<struct<kind,text,media_ref,offset>>)``.
- Extraction runs as one ``mapInArrow`` over Arrow batches; inside the UDF
  everything is columnar numpy/Arrow (no per-row Python at the Spark level).
- Skew from giant documents is defused by salted repartitioning on the raw
  ``xxhash64(doc_id)`` (``part_id = pmod(hash, P)`` stays a deterministic
  COLUMN for lineage/resume).
- Per-partition lineage + metrics rows enable idempotent checkpoint-resume.

Modules:
  schema     — Spark StructTypes shared by readers, the UDF contract, tests
  fonts      — deterministic synthetic font metrics + FontTable semantics
  fontbytes  — F2 font payloads: SFNT build/normalize, WOFF1 conversion
  tokenizer  — content-stream scanner (regex fast path + full PDF lexer tier)
  interp     — graphics/text state machine -> glyph + event frames
  textpipe   — vectorized box merging (gaps-and-islands over glyph frames)
  graphics   — path islands, rect recognition, line classification
  raster     — polygon scanline fill + stdlib PNG codec (G11, pixel paths)
  extract    — per-document driver: spans in -> ordered span rows out
  corpus     — deterministic synthetic corpora (fixtures + oracle + rich)
  pipeline   — Spark-level wiring: salting, mapInArrow, lineage, resume
  pagesplit  — giant-document page-group fan-out (skew layer 3)
  tables     — Iceberg-or-parquet table IO routing
  streaming  — the same kernel over readStream; watermarked/stateful aggs
  queries    — driver-facing queries() / oracle_sql() registry
  textops    — training-data ops: dedup (+ banded MinHash LSH), lang-id, ...
  simsearch  — embedding search (brute-force, sign-LSH, IVF, LSH near-dup)
  multimodal — binary media columns incl. real PNG decode/rot90/resize
  render_html— optional HTML sink (reference-exact CSS serialization)
"""

__version__ = "0.1.0"
