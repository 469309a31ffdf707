"""Batched-kernel == single-document invariant.

The finalize (extract.finalize_docs) and the text-box chunker
(textpipe.boxes_from_glyphs_batched) run once per Arrow batch over ALL
documents; correctness rests on every lagged comparison carrying a
same-document guard. These tests pin: for ANY multi-document batch,
``docs_to_arrow_spans`` (the core of the production mapInArrow kernel,
``make_extract_arrow``) over the batch equals the concatenation of
per-document ``extract_doc`` results — including the boundary cases a
batched implementation can get wrong (diacritic pending at a document
boundary, equal page numbers across a boundary, equal emission keys,
empty / whitespace-only / glyphless documents).
"""

from __future__ import annotations

import numpy as np
import pytest

from pdf2dom_spark import corpus
from pdf2dom_spark.corpus import fixture_docs
from pdf2dom_spark.extract import (ExtractConfig, docs_to_arrow_spans,
                                   extract_doc)

FX = fixture_docs()


def _single_rows(doc_ids, spans_by_doc, cfg):
    rows = []
    for did in doc_ids:
        rows.extend(extract_doc(did, spans_by_doc[did], cfg))
    return rows


def _batch_rows(doc_ids, spans_by_doc, cfg):
    batch = docs_to_arrow_spans(doc_ids, [spans_by_doc[d] for d in doc_ids],
                                [0] * len(doc_ids), cfg)
    return [{k: v for k, v in row.items() if k != "part_id"}
            for row in batch.to_pylist()]


def _assert_batch_equals_single(doc_ids, spans_by_doc, cfg=None):
    cfg = cfg or ExtractConfig()
    single = _single_rows(doc_ids, spans_by_doc, cfg)
    batch = _batch_rows(doc_ids, spans_by_doc, cfg)
    assert len(single) == len(batch)
    for s, b in zip(single, batch):
        s = {k: v for k, v in s.items() if k != "part_id"}
        for k, sv in s.items():
            bv = b[k]
            if isinstance(sv, float) and bv is not None:
                # the engine's output contract is float32 (SPAN_FLAT
                # schema); extract_doc exposes the pre-cast float64, so
                # compare at the contract precision — still exact, just
                # at the width the pipeline actually emits
                assert np.float32(sv) == np.float32(bv), (k, sv, bv)
            else:
                assert sv == bv, (k, sv, bv)


def test_all_fixtures_in_one_batch():
    doc_ids = sorted(FX)
    _assert_batch_equals_single(doc_ids, FX)


def test_fixture_pairs_cross_boundary():
    """Adjacent pairs: every fixture becomes a doc-boundary predecessor."""
    doc_ids = sorted(FX)
    for a, b in zip(doc_ids, doc_ids[1:]):
        _assert_batch_equals_single([a, b], FX)


def test_diacritic_at_document_end_does_not_merge_across():
    """A pending diacritic as a document's LAST glyph must not merge into
    the next document's first glyph even when the geometry 'contains' it."""
    # doc A: base glyph then a combining acute at the same x-range
    a = corpus.oracle_stream("a", "Ab")
    # append a show placing a combining mark last (its center overlaps
    # whatever comes first in doc B if the guard is missing)
    frag = "BT /F1 10 Tf 1 0 0 1 72 700 Tm (x́) Tj ET"
    a = a + [corpus.text_span(frag, 10_000)]
    b = corpus.oracle_stream("b", "Zq")
    _assert_batch_equals_single(["a", "b"], {"a": a, "b": b})


def test_same_page_number_across_boundary():
    """Both docs have a page 1: the emission-key 'same page' test must not
    treat doc B's first box as 'next box on the same page' of doc A."""
    spans = {"a": corpus.oracle_stream("a", "hello world"),
             "b": corpus.oracle_stream("b", "other text")}
    _assert_batch_equals_single(["a", "b"], spans)


def test_empty_and_whitespace_docs_interleaved():
    spans = {
        "a": corpus.oracle_stream("a", "first doc"),
        "empty": [],
        "ws": [corpus.text_span("BT /F1 10 Tf 1 0 0 1 72 700 Tm (   ) Tj ET",
                                0)],
        "b": corpus.oracle_stream("b", "last doc"),
    }
    _assert_batch_equals_single(["a", "empty", "ws", "b"], spans)


def test_multipage_docs_batch():
    spans = {d: corpus.rot_text_stream(d, t) for d, t in
             [("p1", "alpha beta gamma"), ("p2", "delta epsilon"),
              ("p3", "zeta eta theta iota")]}
    _assert_batch_equals_single(["p1", "p2", "p3"], spans)


def test_random_stream_batches_match_singles():
    """Hypothesis-driven: random content-stream documents (the same
    strategy as test_properties) batched in groups of 2-5 must equal
    their per-document extractions."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from test_properties import _doc

    @settings(max_examples=25, deadline=None)
    @given(st.lists(_doc(), min_size=2, max_size=5))
    def check(docs):
        spans = {f"r{i}": d for i, d in enumerate(docs)}
        _assert_batch_equals_single(sorted(spans), spans)

    check()


@pytest.mark.parametrize("mode", ["oracle", "rich", "rich_lite", "rot_text",
                                  "forms", "enc"])
def test_corpus_modes_batch_of_20(mode):
    fn = corpus.stream_fn(mode)
    texts = [
        "the quick brown fox", "lorem ipsum dolor sit amet",
        "שלום everyone", "short", "", "x",
        "a b c d e f g h i j k l m n o p q r s t",
        "café naïve résumé",
    ] * 3
    spans = {f"{mode}_{i}": fn(f"{mode}_{i}", t)
             for i, t in enumerate(texts[:20])}
    _assert_batch_equals_single(sorted(spans), spans)
