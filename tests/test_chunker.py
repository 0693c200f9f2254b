"""Chunker unit tests (pure Python, fast) + Spark parity.

Mirrors the reference chunker test surface (SURVEY §5):
tests/unit/core/extractors/test_document_chunker.py — init, chunking, stats,
fallback hard splits; FIXTURES.md F3 edge cases.
"""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import given, settings, strategies as st

import sparkdoc.chunker as chunker_mod
from sparkdoc.chunker import (
    DEFAULT_MAX_TOKENS,
    chunk_spans,
    count_tokens,
    _char_split,
    _split_sentences_fit,
)


def span(kind, text, offset, media_ref=""):
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def test_basic_merge_peers_under_budget():
    spans = [
        span("heading", "# Intro", 0),
        span("text", "Alpha beta gamma.", 1),
        span("text", "Delta epsilon.", 2),
    ]
    chunks = chunk_spans(spans)
    assert len(chunks) == 1
    c = chunks[0]
    assert c["headings"] == ["Intro"]
    assert c["text"] == "Intro\nAlpha beta gamma.\nDelta epsilon."
    assert c["doc_item_refs"] == ["#/spans/1", "#/spans/2"]
    assert c["token_count"] == count_tokens(c["text"])
    assert c["char_length"] == len(c["text"])
    assert c["resplit_of"] is None


def test_heading_trail_stack_levels():
    spans = [
        span("heading", "# A", 0),
        span("heading", "## B", 1),
        span("text", "under b.", 2),
        span("heading", "## C", 3),
        span("text", "under c.", 4),
        span("heading", "# D", 5),
        span("text", "under d.", 6),
    ]
    chunks = chunk_spans(spans)
    assert [c["headings"] for c in chunks] == [["A", "B"], ["A", "C"], ["D"]]


def test_new_heading_flushes_chunk():
    spans = [
        span("heading", "# A", 0),
        span("text", "one.", 1),
        span("heading", "# B", 2),
        span("text", "two.", 3),
    ]
    chunks = chunk_spans(spans)
    assert len(chunks) == 2
    assert chunks[0]["headings"] == ["A"] and chunks[1]["headings"] == ["B"]


def test_budget_forces_split():
    body = " ".join(f"w{i}" for i in range(40)) + "."
    spans = [span("text", body, i) for i in range(5)]
    chunks = chunk_spans(spans, max_tokens=100)
    assert len(chunks) > 1
    for c in chunks:
        assert c["token_count"] <= 100


def test_table_atomic_even_over_budget():
    big_table = "\n".join(" | ".join(f"c{i}{j}" for j in range(30)) for i in range(30))
    spans = [span("text", "before.", 0), span("table", big_table, 1), span("text", "after.", 2)]
    chunks = chunk_spans(spans, max_tokens=50)
    table_chunks = [c for c in chunks if "c00" in c["text"]]
    assert len(table_chunks) == 1  # never split
    assert table_chunks[0]["token_count"] > 50
    assert table_chunks[0]["doc_item_refs"] == ["#/spans/1"]


def test_oversize_resplit_sentences():
    text = " ".join(f"Sentence number {i} is here." for i in range(60))
    chunks = chunk_spans([span("text", text, 0)], max_tokens=40)
    assert len(chunks) > 1
    assert chunks[0]["resplit_of"] is None
    parent = chunks[0]["chunk_id"]
    for c in chunks[1:]:
        assert c["resplit_of"] == parent
        assert c["doc_item_refs"] == ["#/spans/0"]
        assert c["token_count"] <= 40


def test_oversize_single_word_char_split():
    monster = "x" * 5000
    pieces = _char_split(monster, 10)
    assert "".join(pieces) == monster
    for p in pieces:
        assert count_tokens(p) <= 10


def test_sentence_split_respects_budget():
    text = "Aa bb cc. Dd ee ff. " + "z" * 300 + ". Gg hh."
    segs = _split_sentences_fit(text, 10)
    for s in segs:
        assert count_tokens(s) <= 10


def test_page_tracking_and_furniture_excluded():
    spans = [
        span("furniture", "HEADER", 0),
        span("text", "page one text.", 1),
        span("page_break", "", 2),
        span("furniture", "HEADER", 3),
        span("text", "page two text.", 4),
    ]
    chunks = chunk_spans(spans, max_tokens=5)
    assert len(chunks) == 2
    assert chunks[0]["page_numbers"] == [1]
    assert chunks[1]["page_numbers"] == [2]
    for c in chunks:
        assert "HEADER" not in c["text"]


def test_picture_refs_attach_to_next_chunk():
    spans = [
        span("picture", "", 0, media_ref="#/pictures/1"),
        span("text", "content here.", 1),
    ]
    chunks = chunk_spans(spans)
    assert chunks[0]["doc_item_refs"] == ["#/spans/1", "#/spans/0"]


def test_text_hash_is_blake2b8():
    chunks = chunk_spans([span("text", "hello world.", 0)])
    c = chunks[0]
    assert c["text_hash"] == hashlib.blake2b(c["text"].encode(), digest_size=8).hexdigest()


def test_batch_packing_order_preserving():
    spans = [span("text", " ".join(f"w{i}" for i in range(90)) + ".", i) for i in range(10)]
    chunks = chunk_spans(spans, max_tokens=100, max_batch_tokens=200)
    batches = [c["batch_index"] for c in chunks]
    assert batches == sorted(batches)
    from collections import defaultdict

    tot = defaultdict(int)
    for c in chunks:
        tot[c["batch_index"]] += c["token_count"]
    for b, t in tot.items():
        # a batch only exceeds the cap if a single chunk does
        assert t <= 200 or sum(1 for c in chunks if c["batch_index"] == b) == 1


def test_chunk_ids_dense():
    spans = [span("text", f"t {i}.", i) for i in range(20)]
    chunks = chunk_spans(spans, max_tokens=4)
    assert [c["chunk_id"] for c in chunks] == list(range(len(chunks)))


def test_spark_parity(spark):
    """chunk_documents == chunk_spans per doc on the synthetic corpus."""
    from sparkdoc.chunker import chunk_documents
    from sparkdoc.golden import extract_corpus_golden
    from sparkdoc.spans import extract_documents
    from sparkdoc.synth import raw_nodes_df, synth_corpus

    golden_spans = extract_corpus_golden(synth_corpus(16, 7))
    expected = {}
    for doc_id, spans in golden_spans.items():
        for c in chunk_spans(spans):
            expected[(doc_id, c["chunk_id"])] = (c["text_hash"], c["batch_index"], tuple(c["page_numbers"]))

    docs = extract_documents(raw_nodes_df(spark, 16, 7, partitions=4))
    got = {}
    for r in chunk_documents(docs).collect():
        got[(r["doc_id"], r["chunk_id"])] = (r["text_hash"], r["batch_index"], tuple(r["page_numbers"]))
    assert got == expected
    assert len(got) > 0


def test_fused_extract_and_chunk_parity(spark):
    """extract_and_chunk == chunk_documents(extract_documents(...)) exactly."""
    from sparkdoc.chunker import chunk_documents, extract_and_chunk
    from sparkdoc.spans import extract_documents
    from sparkdoc.synth import raw_nodes_df

    raw = raw_nodes_df(spark, 20, 11, partitions=4)
    two_stage = {
        (r["doc_id"], r["chunk_id"]): (r["text_hash"], r["batch_index"])
        for r in chunk_documents(extract_documents(raw)).collect()
    }
    fused = {
        (r["doc_id"], r["chunk_id"]): (r["text_hash"], r["batch_index"])
        for r in extract_and_chunk(raw).collect()
    }
    assert fused == two_stage and len(fused) > 0


def test_chunks_match_committed_fixture(spark):
    """FIXTURES.md F3 pin: chunk_documents over the seeded corpus must
    reproduce the checked-in chunk rows exactly (all metadata columns;
    partition-insensitive; regenerate deliberately on spec change)."""
    import gzip
    import json
    import os

    from sparkdoc.chunker import chunk_documents
    from sparkdoc.spans import extract_documents
    from sparkdoc.synth import raw_nodes_df

    ch = chunk_documents(extract_documents(raw_nodes_df(spark, 32, 42, partitions=4)))
    got = sorted(
        (r["doc_id"], r["chunk_id"], r["batch_index"], r["text"], r["token_count"],
         json.dumps(list(r["page_numbers"])), json.dumps(list(r["doc_item_refs"])),
         json.dumps(list(r["headings"])), r["text_hash"], r["char_length"],
         r["resplit_of"] if r["resplit_of"] is not None else -1)
        for r in ch.collect()
    )
    path = os.path.join(os.path.dirname(__file__), "fixtures", "golden_chunks_seed42_n32.json.gz")
    with gzip.open(path, "rt") as f:
        fix = json.load(f)
    assert got == [tuple(x) for x in fix]


def test_pictures_never_dropped_from_refs():
    """Pending picture refs must land in SOME chunk: before a table they ride
    the table chunk; trailing they attach to the last chunk; a picture-only
    document emits a picture-only chunk."""
    from sparkdoc.chunker import chunk_spans

    def spans(*kinds):
        return [
            {"kind": k, "text": f"t{i}" if k != "picture" else "", "media_ref": "", "offset": i}
            for i, k in enumerate(kinds)
        ]

    # picture then table: the picture ref rides the table chunk
    chunks = chunk_spans(spans("picture", "table"))
    all_refs = [r for c in chunks for r in c["doc_item_refs"]]
    assert "#/spans/0" in all_refs and "#/spans/1" in all_refs

    # trailing picture: attaches to the last chunk
    chunks = chunk_spans(spans("text", "picture"))
    assert "#/spans/1" in chunks[-1]["doc_item_refs"]

    # picture-only document: one chunk, ref present
    chunks = chunk_spans(spans("picture"))
    assert len(chunks) == 1 and chunks[0]["doc_item_refs"] == ["#/spans/0"]


def test_first_mile_heading_levels_nest_end_to_end(spark):
    """The r3-deferred coordinated change, proven end to end: an HTML doc
    with h1 > h2 > h3 structure chunks with a NESTED heading trail (the
    first miles now carry the level as a '#'*level span-text prefix; before,
    every heading arrived level-1 and the trail replaced instead of
    nesting). Reference: HybridChunker contextualizes with the full
    hierarchy (document_chunker.py:50-154)."""
    from sparkdoc.chunker import chunk_documents
    from sparkdoc.htmlparse import html_to_documents_fused

    html = (
        "<html><body>"
        "<h1>Title</h1><p>Intro paragraph text.</p>"
        "<h2>Section</h2><p>Section body text.</p>"
        "<h3>Subsection</h3><p>Deep body text.</p>"
        "<h2>Next</h2><p>Sibling section text.</p>"
        "</body></html>"
    )
    docs = spark.createDataFrame([("d1", html)], "doc_id string, html string")
    chunks = sorted(
        chunk_documents(html_to_documents_fused(docs)).collect(),
        key=lambda r: r["chunk_id"],
    )
    trails = [list(c["headings"]) for c in chunks]
    assert trails == [
        ["Title"],
        ["Title", "Section"],
        ["Title", "Section", "Subsection"],
        ["Title", "Next"],
    ]
    # enriched text leads with the full nested trail
    assert chunks[2]["text"].startswith("Title\nSection\nSubsection")


# --------------------------------------------------------------------------
# token_count is summed from the units' counts, never re-tokenized: it must
# still equal a fresh count of the emitted text on every corpus shape
# --------------------------------------------------------------------------

#: Greek sigma in every position (final-sigma lowering), combining marks,
#: dotted capital I (lowers to two code points), Unicode line/paragraph
#: separators, NBSP, ideographic and RTL text, emoji and punctuation
_HOSTILE = [
    "ΟΔΥΣΣΕΥΣ ΣΟΦΟΣ Σ",
    "ΑΣ\nΒΣ.",
    "écolé café ñö",
    "́̂ leading combining marks",
    "İstanbul İİ IJsselmeer",
    "line one line two para\u0085next",
    "non breaking　space",
    "中文文本，标点。日本語のテキスト",
    "עברית ومرحبا بالعالم",
    "emoji 🎉🎉 mixed-case ΣΊΣΥΦΟΣ.",
    "x" * 300,
    "",
    "   ",
]

_TOKENIZERS = ["vocab", "regex"]


@pytest.fixture(params=_TOKENIZERS)
def tokenizer(request, monkeypatch):
    """Run the property under the vendored WordPiece vocab and under the
    regex fallback used when the vocab is missing."""
    if request.param == "regex":
        monkeypatch.setattr(chunker_mod, "_tokenizer", lambda: None)
    else:
        assert chunker_mod._tokenizer() is not None
    return request.param


def _assert_counts_exact(spans, **kw):
    chunks = chunk_spans(spans, **kw)
    for c in chunks:
        assert c["token_count"] == count_tokens(c["text"]), c
    return chunks


def _hostile_doc(headings: bool = True):
    spans = []
    for i, t in enumerate(_HOSTILE):
        if headings and i % 4 == 0:
            spans.append(span("heading", "#" * (1 + i % 3) + " " + t, len(spans)))
        spans.append(span(["text", "list", "caption", "table"][i % 4], t, len(spans)))
        if i % 5 == 0:
            spans.append(span("picture", "", len(spans), f"#/pictures/{i}"))
    return spans


def test_token_count_exact_layout_corpus(tokenizer):
    from sparkdoc.golden import extract_corpus_golden
    from sparkdoc.synth import synth_corpus

    docs = extract_corpus_golden(synth_corpus(60, 11))
    n = 0
    for spans in docs.values():
        for max_tokens in (DEFAULT_MAX_TOKENS, 40):
            n += len(_assert_counts_exact(spans, max_tokens=max_tokens))
    assert n > 100


def test_token_count_exact_mixed_corpus(tokenizer):
    from collections import defaultdict

    from sparkdoc.synth import expected_mixed_spans

    by_doc = defaultdict(list)
    for r in expected_mixed_spans(96, 11):
        by_doc[r["doc_id"]].append(r)
    n = 0
    for spans in by_doc.values():
        for max_tokens in (DEFAULT_MAX_TOKENS, 24):
            n += len(_assert_counts_exact(spans, max_tokens=max_tokens))
    assert n > 50


def test_token_count_exact_hostile_unicode(tokenizer):
    for max_tokens in (DEFAULT_MAX_TOKENS, 16, 8):
        _assert_counts_exact(_hostile_doc(), max_tokens=max_tokens)
        _assert_counts_exact(_hostile_doc(headings=False), max_tokens=max_tokens)
    # a final sigma on either side of a trail/body join
    spans = [span("heading", "# ΑΣ", 0), span("text", "ΣΑ ΟΣ", 1), span("text", "Σ", 2)]
    _assert_counts_exact(spans)


def test_token_count_exact_resplit_pictures_serializer(tokenizer):
    # oversize spans under a heading trail: sentence, word and char splits
    long_text = " ".join(f"Sentence {i} has ΣΟΦΟΣ words." for i in range(60))
    spans = [
        span("heading", "# Trail ΟΔΟΣ", 0),
        span("text", long_text, 1),
        span("text", "tok" * 200, 2),
        span("text", "a\nb\n\nc " * 40, 3),
    ]
    chunks = _assert_counts_exact(spans, max_tokens=20)
    assert any(c["resplit_of"] is not None for c in chunks)
    # picture-only documents, with and without a heading trail
    pics = [span("picture", "", 0, "#/pictures/0"), span("picture", "", 1, "#/pictures/1")]
    for doc in (pics, [span("heading", "# Gallery Σ", 2)] + pics):
        chunks = _assert_counts_exact(doc)
        assert chunks and chunks[-1]["doc_item_refs"]
    # the serializer slot renders text the span does not carry
    def serializer(s):
        return f"[{s['kind'].upper()}] {s['text']} ΤΕΛΟΣ end"

    _assert_counts_exact(_hostile_doc(), serializer=serializer)
    _assert_counts_exact(_hostile_doc(), max_tokens=12, serializer=serializer)


_hostile_text = st.text(
    alphabet=st.sampled_from(
        list("abcXYZ019 .,!?\n\t#|") + ["Σ", "σ", "ς", "İ", "́", "̈", " ",
                                          " ", " ", "中", "ß", "ﬁ", "🎉", "_"]
    ),
    max_size=60,
)
_hostile_span = st.builds(
    dict,
    kind=st.sampled_from(["text", "list", "caption", "table", "heading", "picture", "page_break"]),
    text=_hostile_text,
    media_ref=st.just(""),
)


@pytest.mark.parametrize("tok", _TOKENIZERS)
@settings(max_examples=200, deadline=None)
@given(st.lists(_hostile_span, max_size=25), st.integers(min_value=8, max_value=80))
def test_token_count_exact_property(tok, spans, max_tokens):
    spans = [dict(s, offset=i) for i, s in enumerate(spans)]
    for s in spans:
        if s["kind"] == "heading":
            s["text"] = "#" * (1 + len(s["text"]) % 3) + " " + s["text"]
    saved = chunker_mod._tokenizer
    if tok == "regex":
        chunker_mod._tokenizer = lambda: None
    try:
        _assert_counts_exact(spans, max_tokens=max_tokens)
    finally:
        chunker_mod._tokenizer = saved
