"""Structure-preserving chunking with token budgets and a re-split cascade.

Semantics modeled on the reference's HybridChunker usage
(core/extractors/document_chunker.py:50-154,201-334) and ChunkRecord metadata
(core/extractors/document_processor.py:375-458):

  * heading-trail contextualization: every chunk's enriched text is prefixed
    with the active heading trail; heading level = count of leading '#'.
    EVERY first mile carries the level: html/md/docx/adoc/pdf/pptx/dljson
    heading spans arrive as ``'#'*level + ' ' + title`` (the engine-wide
    convention — clean.heading_text_py, applied in classify_raw_nodes and
    each fused kernel; the r3-deferred coordinated change, closed in r4 with
    all pinned oracles regenerated in lockstep), so trails NEST across
    levels exactly like the reference HybridChunker's hierarchy
    contextualization (document_chunker.py:50-154).
  * merge peers: consecutive content spans under an unchanged trail are
    greedily merged while enriched size stays <= max_tokens
  * tables are atomic: never split across chunks, emitted whole even if over
    budget (document_chunker.py — tables/lists unsplit)
  * oversize re-split cascade: sentence-boundary split → greedy word packing
    → binary char split (document_chunker.py:201-334); sub-chunks after the
    first carry resplit_of = first sub-chunk's id and inherit pages/headings
  * metadata per chunk: pages, doc_item_refs (#/spans/<offset>), headings,
    token_count, blake2b-8 text_hash, char_length, batch_index (greedy
    order-preserving bin packing <= max_batch_tokens,
    dense/orchestrator.py:241-264)
  * furniture and page_break spans are excluded from chunk text; page_break
    advances the page counter; pictures contribute refs, not text

The whole thing is a pure per-document Python function wrapped in
mapInPandas — documents arrive one row per doc, so chunking adds NO shuffle.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator

from pyspark.sql import DataFrame

from sparkdoc.schemas import CHUNKS

DEFAULT_MAX_TOKENS = 512
DEFAULT_MAX_BATCH_TOKENS = 3072

#: word/punct pre-splitter (shared with the WordPiece tokenizer)
TOKEN_RE = re.compile(r"\w+|[^\w\s]", re.UNICODE)
#: sentence-boundary split (reference document_chunker.py:201-240)
SENTENCE_RE = re.compile(r"(?<=[.!?])\s+|\n\n|\n")
_HASH_PREFIX_RE = re.compile(r"^#+\s*")

CONTENT_KINDS = {"text", "list", "caption", "table"}


def count_tokens(text: str) -> int:
    """Tokenizer-TRUE token count: greedy WordPiece over the committed vocab
    (sparkdoc/data/, hash recorded in FIXTURES.md) — the reference budgets
    chunks on a real subword tokenizer (document_chunker.py:50-154,
    ``chunk_max_tokens``), so a regex word count drifts its boundaries.
    Falls back to the regex count only if the vendored vocab is missing
    (e.g. a stripped deployment zip)."""
    tok = _tokenizer()
    if tok is None:
        return len(TOKEN_RE.findall(text))
    return tok.count(text)


_TOK = None
_TOK_FAILED = False


def _tokenizer():
    global _TOK, _TOK_FAILED
    if _TOK is None and not _TOK_FAILED:
        try:
            from sparkdoc.wordpiece import default_tokenizer

            _TOK = default_tokenizer()
        except Exception:
            _TOK_FAILED = True
    return _TOK


def text_hash8(text: str) -> str:
    return hashlib.blake2b(text.encode("utf-8"), digest_size=8).hexdigest()


def heading_level(text: str) -> int:
    m = re.match(r"^(#+)", text)
    return len(m.group(1)) if m else 1


def strip_heading(text: str) -> str:
    return _HASH_PREFIX_RE.sub("", text).strip()


def _split_sentences_fit(text: str, budget: int) -> list[str]:
    """Sentence split → greedy pack → word pack → binary char split."""
    sentences = [s for s in SENTENCE_RE.split(text) if s and s.strip()]
    # carry each piece's count alongside it — tokenizing once for the fit
    # check and AGAIN in the greedy pack doubled the hot-loop tokenizer work
    pieces: list[tuple[str, int]] = []
    for s in sentences:
        t = count_tokens(s)
        if t <= budget:
            pieces.append((s, t))
        else:
            pieces.extend((w, count_tokens(w)) for w in _split_words_fit(s, budget))
    # greedy pack pieces into segments <= budget
    segments: list[str] = []
    cur: list[str] = []
    cur_tok = 0
    for p, t in pieces:
        if cur and cur_tok + t > budget:
            segments.append(" ".join(cur))
            cur, cur_tok = [], 0
        cur.append(p)
        cur_tok += t
    if cur:
        segments.append(" ".join(cur))
    return segments


def _split_words_fit(text: str, budget: int) -> list[str]:
    words = text.split()
    out: list[str] = []
    cur: list[str] = []
    cur_tok = 0
    for w in words:
        t = count_tokens(w)
        if t > budget:  # monster token: binary char split
            if cur:
                out.append(" ".join(cur))
                cur, cur_tok = [], 0
            out.extend(_char_split(w, budget))
            continue
        if cur and cur_tok + t > budget:
            out.append(" ".join(cur))
            cur, cur_tok = [], 0
        cur.append(w)
        cur_tok += t
    if cur:
        out.append(" ".join(cur))
    return out


def _char_split(word: str, budget: int) -> list[str]:
    """Binary-search the largest prefix fitting the budget; repeat
    (reference document_chunker.py:301-334)."""
    out = []
    rest = word
    while rest:
        if count_tokens(rest) <= budget:
            out.append(rest)
            break
        lo, hi = 1, len(rest)
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if count_tokens(rest[:mid]) <= budget:
                lo = mid
            else:
                hi = mid - 1
        out.append(rest[:lo])
        rest = rest[lo:]
    return out


def chunk_spans(
    spans: list[dict],
    max_tokens: int = DEFAULT_MAX_TOKENS,
    max_batch_tokens: int = DEFAULT_MAX_BATCH_TOKENS,
    serializer=None,
) -> list[dict]:
    """Ordered spans of ONE document → chunk dicts (CHUNKS schema minus doc_id).

    ``serializer`` is the user serializer_provider slot (reference
    document_chunker.py:64,113-120 / SURVEY §2.11): fn(span dict) → str,
    overriding how a content span renders to chunk text (e.g. a custom table
    serialization); None keeps the span text verbatim."""
    chunks: list[dict] = []
    trail: list[tuple[int, str]] = []  # (level, stripped heading)
    page = 1
    acc: list[dict] = []  # pending content units {text, tokens, ref, page}
    acc_refs: list[tuple[str, int]] = []  # picture refs pending (ref, page)
    acc_tok = 0  # running token total of acc (flush resets)

    def trail_texts() -> list[str]:
        return [h for _, h in trail]

    # trail memo keyed on a VERSION COUNTER bumped only in the heading
    # branch — the r4 shape rebuilt a key tuple of the whole trail on every
    # content span (O(spans × trail) tuple construction in the hot loop;
    # the nested-trail carry made trails deeper and surfaced it as the
    # ~11% chunk-kernel uptick the r4 verdict flagged)
    _trail_tok: dict = {"ver": -1, "val": 0}
    _trail_ver = [0]

    def trail_tokens() -> int:
        if not trail:
            return 0
        if _trail_tok["ver"] != _trail_ver[0]:
            _trail_tok["ver"] = _trail_ver[0]
            _trail_tok["val"] = count_tokens("\n".join(trail_texts()))
        return _trail_tok["val"]

    def emit(units: list[dict], extra_refs: list[tuple[str, int]], resplit_of=None):
        heads = trail_texts()
        body = "\n".join(u["text"] for u in units)
        enriched = ("\n".join(heads) + "\n" + body) if heads else body
        pages = sorted({u["page"] for u in units} | {p for _, p in extra_refs})
        refs = [u["ref"] for u in units] + [r for r, _ in extra_refs]
        chunks.append(
            {
                "chunk_id": len(chunks),
                "text": enriched,
                # exact without re-tokenizing: the pre-split regex never
                # crosses the "\n" joins (and str.lower's final-sigma rule
                # stops at them), so counts add up across the parts
                "token_count": trail_tokens() + sum(u["tokens"] for u in units),
                "page_numbers": pages,
                "doc_item_refs": refs,
                "headings": heads,
                "text_hash": text_hash8(enriched),
                "char_length": len(enriched),
                "resplit_of": resplit_of,
            }
        )

    def flush():
        nonlocal acc, acc_refs, acc_tok
        if acc:
            emit(acc, acc_refs)
            acc, acc_refs, acc_tok = [], [], 0

    for s in sorted(spans, key=lambda x: x["offset"]):
        kind = s["kind"]
        if kind == "page_break":
            page += 1
            continue
        if kind == "furniture":
            continue
        if kind == "picture":
            acc_refs.append((f"#/spans/{s['offset']}", page))
            continue
        if kind == "heading":
            flush()
            lvl = heading_level(s["text"])
            while trail and trail[-1][0] >= lvl:
                trail.pop()
            trail.append((lvl, strip_heading(s["text"])))
            _trail_ver[0] += 1
            continue
        if kind not in CONTENT_KINDS:
            continue
        rendered = s["text"]
        if serializer is not None:
            try:
                rendered = serializer(s) or s["text"]
            except Exception:
                rendered = s["text"]  # the slot must never break chunking
        tokens = count_tokens(rendered)
        unit = {"text": rendered, "tokens": tokens, "ref": f"#/spans/{s['offset']}", "page": page}
        budget = max_tokens - trail_tokens()
        if kind == "table":
            # atomic: flush, emit whole even if over budget. Pending picture
            # refs (acc empty, so flush() was a no-op) ride along — dropping
            # them would lose the picture from every chunk's doc_item_refs
            flush()
            emit([unit], acc_refs)
            acc_refs = []
            continue
        if tokens > budget:
            # oversize single span: re-split cascade; sub-chunks inherit
            # trail/pages; subsequent ones point at the first via resplit_of.
            # Floor of 8 keeps splitting feasible under a monster trail.
            flush()
            segs = _split_sentences_fit(rendered, max(budget, 8))
            parent_id = len(chunks)
            for j, seg in enumerate(segs):
                emit(
                    [{"text": seg, "tokens": count_tokens(seg), "ref": unit["ref"], "page": page}],
                    [],
                    resplit_of=None if j == 0 else parent_id,
                )
            continue
        # running total — a per-span re-sum over acc is quadratic in
        # spans-per-chunk inside the per-document hot loop
        if acc and acc_tok + tokens > budget:
            flush()
        acc.append(unit)
        acc_tok += tokens
    flush()
    if acc_refs:
        # trailing pictures (no content span after them): attach to the last
        # chunk, or emit a picture-only chunk for a picture-only document —
        # every span ref must be reachable from some chunk
        if chunks:
            last = chunks[-1]
            last["doc_item_refs"] = last["doc_item_refs"] + [r for r, _ in acc_refs]
            last["page_numbers"] = sorted(
                set(last["page_numbers"]) | {p for _, p in acc_refs}
            )
        else:
            emit([], acc_refs)
        acc_refs = []

    # greedy order-preserving batch packing (dense/orchestrator.py:241-264)
    batch, bt = 0, 0
    for c in chunks:
        t = c["token_count"]
        if bt > 0 and bt + t > max_batch_tokens:
            batch += 1
            bt = 0
        c["batch_index"] = batch
        bt += t
    return chunks


def chunk_documents(
    documents: DataFrame,
    max_tokens: int = DEFAULT_MAX_TOKENS,
    max_batch_tokens: int = DEFAULT_MAX_BATCH_TOKENS,
    serializer=None,
) -> DataFrame:
    """documents(doc_id, spans) → chunks table. No shuffle (mapInPandas)."""
    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                for c in chunk_spans(list(spans), max_tokens, max_batch_tokens, serializer):
                    c["doc_id"] = doc_id
                    rows.append(c)
            if rows:
                yield pd.DataFrame(rows)[[f.name for f in CHUNKS.fields]]

    return documents.mapInPandas(gen, schema=CHUNKS)


def extract_and_chunk(raw_nodes, max_tokens: int = DEFAULT_MAX_TOKENS, max_batch_tokens: int = DEFAULT_MAX_BATCH_TOKENS, serializer=None):
    """Fused raw_nodes → chunks: one shuffle, ONE python stage.

    Identical semantics to chunk_documents(extract_documents(raw)) — pinned
    by a parity test — but assembles spans and chunks in the same
    mapInPandas pass, halving Arrow JVM↔Python hops. This is the production
    job shape for chunk-only consumers; keep the two-stage path when the
    spans table itself is a required output. ``serializer`` is the same
    extension slot chunk_documents takes (extensions.chunk_serializer) —
    without the pass-through the fused path silently rendered tables
    verbatim while claiming parity with the two-stage path.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from sparkdoc.clean import classify_raw_nodes
    from sparkdoc.layout import normalize_bbox
    from sparkdoc.spans import _assemble_doc

    def _chunk_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["doc_id"].to_numpy()
        kind = pdf["kind"].to_numpy()
        text = pdf["text"].to_numpy()
        media = pdf["media_ref"].to_numpy()
        page = pdf["page_no"].to_numpy()
        bbox = pdf["bbox"].to_numpy()
        change = np.flatnonzero(ids[1:] != ids[:-1]) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(ids)]))
        rows: list[dict] = []
        for s, e in zip(starts, ends):
            spans = _assemble_doc(kind[s:e], text[s:e], media[s:e], page[s:e], bbox[s:e])
            for c in chunk_spans(spans, max_tokens, max_batch_tokens, serializer):
                c["doc_id"] = ids[s]
                rows.append(c)
        cols = [f.name for f in CHUNKS.fields]
        return pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(columns=cols)

    def _stream(batches):
        pending = None
        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
            if not len(pdf):
                continue
            ids = pdf["doc_id"].to_numpy()
            first_of_last = int((ids == ids[-1]).argmax())
            work = pdf.iloc[:first_of_last]
            pending = pdf.iloc[first_of_last:]
            if len(work):
                yield _chunk_batch(work)
        if pending is not None and len(pending):
            yield _chunk_batch(pending)

    df = classify_raw_nodes(raw_nodes)
    df = df.withColumn(
        "bbox", normalize_bbox(F.col("bbox"), F.col("coord_origin"), F.col("page_height"))
    )
    sel = df.select("doc_id", "node_id", "kind", "text", "media_ref", "page_no", "bbox")
    part = sel.repartition("doc_id").sortWithinPartitions("doc_id", "node_id")
    return part.mapInPandas(_stream, schema=CHUNKS)
