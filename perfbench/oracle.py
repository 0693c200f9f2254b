"""Correctness gates: driver-side comparisons of collected outputs against
oracles that do not share the distributed code path.

Every gate is a pure function over plain Python data, so the self-check can
feed it a deliberately corrupted copy of a real output and prove the gate
trips (``corrupt_*`` helpers below).
"""

from __future__ import annotations

import copy

SpanSeq = list[tuple[str, str, str]]  # (kind, text, media_ref) in offset order


def span_seq(spans) -> SpanSeq:
    """Offset-ordered (kind, text, media_ref) view of a span list; the
    offsets themselves must be exactly 0..n-1 or the sequence is rejected
    by returning a sentinel that can never equal an oracle sequence."""
    rows = sorted(spans, key=lambda s: s["offset"])
    if [s["offset"] for s in rows] != list(range(len(rows))):
        return [("<bad offsets>", "", "")]
    return [(s["kind"], s["text"], s["media_ref"]) for s in rows]


def compare_docs(expected: dict[str, SpanSeq], actual: dict[str, SpanSeq]) -> list[str]:
    """doc_ids whose span sequence differs, including docs present on only
    one side."""
    return sorted(d for d in expected.keys() | actual.keys() if expected.get(d) != actual.get(d))


def expected_mixed(rows: list[dict], doc_ids: list[str]) -> dict[str, SpanSeq]:
    """synth.expected_mixed_spans rows → doc_id → sequence. Docs with no
    expected rows (binary/json rejects) expect the empty sequence."""
    by_doc: dict[str, list[dict]] = {d: [] for d in doc_ids}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    return {d: span_seq(v) for d, v in by_doc.items()}


def manifest_errors(manifest: list[dict], n_docs: int, n_spans: int, n_chunks: int) -> list[str]:
    """Manifest totals must equal the committed doc/span/chunk counts, and
    each bucket must be committed exactly once."""
    errs = []
    buckets = [m["bucket"] for m in manifest]
    if len(buckets) != len(set(buckets)):
        errs.append("bucket committed twice")
    for key, want in (("n_docs", n_docs), ("n_spans", n_spans), ("n_chunks", n_chunks)):
        got = sum(int(m[key]) for m in manifest)
        if got != want:
            errs.append(f"manifest {key}={got} != committed {want}")
    return errs


def graph_errors(
    nodes: list[tuple],
    edges: list[tuple],
    ledger_anchor_kinds: list[list[str]],
    reference_labels: set[str],
) -> list[str]:
    """nodes: (node_id, ...); edges: (src, dst, label). Every edge endpoint
    exists, reference edges exist, and the ledger carries verbatim anchors."""
    errs = []
    ids = {n[0] for n in nodes}
    if not ids:
        errs.append("empty graph")
    dangling = [e for e in edges if e[0] not in ids or e[1] not in ids]
    if dangling:
        errs.append(f"{len(dangling)} dangling edges, e.g. {dangling[0]}")
    if not any(e[2] in reference_labels for e in edges):
        errs.append("no reference edges")
    if not any("verbatim" in kinds for kinds in ledger_anchor_kinds):
        errs.append("ledger has no verbatim anchors")
    return errs


def drop_one_span(docs: dict[str, SpanSeq]) -> dict[str, SpanSeq]:
    """Corrupted copy: the first non-empty document loses its last span."""
    bad = copy.copy(docs)
    victim = next(d for d in sorted(bad) if bad[d])
    bad[victim] = bad[victim][:-1]
    return bad


def self_check_spans(expected: dict[str, SpanSeq], actual: dict[str, SpanSeq]) -> bool:
    """True when dropping one span from the real output adds a mismatch."""
    return len(compare_docs(expected, drop_one_span(actual))) > len(compare_docs(expected, actual))


def self_check_manifest(manifest: list[dict], n_docs: int, n_spans: int, n_chunks: int) -> bool:
    """True when a manifest short by one span fails the totals gate."""
    if not manifest:
        return False
    bad = copy.deepcopy(manifest)
    bad[0]["n_spans"] = int(bad[0]["n_spans"]) - 1
    return bool(manifest_errors(bad, n_docs, n_spans, n_chunks))


def self_check_graph(nodes, edges, ledger_anchor_kinds, reference_labels) -> bool:
    """True when each corruption (endpoint node dropped, anchors stripped to
    'observed') fails the graph gate."""
    if not edges:
        return False
    src = edges[0][0]
    no_node = [n for n in nodes if n[0] != src]
    observed_only = [["observed"] * len(k) for k in ledger_anchor_kinds]
    return bool(graph_errors(no_node, edges, ledger_anchor_kinds, reference_labels)) and bool(
        graph_errors(nodes, edges, observed_only, reference_labels)
    )
