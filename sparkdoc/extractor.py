"""Deterministic extraction shell — the dense two-phase machinery, driven by
a NodeCatalog compiled from a declarative template, with regex extractors
standing in for the LLM.

The reference's dense contract (SURVEY §2.8 / §3.2) is deterministic
orchestration AROUND model calls: batching, normalization, skeleton dedup,
coverage pass with growth caps, the per-path FILL phase, validation salvage,
quality gates. This module reproduces that machinery end-to-end:

  catalog compilation   template → NodeSpecs + projected fill schemas
                        (contracts/dense/catalog.py:114-260, 326-358)
  skeleton phase        per-path identity discovery over chunks
                        (dense/orchestrator.py:2410-2507 analog)
  normalization         id canonicalization + mislabeled-root strip
  skeleton dedup        dedup.dedup_entities (orchestrator.py:367-427)
  coverage pass         re-examine zero-yield chunks holding >= 10% of
                        tokens, second-chance patterns, 2x per-path growth
                        cap (orchestrator.py:2509-2647)
  fill phase            bottom-up path order, projected per-path schemas,
                        scoped context, one-filled-object-per-descriptor
                        (orchestrator.py:2776-2879 — see sparkdoc/fill.py)
  validation salvage    the typed fixer ladder: never raises, <=3 mutation
                        rounds (llm_backend.py:224-855 — see
                        sparkdoc/salvage.py)
  conversion driver     convert_document_graph: raw_nodes → graph + parent
                        edges (resolve ladder) + reference-field edges
                        (node-id registry resolution) + ledger + stats
                        (graph_converter.py:202-358 + pipeline/stages.py)

A real LLM backend slots in by replacing the discovery regexes and the fill
rules with inference of the same signatures (SURVEY §2.11 extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparkdoc.catalog import DEMO_TEMPLATE, NodeCatalog, build_node_catalog
from sparkdoc.session import local_frame

COVERAGE_TOKEN_SHARE = 0.10  # orchestrator.py:74-90
COVERAGE_GROWTH_CAP = 2  # per-path growth cap (missed paths exempt)


def demo_catalog() -> NodeCatalog:
    return build_node_catalog(DEMO_TEMPLATE)


def discover_entities(chunks: DataFrame, catalog: NodeCatalog, coverage: bool = False) -> DataFrame:
    """Per-path identity discovery: each NodeSpec's regex over chunk text →
    entity rows (doc_id, path, class, ids, fields, chunk_ids). Pure exprs —
    the distributed analog of one skeleton LLM call per chunk batch. In
    coverage mode, specs use their looser ``coverage_discover`` pattern
    (falling back to ``discover``); discovery-less specs are skipped."""
    import re as _re

    parts = []
    for spec in catalog.nodes:
        pat = (spec.coverage_discover or spec.discover) if coverage else spec.discover
        if not pat or not spec.id_fields:
            continue
        primary = spec.id_fields[0]
        # the documented contract is "group 1 (or 0)": patterns without a
        # capture group extract the whole match instead of crashing the scan
        group_idx = 1 if _re.compile(pat).groups >= 1 else 0
        hits = chunks.select(
            "doc_id",
            "chunk_id",
            F.explode(
                F.array_distinct(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(group_idx)))
            ).alias("value"),
        ).filter(F.col("value") != "")
        parts.append(
            hits.select(
                "doc_id",
                F.lit(spec.path).alias("path"),
                F.lit(spec.node_type).alias("class"),
                F.create_map(F.lit(primary), F.col("value")).alias("ids"),
                F.create_map().cast("map<string,string>").alias("fields"),
                F.array(F.col("chunk_id")).alias("chunk_ids"),
            )
        )
    if not parts:
        return local_frame(chunks.sparkSession, [], _entities_schema())
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _entities_schema():
    from sparkdoc.schemas import ENTITIES

    return ENTITIES


def root_entities(chunks: DataFrame, catalog: NodeCatalog) -> DataFrame:
    """One root instance per document (path "", ids from doc_id) — the
    skeleton always contains the root (orchestrator's merged_skeleton root
    handle). chunk_ids=[] → document scope; the fill context falls back to
    the global head."""
    root = catalog.spec_by_path()[""]
    primary = root.id_fields[0] if root.id_fields else "name"
    return chunks.select("doc_id").distinct().select(
        "doc_id",
        F.lit("").alias("path"),
        F.lit(root.node_type).alias("class"),
        F.create_map(F.lit(primary), F.col("doc_id")).alias("ids"),
        F.create_map().cast("map<string,string>").alias("fields"),
        F.array().cast("array<int>").alias("chunk_ids"),
    )


def skeleton_phase(chunks: DataFrame, catalog: NodeCatalog | None = None) -> DataFrame:
    """Phase 1: catalog discovery + root + normalize + cross-batch dedup."""
    from sparkdoc.dedup import dedup_entities, with_node_ids
    from sparkdoc.rootid import strip_mislabeled_root_ids

    catalog = catalog or demo_catalog()
    raw = discover_entities(chunks, catalog).unionByName(root_entities(chunks, catalog))
    normalized = strip_mislabeled_root_ids(raw)
    normalized = normalized.filter(F.size(F.map_keys("ids")) > 0)
    return dedup_entities(with_node_ids(normalized, catalog.doc_scoped_classes()))


def coverage_candidates(chunks: DataFrame, skeleton: DataFrame) -> DataFrame:
    """The coverage pass's trigger accounting, exposed for gating: per doc,
    the uncovered-chunk token sum, the document token total, and whether the
    >= 10%-share rule fires (orchestrator.py:74-90). ``token_count`` is the
    chunker's WordPiece-true count, so the threshold is measured in REAL
    tokenizer tokens — a doc whose uncovered chunk sits at exactly 10%
    triggers; one token below does not."""
    covered = skeleton.select("doc_id", F.explode("chunk_ids").alias("chunk_id")).distinct()
    doc_tokens = chunks.groupBy("doc_id").agg(F.sum("token_count").alias("_doc_tokens"))
    uncovered = (
        chunks.join(covered, ["doc_id", "chunk_id"], "left_anti")
        .join(doc_tokens, "doc_id")
    )
    return (
        uncovered.groupBy("doc_id")
        .agg(
            F.sum("token_count").alias("uncovered_tokens"),
            F.first("_doc_tokens").alias("doc_tokens"),
        )
        .withColumn(
            "triggered",
            F.col("uncovered_tokens")
            >= COVERAGE_TOKEN_SHARE * F.col("doc_tokens"),
        )
    )


def coverage_pass(chunks: DataFrame, skeleton: DataFrame, catalog: NodeCatalog | None = None) -> DataFrame:
    """Re-examine zero-yield chunks iff they hold >= 10% of the document's
    tokens; cap per-path growth at 2x pre-count (missed paths exempt)."""
    from sparkdoc.dedup import dedup_entities, with_node_ids

    catalog = catalog or demo_catalog()
    covered = skeleton.select("doc_id", F.explode("chunk_ids").alias("chunk_id")).distinct()
    doc_tokens = chunks.groupBy("doc_id").agg(F.sum("token_count").alias("_doc_tokens"))
    uncovered = (
        chunks.join(covered, ["doc_id", "chunk_id"], "left_anti")
        .join(doc_tokens, "doc_id")
    )
    share = (
        coverage_candidates(chunks, skeleton)
        .filter(F.col("triggered"))
        .select("doc_id")
    )
    second = discover_entities(
        uncovered.join(share, "doc_id", "left_semi"), catalog, coverage=True
    )
    extra = dedup_entities(with_node_ids(second, catalog.doc_scoped_classes()))
    # growth cap: at most 2x the skeleton's per-(doc,path) count; paths the
    # skeleton missed entirely are exempt (they ARE the coverage target)
    pre = skeleton.groupBy("doc_id", "path").agg(F.count("*").alias("_pre"))
    w = Window.partitionBy("doc_id", "path").orderBy("node_id")
    capped = (
        extra.join(pre, ["doc_id", "path"], "left")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_pre").isNull() | (F.col("_rn") <= COVERAGE_GROWTH_CAP * F.col("_pre")))
        .drop("_pre", "_rn")
    )
    # coverage re-discovery can re-find a skeleton entity from a different
    # chunk — keep the skeleton's copy (left_anti on node_id within doc/path)
    capped = capped.join(
        skeleton.select("doc_id", "path", "node_id"), ["doc_id", "path", "node_id"], "left_anti"
    )
    return skeleton.unionByName(capped)


def convert_document_graph(
    raw_nodes: DataFrame,
    template: dict | None = None,
    fill_cap: int = 8,
    extensions=None,
) -> dict[str, DataFrame]:
    """The full pipeline driver (reference pipeline/orchestrator.py:62-77 +
    graph_converter.py:202-358 analog): raw interleaved nodes → spans →
    chunks → skeleton + coverage + FILL → salvage ladder → graph with
    catalog-driven parent edges (resolve ladder) and reference-field edges
    (node-id registry resolution) + provenance ledger + coverage stats."""
    from sparkdoc.chunker import chunk_documents
    from sparkdoc.dedup import apply_alias_merges, co_occurrence_veto, containment_alias_groups
    from sparkdoc.fill import fill_phase
    from sparkdoc.graph import clean_edges, entities_to_nodes
    from sparkdoc.provenance import build_ledger, coverage_stats
    from sparkdoc.salvage import salvage_entities
    from sparkdoc.spans import extract_documents

    catalog = build_node_catalog(template or DEMO_TEMPLATE)
    # Cut lineage at the fan-out points (localCheckpoint, not just persist):
    # chunks/entities/nodes are each REFERENCED by several downstream plans,
    # and every reference re-embeds the full upstream logical plan (the
    # extract→chunk→fill→salvage mapInPandas chains). Self-joins and the
    # 6-rung resolve ladder then blow Catalyst analysis up exponentially —
    # measured: minutes-to-hang without the cut, seconds with it. persist()
    # caches data but does NOT truncate the logical plan.
    docs = extract_documents(raw_nodes)
    chunks = chunk_documents(
        docs, serializer=(extensions.chunk_serializer if extensions else None)
    ).localCheckpoint()
    skeleton = skeleton_phase(chunks, catalog).persist()
    full = coverage_pass(chunks, skeleton, catalog)
    filled = fill_phase(chunks, full, catalog, fill_cap=fill_cap, extensions=extensions)
    # root-only identity repair (echo clear + stem fallback) runs on the
    # salvage output BEFORE the valid filter — reference order (rescue
    # precedes validation, strategies/many_to_one.py:28 via
    # utils/root_identity.py); salvage marks empty-id roots invalid, so
    # repairing after the filter would make the stem fallback dead code.
    from sparkdoc.rootid import rescue_invalid_roots

    validated = rescue_invalid_roots(
        salvage_entities(filled, catalog, extensions=extensions), catalog
    ).localCheckpoint()
    good = validated.filter(F.col("valid") == 1).drop("valid", "errors", "salvage_passes")
    nodes = entities_to_nodes(good.drop("fill_batch")).persist()
    edges = build_catalog_edges(nodes, good, catalog)
    pairs = co_occurrence_veto(containment_alias_groups(nodes, name_col="label"), nodes)
    if extensions is not None and extensions.alias_confirm is not None:
        # the alias_llm_fn slot: containment proposals are candidates only;
        # a registered confirm callable has the final word per pair
        from sparkdoc.extension import confirm_alias_pairs

        pairs = confirm_alias_pairs(pairs, extensions.alias_confirm)
    pairs = pairs.select("base_id", "superset_id")
    nodes2, edges2, alias_audit = apply_alias_merges(
        nodes, edges, pairs, edge_keys=("doc_id", "src", "dst", "label")
    )
    nodes2 = nodes2.persist()
    # lazy checkpoint: the post-alias edge plan embeds the 6-rung resolve
    # ladder and is traversed by the closed-catalog pass, the cardinality
    # in-degree, the final clean, and the write — cut it once, on first use
    edges2 = edges2.localCheckpoint(eager=False)
    # edges stay doc-attributed ("doc_id" column) until the output boundary:
    # the cardinality pass below demotes per (doc_id, node_id) row, and an
    # edge minted in a document whose endpoint was demoted THERE must vanish
    # even when the same node_id survives in another document (the reference
    # converts one doc per graph, so its demotion is implicitly per-doc)
    _doc_keys = ("doc_id", "src", "dst", "label")
    edges_clean = clean_edges(nodes2, edges2, keys=_doc_keys)
    # template-declared closed catalogs (graph_converter.py:311-314): drop
    # reference edges whose target exists only through marked edges
    if any(s.closed_catalog_fields for s in catalog.nodes):
        from sparkdoc.merge import enforce_closed_catalogs

        nodes2, edges_clean = enforce_closed_catalogs(nodes2, edges_clean)
    # template-declared graph_max_instances bounds (graph_converter.py:91-120):
    # rank best-first and demote past the bound, then re-clean edges so
    # demoted endpoints disappear (no-op for bound-less templates)
    demoted = None
    if any(s.max_instances for s in catalog.nodes):
        from sparkdoc.dedup import enforce_cardinality_bounds

        bounds = {s.node_type: s.max_instances for s in catalog.nodes if s.max_instances}
        id_map = {s.node_type: list(s.id_fields) for s in catalog.nodes if s.id_fields}
        root_cls = catalog.spec_by_path()[""].node_type
        nodes2, demoted = enforce_cardinality_bounds(
            nodes2, bounds, edges=edges_clean, root_classes=(root_cls,),
            id_fields_map=id_map, scope_cols=("doc_id",),
        )
        nodes2 = nodes2.persist()
        from sparkdoc.dedup import drop_demoted_doc_edges

        edges_clean = clean_edges(
            nodes2, drop_demoted_doc_edges(edges_clean, demoted), keys=_doc_keys
        )
    # lazy checkpoint: the ledger feeds BOTH the ledger artifact and
    # coverage_stats — without the cut the coverage action re-runs the whole
    # binder ladder; lazy (eager=False) so callers that never touch the
    # ledger/coverage outputs pay nothing
    ledger = build_ledger(good.drop("fill_batch"), chunks).localCheckpoint(eager=False)
    out = {
        "documents": docs,
        "chunks": chunks,
        "entities": good,
        "invalid_entities": validated.filter(F.col("valid") == 0),
        "nodes": nodes2,
        # collapse doc attribution at the boundary: exported edge identity is
        # (src, dst, label), matching the reference's merged-graph artifact
        "edges": edges_clean.drop("doc_id").dropDuplicates(["src", "dst", "label"]),
        "alias_audit": alias_audit,
        "ledger": ledger,
        "coverage": coverage_stats(chunks, ledger),
    }
    if demoted is not None:
        out["cardinality_demoted"] = demoted
    return out


def one_to_one_extract(spans: DataFrame, template: dict | None = None, fill_cap: int = 8) -> DataFrame:
    """One-to-one (per-page) strategy (strategies/one_to_one.py:27-219):
    one extracted model per PAGE instead of per document. Each page's
    markdown becomes a single-chunk pseudo-document; the same catalog
    skeleton + fill + salvage machinery runs over it, and results carry
    (doc_id, page_no) back out. No coverage pass — the page IS the context,
    exactly as the reference's page-level extraction sees everything at once.

    The per-page pseudo-document key is ``base64(doc_id) + ":" + page_no`` —
    INJECTIVE for any doc_id byte content (the base64 alphabet cannot
    contain ':'), unlike the previous ``\\x1f`` packing which silently
    corrupted grouping for doc_ids containing the sentinel. The encoding is
    confined to this function: callers see real (doc_id, page_no) columns,
    and a property test drives control characters (incl. ``\\x1f`` and ':')
    through the roundtrip.

    spans: exploded span rows (doc_id, kind, text, media_ref, offset).
    """
    from sparkdoc.fill import fill_phase
    from sparkdoc.salvage import salvage_entities
    from sparkdoc.serialize import page_markdowns
    from sparkdoc.textops import token_count

    catalog = build_node_catalog(template or DEMO_TEMPLATE)
    pages = page_markdowns(spans)
    pseudo = F.concat_ws(
        ":", F.base64(F.col("doc_id").cast("binary")), F.col("page_no").cast("string")
    )
    chunks = pages.select(
        pseudo.alias("doc_id"),
        F.lit(0).alias("chunk_id"),
        F.col("markdown").alias("text"),
        token_count(F.col("markdown")).alias("token_count"),
    ).localCheckpoint()
    sk = skeleton_phase(chunks, catalog)
    filled = fill_phase(chunks, sk, catalog, fill_cap=fill_cap)
    good = salvage_entities(filled, catalog).filter(F.col("valid") == 1).drop(
        "valid", "errors", "salvage_passes"
    )
    from sparkdoc.dedup import node_id_expr

    # base64 has no ':', so the LAST ':' always separates the page suffix
    enc = F.substring_index(F.col("doc_id"), ":", 1)
    page = F.substring_index(F.col("doc_id"), ":", -1).cast("int")
    real_doc = F.unbase64(enc).cast("string")
    # the pseudo doc_id leaks into the ROOT's primary id (root_entities keys
    # the root on doc_id) — restore the real doc_id there and recompute the
    # registry node_id so exported identities carry no encoding artifacts
    from sparkdoc.salvage import MAX_ID_LEN

    # salvage truncates over-long id values at MAX_ID_LEN, so a very long
    # doc_id's pseudo key may appear truncated in ids — compare against the
    # same truncation instead of exact equality (substring returns the whole
    # string when shorter, covering the untruncated case too)
    pseudo_here = F.substring(F.col("doc_id"), 1, MAX_ID_LEN)
    clean_ids = F.map_from_entries(
        F.transform(
            F.map_entries("ids"),
            lambda e: F.struct(
                e["key"].alias("key"),
                F.when(e["value"] == pseudo_here, real_doc).otherwise(e["value"]).alias("value"),
            ),
        )
    )
    out = (
        good.withColumn("ids", clean_ids)
        .withColumn("page_no", page)
        .withColumn("doc_id", real_doc)
    )
    # recompute the registry id mirroring with_node_ids' doc-scoping: the
    # pipeline hashed doc-scoped classes with __doc__ = the pseudo key (the
    # page IS the run here), so the rekey must keep that scope — hashing
    # bare ids would collapse e.g. every page's "Row 1" into one node_id
    ids_for_hash = F.col("ids")
    scoped_classes = catalog.doc_scoped_classes()
    if scoped_classes:
        run_key = F.concat_ws(":", F.col("doc_id"), F.col("page_no").cast("string"))
        ids_for_hash = F.when(
            F.col("class").isin(list(scoped_classes)),
            F.map_concat(F.col("ids"), F.create_map(F.lit("__doc__"), run_key)),
        ).otherwise(F.col("ids"))
    return out.withColumn("node_id", node_id_expr(F.col("class"), ids_for_hash))


def build_catalog_edges(nodes: DataFrame, entities: DataFrame, catalog: NodeCatalog) -> DataFrame:
    """Doc-attributed graph edges (doc_id, src, dst, label, props) from the
    catalog — doc_id is the MINTING document, kept so per-document passes
    (cardinality demotion) can remove exactly that document's edges; the
    pipeline drops it at the output boundary. Edge derivation:

    * parent edges — for every spec with a parent path, children resolve
      their parent through the 7-rung ladder (resolve.resolve_parents); edge
      src=parent, dst=child, label = explicit edge_label metadata else the
      template field name (the reference's edge_label walk,
      graph_converter.py:690-818; component subtrees are attributed to the
      nearest entity ancestor by the catalog walk itself — a spec's
      parent_path passes through component levels unchanged).
    * reference edges — a filled reference field resolves to the TARGET's
      deterministic node id (the registry guarantee: same class + ids ⇒ same
      id), so the edge is computed without any join against discovery output;
      clean_edges later drops edges whose target was never instantiated.
    """
    from sparkdoc.dedup import node_id_expr
    from sparkdoc.resolve import resolve_parents

    by_path = catalog.spec_by_path()
    edge_parts: list[DataFrame] = []

    base = nodes.select(
        "node_id", "doc_id", "label", "chunk_ids",
        F.coalesce(F.array_min("chunk_ids"), F.lit(0)).alias("emission"),
    )
    # path attribution must be per (doc_id, node_id): the registry id is
    # GLOBAL (same class+ids ⇒ same id), so one node_id can sit at different
    # catalog paths in different documents (a Party who is seller in doc A
    # and buyer in doc B) — deduping by node_id alone bleeds one doc's path
    # onto the other's rows and mislabels its parent edge
    ent_path = entities.select("doc_id", "node_id", "path").dropDuplicates(
        ["doc_id", "node_id"]
    )
    # localCheckpoint truncates the logical plan here: the resolve ladder
    # references its inputs across 6 rungs, and each reference re-embeds the
    # full upstream plan (extract→chunk→fill→salvage mapInPandas chains) —
    # measured to explode Catalyst analysis beyond minutes; with the cut it
    # plans in seconds. The node table is already materialized-size anyway.
    base = base.join(ent_path, ["doc_id", "node_id"]).localCheckpoint()

    for spec in catalog.nodes:
        if not spec.path or spec.kind != "entity":
            continue
        parents = base.filter(F.col("path") == spec.parent_path).select(
            "doc_id", "node_id", "path", "label", "chunk_ids", "emission"
        )
        children = base.filter(F.col("path") == spec.path).select(
            "doc_id",
            F.col("node_id").alias("child_id"),
            F.lit(spec.parent_path).alias("parent_path"),
            F.col("label").alias("parent_key"),
            "chunk_ids",
            "emission",
        )
        resolved = resolve_parents(children, parents)
        edge_parts.append(
            resolved.filter(F.col("parent_id").isNotNull()).select(
                F.col("doc_id"),
                F.col("parent_id").alias("src"),
                F.col("child_id").alias("dst"),
                F.lit(spec.edge_label or spec.field_name or "has").alias("label"),
                F.map_from_arrays(
                    F.array(F.lit("resolved_by")), F.array(F.col("resolved_by"))
                ).alias("props"),
            )
        )

    # reference-field edges via registry-deterministic target ids
    for spec in catalog.nodes:
        ref_classes = dict(getattr(spec, "reference_classes", ()) or ())
        ref_labels = dict(getattr(spec, "reference_labels", ()) or ())
        for fname, id_fields in spec.reference_fields:
            if not id_fields:
                continue
            # the spec's explicit target class wins — matching by id-field
            # SHAPE misresolves once two classes share id names (Party and
            # CatalogItem both keyed on "name" → edges to never-instantiated
            # phantom ids that clean_edges silently drops)
            target_class = ref_classes.get(fname) or _reference_target_class(
                catalog, id_fields
            )
            if not target_class:
                continue
            target_spec = next(
                (n for n in catalog.nodes if n.node_type == target_class), None
            )
            target_ids = F.create_map(
                F.lit(id_fields[0]), F.element_at(F.col("fields"), fname)
            )
            if target_spec is not None and target_spec.doc_scoped:
                # doc-scoped targets mix doc_id into the fingerprint — mirror
                # with_node_ids so the derived edge lands on the real node
                target_ids = F.map_concat(
                    target_ids, F.create_map(F.lit("__doc__"), F.col("doc_id"))
                )
            # closed-catalog reference fields stamp the transient marker the
            # enforcement pass keys on (graph_converter.py:842-852)
            props = (
                F.create_map(F.lit("_closed_catalog"), F.lit(fname))
                if fname in spec.closed_catalog_fields
                else F.lit(None).cast("map<string,string>")
            )
            refs = entities.filter(
                (F.col("path") == spec.path)
                & F.element_at(F.col("fields"), fname).isNotNull()
            ).select(
                F.col("doc_id"),
                F.col("node_id").alias("src"),
                node_id_expr(F.lit(target_class), target_ids).alias("dst"),
                F.lit(ref_labels.get(fname) or fname).alias("label"),
                props.alias("props"),
            )
            edge_parts.append(refs)

    if not edge_parts:
        return local_frame(
            nodes.sparkSession,
            [],
            "doc_id string, src string, dst string, label string, props map<string,string>",
        )
    out = edge_parts[0]
    for p in edge_parts[1:]:
        out = out.unionByName(p)
    return out


def _reference_target_class(catalog: NodeCatalog, id_fields: tuple[str, ...]) -> str:
    for n in catalog.nodes:
        if n.id_fields == id_fields and n.path:
            return n.node_type
    return ""
