"""Entity identity, dedup, alias containment, cardinality bounds.

Relational re-expression of the reference's dict-based dedup machinery:
  skeleton cross-batch dedup   dense/orchestrator.py:367-427
  node id registry             node_id_registry.py:58-157
  content-hash node dedup      graph_cleaner.py:273-412
  containment alias proposal   alias_reconciler.py:59-84
  sibling co-occurrence veto   dense/orchestrator.py:542-569
  cardinality bounds (top-k)   graph_converter.py:91-120,360-429

Everything here is joins/groupBys/windows — Catalyst territory. The only
Python is the vectorized blake2b/normalizer pandas UDFs from identity.py.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from sparkdoc.identity import (
    canonicalize_identity,
    content_hash,
    digit_signature_udf,
    node_id as _node_id,
)
from sparkdoc.session import local_frame


from functools import lru_cache


def _node_id_from_json():
    # single source of truth for the identity-critical UDF — a local copy
    # here could silently drift from the registry-parity implementation
    from sparkdoc.identity import node_id_udf

    return node_id_udf()


def node_id_expr(node_class, ids_map):
    """Column expression: deterministic registry node id from a class column
    and an ids map column (Class_<16hex>). The registry guarantee — same
    class + canonical ids ⇒ same id — is what lets reference-field edges be
    computed WITHOUT joining against discovery output."""
    from pyspark.sql import functions as F

    return _node_id_from_json()(node_class, F.to_json(ids_map))


@lru_cache(maxsize=None)
def _content_hash_from_json():
    @pandas_udf("string")
    def _udf(attrs_json: pd.Series) -> pd.Series:
        return attrs_json.map(lambda j: content_hash(json.loads(j)) if j else content_hash({}))

    return _udf


@lru_cache(maxsize=None)
def _canon_name():
    @pandas_udf("string")
    def _udf(values: pd.Series) -> pd.Series:
        return values.map(lambda v: canonicalize_identity(v or ""))

    return _udf


def with_node_ids(entities: DataFrame, doc_scoped_classes: tuple[str, ...] = ()) -> DataFrame:
    """Add deterministic node_id = Class_blake2b16(canonical ids + class).

    Cross-class fingerprint collisions are impossible by construction (class
    is mixed into the hash — node_id_registry.py:120-157's collision check is
    therefore a no-op here, kept as an assertion helper below).

    ``doc_scoped_classes``: classes whose declared identity is only unique
    WITHIN a document (an invoice's billing-row number) get the doc_id mixed
    into the fingerprint — the reference's registry is per-document-run, so
    global registry ids silently collapse such entities across documents
    (doc A's "Row 1" and doc B's "Row 1" become one node). Globally
    meaningful identities (codes, emails) stay unscoped: cross-document
    dedup of those is the engine's feature.
    """
    ids_for_hash = F.col("ids")
    if doc_scoped_classes:
        scoped = F.col("class").isin(list(doc_scoped_classes))
        ids_for_hash = F.when(
            scoped,
            F.map_concat(
                F.col("ids"), F.create_map(F.lit("__doc__"), F.col("doc_id"))
            ),
        ).otherwise(F.col("ids"))
    return entities.withColumn(
        "node_id", _node_id_from_json()(F.col("class"), F.to_json(ids_for_hash))
    )


def assert_no_cross_class_collisions(nodes: DataFrame) -> int:
    """node_id_registry.py:120-157 analog: same fingerprint, two classes."""
    fp = F.substring_index(F.col("node_id"), "_", -1)
    bad = (
        nodes.groupBy(fp.alias("fp"))
        .agg(F.countDistinct("class").alias("n_classes"))
        .filter(F.col("n_classes") > 1)
        .count()
    )
    return int(bad)


def dedup_entities(entities_with_ids: DataFrame) -> DataFrame:
    """Skeleton cross-batch dedup (orchestrator.py:367-427): group by
    (doc_id, path, node_id); keep the first emission's fields (ordered by
    earliest chunk), union chunk sets."""
    first_key = F.struct(
        F.coalesce(F.array_min("chunk_ids"), F.lit(2**31 - 1)).alias("first_chunk"),
        F.col("ids").cast("string").alias("tie"),
    )
    df = entities_with_ids.withColumn("_order", first_key)
    return (
        df.groupBy("doc_id", "path", "class", "node_id")
        .agg(
            F.min_by("ids", F.col("_order")).alias("ids"),
            F.min_by("fields", F.col("_order")).alias("fields"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("chunk_ids")))).alias(
                "chunk_ids"
            ),
        )
    )


def content_hash_dedup(nodes: DataFrame, edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """graph_cleaner.py:273-412: group nodes by content hash of non-meta
    attrs; canonical survivor = min(node_id); redirect edges to survivors."""
    # meaningless attr sets (empty / all-'Unknown' placeholders) must not
    # group: two unrelated placeholder-only nodes are not duplicates — they
    # keep their own node_id as the hash (identity.content_hash's documented
    # caller contract)
    meaningful = (
        F.size(
            F.filter(
                F.map_values("attrs"),
                lambda v: v.isNotNull() & (v != "") & (v != "Unknown"),
            )
        )
        > 0
    )
    hashed = nodes.withColumn(
        "_chash",
        F.when(meaningful, _content_hash_from_json()(F.to_json(F.col("attrs")))).otherwise(
            F.col("node_id")
        ),
    )
    # class-scoped when the table carries classes: identical attrs on a
    # Person and an Organization are NOT one node (cross-class collapse would
    # break the registry invariant assert_no_cross_class_collisions asserts)
    scope = ["node_class", "_chash"] if "node_class" in nodes.columns else ["_chash"]
    w = Window.partitionBy(*scope)
    canon = hashed.withColumn("_canon", F.min("node_id").over(w))
    # the nodes table legitimately carries one row per (doc_id, path) for a
    # node_id, and those rows can hash into DIFFERENT groups — a node_id is
    # a redirect source only when NONE of its rows is its own canonical;
    # otherwise it could be survivor and redirect source at once (its edges
    # move away while it keeps existing, orphaned). The groupBy also
    # guarantees ONE deterministic target per source (duplicate mapping
    # rows would multiply edges through the join below).
    gone = (
        canon.groupBy("node_id")
        .agg(F.max((F.col("node_id") == F.col("_canon")).cast("int")).alias("_s"))
        .filter(F.col("_s") == 0)
        .select("node_id")
    )
    mapping = (
        canon.join(gone, "node_id")
        .select(F.col("node_id").alias("_from"), F.col("_canon").alias("_to"))
        .groupBy("_from")
        .agg(F.min("_to").alias("_to"))
    )
    survivors = hashed.join(gone, "node_id", "left_anti").drop("_chash")
    # redirect both endpoints via broadcast-able mapping (dup sets are small)
    e = (
        edges.join(F.broadcast(mapping).withColumnRenamed("_from", "src_from"), edges.src == F.col("src_from"), "left")
        .withColumn("src", F.coalesce(F.col("_to"), F.col("src")))
        .drop("src_from", "_to")
        .join(F.broadcast(mapping).withColumnRenamed("_from", "dst_from"), F.col("dst") == F.col("dst_from"), "left")
        .withColumn("dst", F.coalesce(F.col("_to"), F.col("dst")))
        .drop("dst_from", "_to")
    )
    # like the reference (graph_cleaner.py:406,411) and apply_alias_merges:
    # redirection can collapse an edge onto itself or onto a duplicate —
    # drop self-loops and dedupe on (src, dst, label)
    e = e.filter(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst", "label"])
    return survivors, e


def containment_alias_groups(
    nodes: DataFrame,
    name_col: str = "label",
    min_base_len: int = 4,
    scope_cols: tuple[str, ...] = ("node_class",),
) -> DataFrame:
    """alias_reconciler.py:59-84: propose (base ⊂ superset) merge pairs.

    Guards: equal digit signatures; base canonical length >= min_base_len;
    base != superset; UNIQUE base per superset (ambiguous supersets vetoed)
    AND unique superset per base (ambiguous bases vetoed — "ACME" contained
    in both "ACME Corp" and "ACME Holdings" proposes nothing; without the
    symmetric veto, apply_alias_merges would fan the base's edges and
    attributes into EVERY superset, duplicating edges and merging wrong).

    KNOWN PARITY DIVERGENCE vs alias_reconciler.containment_groups:59-84:
    the reference applies only the first veto and CONSOLIDATES multiple
    supersets per base into one keep-the-base merge group ("widget" keeps;
    "blue widget"/"premium widget" both fold in). This repo merges in the
    opposite direction (base → superset: the longer name is the richer
    survivor by construction), which makes a multi-superset base genuinely
    ambiguous, hence the second veto and deliberate under-merge on that
    shape. The reference's actual multi-superset behavior is also not a
    clean consolidation: each (keep, merge_j) pair is LLM-confirmed and
    survivor-picked by attribute richness at merge time, and when the base
    loses the first richness contest the remaining supersets are SKIPPED
    (reconcile_graph_aliases: `node_a in removed → continue`) — an
    LLM-gated, order-contingent path that is out of scope by the north
    rule. Recorded in COVERAGE.md; pinned by
    test_ambiguous_base_proposes_nothing and (reference side)
    test_containment_groups_consolidate_multiple_supersets_per_base.
    Scoped per class (and any extra scope cols) — the self-join keys on the
    scope so Catalyst shuffles once per side; the containment predicate runs
    post-join JVM-side (`contains`).
    """
    canon = nodes.withColumn("_canon", _canon_name()(F.col(name_col))).withColumn(
        "_sig", digit_signature_udf()(F.col(name_col))
    )
    base = canon.select(
        *scope_cols,
        F.col("node_id").alias("base_id"),
        F.col("_canon").alias("base_canon"),
        F.col("_sig").alias("base_sig"),
        F.col(name_col).alias("base_label"),
    ).filter(F.length("base_canon") >= min_base_len)
    sup = canon.select(
        *[F.col(c).alias(f"_s_{c}") for c in scope_cols],
        F.col("node_id").alias("superset_id"),
        F.col("_canon").alias("superset_canon"),
        F.col("_sig").alias("superset_sig"),
        F.col(name_col).alias("superset_label"),
    )
    cond = (
        (base["base_canon"] != sup["superset_canon"])
        & sup["superset_canon"].contains(base["base_canon"])
        & (base["base_sig"] == sup["superset_sig"])
    )
    for c in scope_cols:
        cond = cond & (base[c] == sup[f"_s_{c}"])
    pairs = base.join(sup, cond, "inner").select(
        *scope_cols, "base_id", "base_canon", "base_label",
        "superset_id", "superset_canon", "superset_label",
    )
    # one row per (base, superset): the nodes table may carry one row per
    # (doc_id, path, node_id), and duplicate pair rows would inflate the
    # uniqueness count below — silently vetoing every alias whose node
    # appears in 2+ documents
    pairs = (
        pairs.groupBy("base_id", "superset_id")
        .agg(
            *[
                F.min(c).alias(c)
                for c in (*scope_cols, "base_canon", "base_label", "superset_canon", "superset_label")
            ]
        )
        .select(
            *scope_cols, "base_id", "base_canon", "base_label",
            "superset_id", "superset_canon", "superset_label",
        )
    )
    uniq_sup = Window.partitionBy("superset_id")
    uniq_base = Window.partitionBy("base_id")
    return (
        pairs.withColumn("_n", F.count("*").over(uniq_sup))
        .withColumn("_nb", F.count("*").over(uniq_base))
        .filter((F.col("_n") == 1) & (F.col("_nb") == 1))
        .drop("_n", "_nb")
    )


def co_occurrence_veto(pairs: DataFrame, nodes: DataFrame) -> DataFrame:
    """dense/orchestrator.py:542-569: drop merge pairs whose two nodes
    co-occur in the same chunk (they are siblings, not aliases). Requires
    nodes to carry a chunk_ids array.

    chunk ids are PER-DOCUMENT ordinals (chunker.py), so when the nodes
    table carries doc_id the overlap test runs within each document — doc
    A's chunk 0 and doc B's chunk 0 are different chunks, and comparing them
    globally both vetoed never-co-occurring pairs and multiplied join rows
    per (doc, path) node occurrence. Without a doc_id column the global
    overlap fallback applies (single-document inputs)."""
    if "doc_id" in nodes.columns:
        ch = nodes.select("doc_id", "node_id", "chunk_ids")
        b = ch.withColumnRenamed("node_id", "base_id").withColumnRenamed("chunk_ids", "_bc")
        s = ch.withColumnRenamed("node_id", "superset_id").withColumnRenamed("chunk_ids", "_sc")
        vetoed = (
            pairs.join(b, "base_id")
            .join(s, ["superset_id", "doc_id"])
            .filter(F.arrays_overlap(F.col("_bc"), F.col("_sc")))
            .select("base_id", "superset_id")
            .distinct()
        )
        return pairs.join(vetoed, ["base_id", "superset_id"], "left_anti")
    ch = nodes.select("node_id", "chunk_ids")
    joined = (
        pairs.join(ch.withColumnRenamed("node_id", "base_id").withColumnRenamed("chunk_ids", "_base_chunks"), "base_id")
        .join(ch.withColumnRenamed("node_id", "superset_id").withColumnRenamed("chunk_ids", "_sup_chunks"), "superset_id")
    )
    return joined.filter(
        # coalesce: a NULL chunk array makes arrays_overlap NULL and ~NULL
        # drops the pair — the doc_id branch KEEPS such pairs (no evidence
        # of co-occurrence), so the global fallback must too
        ~F.coalesce(
            F.arrays_overlap(F.col("_base_chunks"), F.col("_sup_chunks")),
            F.lit(False),
        )
    ).drop("_base_chunks", "_sup_chunks")


def enforce_cardinality_bounds(
    nodes: DataFrame,
    bounds: dict[str, int],
    class_col: str = "node_class",
    edges: DataFrame | None = None,
    root_classes: tuple[str, ...] = (),
    id_fields_map: dict[str, list[str]] | None = None,
    scope_cols: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """graph_converter.py:360-429: per class over its max-instances bound,
    rank best-first by (filled-attr richness desc, provenance chunk-weight
    desc, in-degree from non-root nodes desc, canonical identity asc,
    node_id asc) and demote the rest. Filled-first is deliberate and
    load-bearing (the reference's note: chunk-count-first buries true
    instances under alias-merged junk). Classic top-k window.

    ``scope_cols`` widens the ranking partition: the reference converts ONE
    document per graph, so its bound is per-document — a corpus-wide caller
    passes ("doc_id",) to keep that semantics instead of capping the whole
    corpus to N instances of a class.

    Returns (kept, demoted-with-rank audit).
    """
    if not bounds:
        return nodes, nodes.limit(0).withColumn("_rank", F.lit(0))
    spark = nodes.sparkSession
    bounds_df = F.broadcast(
        local_frame(spark, list(bounds.items()), f"{class_col} string, _bound int")
    )
    richness = F.size(F.filter(F.map_values("attrs"), lambda v: (v.isNotNull()) & (v != "")))
    weight = F.coalesce(F.size("chunk_ids"), F.lit(0)) if "chunk_ids" in nodes.columns else F.lit(0)

    work = nodes
    if edges is not None:
        # external in-degree: edges whose SOURCE is not a root-class node.
        # distinct: the nodes table is one row per (doc_id, node_id), and a
        # plain join would multiply every edge by the number of documents its
        # source appears in, skewing the rank toward widely-shared sources
        src_cls = nodes.select(
            F.col("node_id").alias("src"), F.col(class_col).alias("_sc")
        ).distinct()
        ext = (
            edges.join(src_cls, "src")
            .filter(~F.col("_sc").isin(list(root_classes)) if root_classes else F.lit(True))
            .groupBy(F.col("dst").alias("node_id"))
            .agg(F.count("*").alias("_ext_in"))
        )
        work = work.join(ext, "node_id", "left")
    else:
        work = work.withColumn("_ext_in", F.lit(0))
    ext_in = F.coalesce(F.col("_ext_in"), F.lit(0))

    if id_fields_map:
        from sparkdoc.provenance import _canon_id_text_udf

        idf = F.create_map(
            *[
                x
                for cls, fields in sorted(id_fields_map.items())
                for x in (F.lit(cls), F.array(*[F.lit(f) for f in fields]))
            ]
        )
        id_attrs = F.map_filter(
            F.col("attrs"),
            lambda k, v: F.coalesce(
                F.array_contains(F.element_at(idf, F.col(class_col)), k), F.lit(False)
            ),
        )
        work = work.withColumn("_canon_id", _canon_id_text_udf()(F.to_json(id_attrs)))
    else:
        work = work.withColumn("_canon_id", F.lit(""))

    w = Window.partitionBy(*scope_cols, class_col).orderBy(
        richness.desc(), weight.desc(), ext_in.desc(), F.col("_canon_id").asc(), F.col("node_id").asc()
    )
    ranked = (
        work.join(bounds_df, class_col, "left")
        .withColumn("_rank", F.row_number().over(w))
        .drop("_ext_in", "_canon_id")
    )
    kept = ranked.filter(F.col("_bound").isNull() | (F.col("_rank") <= F.col("_bound"))).drop(
        "_bound", "_rank"
    )
    demoted = ranked.filter(F.col("_bound").isNotNull() & (F.col("_rank") > F.col("_bound"))).drop(
        "_bound"
    )
    return kept, demoted


def drop_demoted_doc_edges(edges: DataFrame, demoted: DataFrame) -> DataFrame:
    """Remove edges MINTED in a document where either endpoint was demoted
    there. Demotion is per (doc_id, node_id) row (the bound is per-document),
    and the registry node_id is global — so a node demoted in doc B but kept
    in doc A must lose doc B's edges while keeping doc A's (the reference
    converts one document per graph; a demoted node simply isn't in that
    document's graph, so none of its edges survive the per-doc export).

    edges: doc-attributed (doc_id, src, dst, …) from build_catalog_edges.
    demoted: rows with (doc_id, node_id) — enforce_cardinality_bounds audit.
    """
    dem_pairs = demoted.select("doc_id", "node_id").localCheckpoint()
    return edges.join(
        dem_pairs.withColumnRenamed("node_id", "src"), ["doc_id", "src"], "left_anti"
    ).join(dem_pairs.withColumnRenamed("node_id", "dst"), ["doc_id", "dst"], "left_anti")


def rekey_graph(nodes: DataFrame, edges: DataFrame, id_fields_map: dict[str, list[str]]) -> tuple[DataFrame, DataFrame]:
    """merge/identity.py:151-248 analog: recompute node ids from exported
    attrs via the SAME fingerprint implementation (the registry-parity pin,
    merge/identity.py:1-8); fold nodes that collapse to one id; remap edges.

    id_fields_map: class → list of identity attr names.
    """
    import json as _json

    @pandas_udf("string")
    def _rekey(node_class: pd.Series, attrs_json: pd.Series) -> pd.Series:
        out = []
        for c, j in zip(node_class, attrs_json):
            attrs = _json.loads(j) if j else {}
            fields = id_fields_map.get(c, [])
            ids = {k: attrs.get(k) for k in fields if attrs.get(k) not in (None, "")}
            # skolem stamp rides the fingerprint RAW (merge/identity.py:
            # 128-137): without it, re-keying a merged graph would recompute
            # a skolemized root back to its colliding base id and re-fuse
            # two distinct documents
            out.append(
                _node_id(c, ids, attrs.get("skolem_document_id")) if ids else None
            )
        return pd.Series(out)

    rekeyed = nodes.withColumn(
        "_new_id",
        F.coalesce(_rekey(F.col("node_class"), F.to_json(F.col("attrs"))), F.col("node_id")),
    )
    mapping = rekeyed.select(F.col("node_id").alias("_from"), F.col("_new_id").alias("_to")).filter(
        F.col("_from") != F.col("_to")
    )
    w_first = Window.partitionBy("_new_id").orderBy("node_id")
    folded = (
        rekeyed.withColumn("_rn", F.row_number().over(w_first))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "node_id")
        .withColumnRenamed("_new_id", "node_id")
    )
    cols = ["node_id"] + [c for c in nodes.columns if c != "node_id"]
    folded = folded.select(*cols)
    e = (
        edges.join(F.broadcast(mapping).withColumnRenamed("_from", "src"), "src", "left")
        .withColumn("src", F.coalesce(F.col("_to"), F.col("src")))
        .drop("_to")
        .join(F.broadcast(mapping).withColumnRenamed("_from", "dst"), "dst", "left")
        .withColumn("dst", F.coalesce(F.col("_to"), F.col("dst")))
        .drop("_to")
        # folding two nodes can collapse their connecting edge onto itself —
        # same self-loop drop as content_hash_dedup (graph_cleaner.py:406)
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst", "label"])
    )
    return folded, e


def apply_alias_merges(
    nodes: DataFrame,
    edges: DataFrame,
    pairs: DataFrame,
    edge_keys: tuple[str, ...] = ("src", "dst", "label"),
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """alias_reconciler.py:236-396 analog: merge base → superset (richest
    survives = superset by construction of the containment proposal); absorb
    attrs first-non-empty, redirect edges, record merged_aliases audit.

    pairs: (base_id, superset_id) — post-veto.
    ``edge_keys``: edge identity for the post-redirect dedup — callers whose
    edges carry doc attribution pass ("doc_id","src","dst","label") so the
    per-document rows survive for downstream per-doc passes.
    Returns (nodes, edges, merged_aliases audit rows).
    """
    mapping = pairs.select(F.col("base_id").alias("_from"), F.col("superset_id").alias("_to"))
    # transitive closure (A⊂B, B⊂C): a base chained through an intermediate
    # superset must land on the FINAL survivor — single-hop redirection would
    # point A's edges at B, which is itself removed (clean_edges then drops
    # them) and would absorb A's attrs into a deleted node. Containment is a
    # strict partial order (proper substring), so path-doubling converges;
    # 3 rounds cover chains of length 2^3.
    for _ in range(3):
        nxt = mapping.select(F.col("_from").alias("_mid"), F.col("_to").alias("_final"))
        mapping = (
            mapping.join(nxt, mapping["_to"] == nxt["_mid"], "left")
            .select("_from", F.coalesce(F.col("_final"), F.col("_to")).alias("_to"))
        )
    mapping = mapping.localCheckpoint(eager=False)
    audit = mapping.select(F.col("_from").alias("merged_node"), F.col("_to").alias("into_node"))
    # absorb base attrs into superset where superset lacks the key
    base_attrs = nodes.join(mapping, nodes["node_id"] == mapping["_from"]).select(
        F.col("_to").alias("node_id"), F.explode("attrs").alias("k", "v")
    )
    sup_attrs = nodes.join(mapping.select("_to").distinct(), nodes["node_id"] == F.col("_to")).select(
        "node_id", F.explode("attrs").alias("k", "v")
    )
    combined = sup_attrs.withColumn("_pri", F.lit(0)).unionByName(
        base_attrs.withColumn("_pri", F.lit(1))
    )
    merged_attrs = (
        combined.filter(F.col("v").isNotNull() & (F.col("v") != ""))
        .groupBy("node_id", "k")
        .agg(F.min_by("v", F.col("_pri")).alias("v"))
        .groupBy("node_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("k", "v"))).alias("_merged_attrs"))
    )
    survivors = (
        nodes.join(mapping.select(F.col("_from").alias("node_id")), "node_id", "left_anti")
        .join(merged_attrs, "node_id", "left")
        .withColumn("attrs", F.coalesce(F.col("_merged_attrs"), F.col("attrs")))
        .drop("_merged_attrs")
    )
    e = (
        edges.join(F.broadcast(mapping).withColumnRenamed("_from", "src"), "src", "left")
        .withColumn("src", F.coalesce(F.col("_to"), F.col("src")))
        .drop("_to")
        .join(F.broadcast(mapping).withColumnRenamed("_from", "dst"), "dst", "left")
        .withColumn("dst", F.coalesce(F.col("_to"), F.col("dst")))
        .drop("_to")
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(list(edge_keys))
    )
    return survivors, e, audit


RECONCILE_MAX_INSTANCES_PER_CALL = 100  # dense/orchestrator.py:99


def assign_reconcile_batches(
    entities: DataFrame, max_per_call: int = RECONCILE_MAX_INSTANCES_PER_CALL
) -> DataFrame:
    """Skeleton-reconciliation call batching (dense/orchestrator.py:1775-1790).

    Reconciliation only ever merges within a path, and a single over-long id
    list silently yields nothing — so: one combined scope while the document's
    total instance count is <= 100; past that, one scope PER PATH, and a large
    path splits into sub-batches of 100 (in per-path instance order). Alias
    proposals must then be scoped by the batch key (pass ``reconcile_batch``
    as an extra scope col to containment_alias_groups), exactly as the
    reference proposes candidates per call subset.

    Adds ``reconcile_batch`` (null = excluded: the root path, or a path with
    fewer than 2 instances — nothing to reconcile there).
    """
    order = Window.partitionBy("doc_id", "path").orderBy(
        F.coalesce(F.array_min("chunk_ids"), F.lit(2**31 - 1)), "node_id"
    )
    base = entities.withColumn("_rank", F.row_number().over(order))
    counts = F.count("*").over(Window.partitionBy("doc_id", "path"))
    base = base.withColumn("_n_path", counts)
    eligible = (F.col("path") != "") & (F.col("_n_path") >= 2)
    total = F.sum(F.when(eligible, 1).otherwise(0)).over(Window.partitionBy("doc_id"))
    batch = F.when(~eligible, F.lit(None).cast("string")).when(
        total <= max_per_call, F.lit("__combined__")
    ).otherwise(
        F.concat_ws(
            "#", F.col("path"), F.floor((F.col("_rank") - 1) / max_per_call).cast("string")
        )
    )
    return base.withColumn("reconcile_batch", batch).drop("_rank", "_n_path")
