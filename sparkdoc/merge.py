"""Merging: description merge, deep model merge, multi-graph union-fold with
the full policy surface.

Reference semantics reproduced:
  sentence-dedup description merge   core/utils/description_merger.py:20-105
  deep dict merge + entity lists     core/utils/dict_merger.py:17-321
  multi-graph merge (union-fold)     core/merge/merger.py:242-289,601-716
  merge policy                       core/merge/policy.py:40-48 —
                                     precedence input-order/richest;
                                     conflicts keep-first/keep-all/variants
  skolemized root collisions         merger.py:358-463
  template-schema-hash gate          merger.py:291-330
  conflict variants                  merger.py:83-120,703-716
  ledger sidecar merge               provenance_merge.py (via merge_ledgers)
  merge report                       merger.py:947-971
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pandas as pd  # noqa: F401 — pandas_udf type hints resolve against module globals

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparkdoc.session import local_frame

_SENT_RE = re.compile(r"(?<=[.!?])\s+")


def truncate_at_sentence_boundary(text: str, max_length: int) -> str:
    """Cut at the LAST .!? before max_length (description_merger.py:20-42,
    branch-exact: empty text or non-positive budget yields ''; a boundary at
    position 0 still counts — parity-fuzzed in test_reference_parity.py)."""
    if not text or max_length <= 0:
        return ""
    if len(text) <= max_length:
        return text
    end = max_length
    for i, c in enumerate(text[:max_length]):
        if c in ".!?":
            end = i + 1
    return text[:end]


def _merge_description_pair(existing: str, new: str, max_length: int) -> str:
    """description_merger.py:45-105 exact: keep ``existing`` verbatim, append
    only the sentences of ``new`` that are not CASE-SENSITIVE substrings of
    it. (The pre-r5 kernel re-split both sides and deduped by casefolded
    sentence key — the reference-parity fuzz caught the divergence: it
    rewrote existing whitespace and dropped case-variant sentences the
    reference keeps.)"""
    if not existing or not existing.strip():
        return truncate_at_sentence_boundary((new or "").strip(), max_length)
    existing = existing.strip()
    if not new or not new.strip():
        return truncate_at_sentence_boundary(existing, max_length)
    new = new.strip()
    if existing.find(new) != -1:
        return truncate_at_sentence_boundary(existing, max_length)
    additions = []
    for s in _SENT_RE.split(new):
        s = s.strip()
        if s and s not in existing:
            additions.append(s)
    if not additions:
        return truncate_at_sentence_boundary(existing, max_length)
    return truncate_at_sentence_boundary(existing + " " + " ".join(additions), max_length)


def merge_descriptions(parts: list[str], max_length: int = 1000, summarizer=None) -> str:
    """Left fold of the reference's pairwise sentence-dedup merge
    (description_merger.py:45-105 — the reference only ever merges two at a
    time, truncating each step; the fold replays exactly that chain).
    ``summarizer`` is the user callable slot (description_merger.py:49-67 /
    SURVEY §2.11): when given, it replaces the deterministic merge; a
    summarizer failure falls back deterministically."""
    if summarizer is not None:
        try:
            out = summarizer([p for p in parts if p], max_length)
            if isinstance(out, str) and out:
                return truncate_at_sentence_boundary(out, max_length)
        except Exception:
            pass  # the slot must never break a merge
    items = list(parts)
    if not items:
        return ""
    # the FIRST element is the reference's ``existing`` and enters the pair
    # merge untruncated (truncation is applied on each pair's way out);
    # folding from "" would pre-truncate it and change which sentences the
    # later substring checks see
    out = items[0] or ""
    if len(items) == 1:
        return truncate_at_sentence_boundary(out.strip(), max_length)
    for part in items[1:]:
        out = _merge_description_pair(out, part or "", max_length)
    return out


_MERGE_SIMILARITY_THRESHOLD = 0.5  # dict_merger.py Jaccard fallback bar


def _entity_hash(entity: dict, identity_fields: list[str] | None) -> str:
    """Content hash for entity-list dedup (dict_merger.py:222-238): declared
    identity fields when any is non-empty, else all stable fields."""
    import hashlib
    import json

    if identity_fields:
        identity = {f: entity.get(f) for f in identity_fields}
        if any(v not in (None, "") for v in identity.values()):
            blob = json.dumps(identity, sort_keys=True, default=str)
            return hashlib.blake2b(blob.encode()).hexdigest()[:16]
    stable = {k: v for k, v in entity.items() if k not in {"id", "__class__"} and v is not None}
    blob = json.dumps(stable, sort_keys=True, default=str)
    return hashlib.blake2b(blob.encode()).hexdigest()[:16]


def _child_fingerprints(entity: dict) -> set[str]:
    """Hashes of child list items + key scalars (dict_merger.py:171-187)."""
    import hashlib
    import json

    fps: set[str] = set()
    for k, v in entity.items():
        if k in ("id", "__class__"):
            continue
        if isinstance(v, list) and v and isinstance(v[0], dict):
            for item in v:
                blob = json.dumps(item, sort_keys=True, default=str)
                fps.add(hashlib.blake2b(blob.encode(), digest_size=8).hexdigest())
        elif v is not None and not isinstance(v, (dict, list)):
            fps.add(f"{k}:{v!s}")
    return fps


def _jaccard(a: set[str], b: set[str]) -> float:
    if not a and not b:
        return 1.0
    if not a or not b:
        return 0.0
    return len(a & b) / len(a | b)


def _merge_entity_lists(
    target_list: list[dict],
    source_list: list[dict],
    list_path: str,
    identity_fields_map: dict[str, list[str]] | None,
    similarity_fallback: bool,
    description_fields: tuple[str, ...],
) -> list[dict]:
    """dict_merger.py:197-321: merge entity-dict lists by id, then by
    path-scoped identity hash, then (optionally) by child-overlap Jaccard >=
    0.5; unmatched instances append."""
    identity_fields = (identity_fields_map or {}).get(list_path)
    merged: list[dict] = []
    id_map: dict[str, dict] = {}
    seen_hashes: dict[str, dict] = {}
    # memoized child fingerprints for the similarity fallback, keyed by
    # object identity (entities stay referenced in `merged` for the whole
    # call, so ids are stable) and invalidated when a merge mutates the
    # entity — without this every unmatched source re-fingerprinted EVERY
    # candidate: quadratic JSON+hash work at 1000+ entries per doc
    _fp_cache: dict[int, set[str]] = {}

    def _fp_of(e: dict) -> set[str]:
        got = _fp_cache.get(id(e))
        if got is None:
            got = _fp_cache[id(e)] = _child_fingerprints(e)
        return got

    def _merge_into(tgt: dict, src_: dict) -> None:
        _fp_cache.pop(id(tgt), None)
        _deep_merge_into(
            tgt, src_, list_path, identity_fields_map, similarity_fallback,
            description_fields,
        )
    for entity in target_list:
        if not isinstance(entity, dict):  # defensive: pass through verbatim
            merged.append(entity)
            continue
        eid = entity.get("id")
        if eid:
            id_map[eid] = entity
        else:
            seen_hashes[_entity_hash(entity, identity_fields)] = entity
        merged.append(entity)
    for src in source_list:
        sid = src.get("id")
        if sid and sid in id_map:
            _merge_into(id_map[sid], src)
            continue
        if sid:
            merged.append(src)
            id_map[sid] = src
            continue
        h = _entity_hash(src, identity_fields)
        if h in seen_hashes:
            _merge_into(seen_hashes[h], src)
            continue
        if similarity_fallback:
            src_fp = _child_fingerprints(src)
            best, best_score = None, 0.0
            for existing in merged:
                # src has no id in this branch (truthy sid continued above),
                # so id-bearing targets can never "match by id" — skip them
                if existing.get("id"):
                    continue
                score = _jaccard(src_fp, _fp_of(existing))
                if score > best_score:
                    best, best_score = existing, score
            if best is not None and best_score >= _MERGE_SIMILARITY_THRESHOLD:
                _merge_into(best, src)
                continue
        merged.append(src)
        seen_hashes[h] = src
    return merged


def _deep_merge_into(
    target: dict,
    source: dict,
    parent_path: str,
    identity_fields_map: dict[str, list[str]] | None,
    similarity_fallback: bool,
    description_fields: tuple[str, ...],
) -> dict:
    """In-place recursive merge (the reference mutates its target)."""
    import copy

    # control flow mirrors dict_merger.py:97-168 branch for branch (the r5
    # reference-parity fuzz caught three divergences in the old shape: scalar
    # conflicts kept base instead of overwriting, an EMPTY-but-present target
    # list skipped the simple-list dedup, and simple-list dedup by JSON text
    # instead of Python equality)
    for k, v in source.items():
        if v in (None, "", [], {}):
            continue
        child_path = f"{parent_path}.{k}" if parent_path else k
        if k not in target:
            target[k] = copy.deepcopy(v)
            continue
        cur = target[k]
        if isinstance(cur, dict) and isinstance(v, dict):
            _deep_merge_into(cur, v, child_path, identity_fields_map, similarity_fallback, description_fields)
        elif isinstance(cur, list) and isinstance(v, list):
            # entity-list merge only when the target holds dicts AND every
            # source member is one — a mixed source list (e.g. {'tags':
            # ['x']} into {'tags': [{...}]}) would crash on src.get() inside
            # the entity merge (the reference raises there; out-of-domain),
            # so it falls to the graceful dedup-append path instead
            if (
                cur
                and isinstance(cur[0], dict)
                and all(isinstance(x, dict) for x in v)
            ):
                target[k] = _merge_entity_lists(
                    cur, v, child_path, identity_fields_map, similarity_fallback, description_fields
                )
            else:
                # simple list: append-if-absent by PYTHON EQUALITY against
                # the growing target (dict_merger.py:147-150) — this also
                # dedups source-internal duplicates, and runs even when the
                # target list is present-but-empty
                for x in v:
                    if x not in cur:
                        cur.append(x)
        elif k in description_fields and isinstance(cur, str) and isinstance(v, str):
            # 4096 = the reference deep-merge path's description budget
            # (dict_merger.py description_merge_max_length default)
            target[k] = merge_descriptions([cur, v], max_length=4096)
        else:
            # scalar (or type-mismatched) conflict: NON-EMPTY SOURCE
            # OVERWRITES — dict_merger.py:152-168. First-wins precedence
            # lives one level up in the merge POLICY, not in this kernel.
            target[k] = copy.deepcopy(v)
    return target


def deep_merge_dicts(
    base: dict,
    extra: dict,
    description_fields: tuple[str, ...] = ("description", "summary", "notes"),
    identity_fields_map: dict[str, list[str]] | None = None,
    merge_similarity_fallback: bool = False,
) -> dict:
    """Recursive merge (dict_merger.py:17-321): skip empty incoming values;
    dicts recurse; entity-dict lists merge by path-scoped identity hash
    (``identity_fields_map``, e.g. {"studies": ["name"]}) with an optional
    child-overlap Jaccard >= 0.5 fallback; simple lists union by content;
    description fields merge by sentence dedup; non-empty scalar conflicts
    OVERWRITE (last wins, the reference's rule — parity-fuzzed in
    tests/test_reference_parity.py). Returns a NEW dict (inputs untouched)."""
    import copy

    out = copy.deepcopy(base)
    # extra is deep-copied too: _merge_entity_lists appends unmatched source
    # entities BY REFERENCE into the result, so later in-place merges would
    # otherwise write through into the caller's input (and mutations of the
    # returned dict would leak back into it)
    return _deep_merge_into(
        out, copy.deepcopy(extra), "", identity_fields_map, merge_similarity_fallback,
        description_fields,
    )


# --- multi-graph merge (relational union-fold) -----------------------------------

VARIANT_TYPE = "ConflictVariant"  # merger.py:83-120
HAS_CONFLICT_VARIANT = "HAS_CONFLICT_VARIANT"


@dataclass
class MergePolicy:
    """Deterministic knobs of a graph merge (policy.py:40-48).

    precedence: 'input_order' (argv order, first graph is base) or 'richest'
        (per duplicate group: attr richness desc, input index asc).
    conflicts: 'keep_first' records the conflict; 'keep_all' additionally
        stores suppressed values in a ``__conflicts__`` node attribute;
        'variants' additionally reifies each source's suppressed values as a
        ConflictVariant sub-node linked by HAS_CONFLICT_VARIANT.
    combine_fields: text attrs merged with sentence-level dedup, never
        first-wins.
    strict_template_check: refuse inputs whose template schema hashes differ.
    """

    precedence: str = "input_order"
    conflicts: str = "keep_first"
    combine_fields: tuple[str, ...] = ("description", "summary")
    description_max_length: int = 4096
    strict_template_check: bool = True


class TemplateMismatchError(ValueError):
    """Inputs were extracted with different template schemas (merger.py:291-330)."""


def _skolemize_root_collisions(
    tagged_nodes: list[DataFrame], tagged_edges: list[DataFrame]
) -> tuple[list[DataFrame], list[DataFrame], DataFrame]:
    """merger.py:358-463: a root node id colliding across inputs that
    provably carry DISTINCT documents (doc_id differs), where the shared
    identity value is document-derived (label == the node's doc_id — the
    filename-stem analog), splits: later occurrences rename to
    ``<id>__doc_<hash8>`` and gain a content-bearing ``skolem_document_id``
    attr so content-hash dedup cannot re-fuse them. Content-derived
    identities are never touched. Returns (nodes, edges, skolemized audit)."""
    roots = []
    for n, e in zip(tagged_nodes, tagged_edges):
        r = n.join(e.select(F.col("dst").alias("node_id")).distinct(), "node_id", "left_anti")
        roots.append(r.select("node_id", "_src", "doc_id", "label"))
    all_roots = roots[0]
    for r in roots[1:]:
        all_roots = all_roots.unionByName(r)
    w = Window.partitionBy("node_id").orderBy("_src")
    flagged = (
        all_roots.withColumn("_rn", F.row_number().over(w))
        .withColumn("_first_doc", F.first("doc_id").over(w))
        .filter(
            (F.col("_rn") > 1)
            & (F.col("doc_id") != F.col("_first_doc"))
            & (F.col("label") == F.col("doc_id"))  # stem-derived identity only
        )
        .select(
            "_src",
            F.col("node_id").alias("_old"),
            F.concat(
                F.col("node_id"), F.lit("__doc_"), F.substring(F.md5(F.col("doc_id")), 1, 8)
            ).alias("_new"),
            F.col("doc_id").alias("_skolem_doc"),
        )
    ).localCheckpoint()
    out_nodes, out_edges = [], []
    for i, (n, e) in enumerate(zip(tagged_nodes, tagged_edges)):
        ren = flagged.filter(F.col("_src") == i).drop("_src")
        n2 = (
            n.join(ren, n["node_id"] == ren["_old"], "left")
            .withColumn("node_id", F.coalesce(F.col("_new"), F.col("node_id")))
            .withColumn(
                "attrs",
                F.when(
                    F.col("_new").isNotNull(),
                    F.map_concat(
                        # strip a pre-existing marker (re-merging a merge
                        # output): duplicate map keys raise under Spark's
                        # default EXCEPTION dedup policy
                        F.map_filter(F.col("attrs"), lambda k, v: k != F.lit("skolem_document_id")),
                        F.create_map(F.lit("skolem_document_id"), F.col("_skolem_doc")),
                    ),
                ).otherwise(F.col("attrs")),
            )
            .drop("_old", "_new", "_skolem_doc")
        )
        e2 = (
            e.join(ren.select(F.col("_old").alias("_so"), F.col("_new").alias("_sn")), e["src"] == F.col("_so"), "left")
            .withColumn("src", F.coalesce(F.col("_sn"), F.col("src")))
            .drop("_so", "_sn")
            .join(ren.select(F.col("_old").alias("_do"), F.col("_new").alias("_dn")), F.col("dst") == F.col("_do"), "left")
            .withColumn("dst", F.coalesce(F.col("_dn"), F.col("dst")))
            .drop("_do", "_dn")
        )
        out_nodes.append(n2)
        out_edges.append(e2)
    audit = flagged.select(
        F.col("_old").alias("original_id"),
        F.col("_new").alias("skolemized_id"),
        F.col("_skolem_doc").alias("document_id"),
        F.col("_src").alias("input_index"),
    )
    return out_nodes, out_edges, audit


from functools import lru_cache


@lru_cache(maxsize=None)
def _merge_descriptions_udf(max_length: int = 4096, summarizer=None):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _udf(parts: pd.Series) -> pd.Series:
        return parts.map(
            lambda vs: merge_descriptions(
                list(vs) if vs is not None else [], max_length, summarizer=summarizer
            )
        )

    return _udf if summarizer is None else _udf.asNondeterministic()


def merge_graphs_policy(
    inputs: list[tuple[DataFrame, DataFrame]],
    policy: MergePolicy | None = None,
    schema_hashes: list[str] | None = None,
    ledgers: list[DataFrame] | None = None,
    skolemize: bool = True,
    summarizer=None,
) -> dict:
    """Full-policy N-way merge (merger.py:242-289 relational re-expression).

    Returns {"nodes", "edges", "conflicts", "skolemized", "ledger",
    "report"}: conflicts has one row per (node_id, attr, suppressed value,
    source); under keep_all suppressed values also land in a __conflicts__
    JSON attr; under variants each conflicting source contributes a
    ConflictVariant sub-node. ``ledgers`` merge via merge_ledgers (the
    provenance sidecar). ``report`` is a small driver-side dict.
    """
    policy = policy or MergePolicy()
    # template-schema-hash gate (merger.py:291-330)
    warnings: list[str] = []
    if schema_hashes:
        distinct = {h for h in schema_hashes if h}
        if len(distinct) > 1:
            if policy.strict_template_check:
                raise TemplateMismatchError(
                    f"Inputs were extracted with different template schemas: "
                    f"{sorted(h[:12] for h in distinct)}; refusing to merge "
                    "(strict_template_check=False to override)."
                )
            warnings.append(
                "Template schemas differ across inputs; merging anyway — "
                "same-named classes merge by node ID."
            )

    tagged_n = [n.withColumn("_src", F.lit(i)) for i, (n, _) in enumerate(inputs)]
    tagged_e = [e.withColumn("_src", F.lit(i)) for i, (_, e) in enumerate(inputs)]
    if skolemize:
        tagged_n, tagged_e, skolemized = _skolemize_root_collisions(tagged_n, tagged_e)
    else:
        # same schema as the real audit — the output contract must not flip
        # column names with the skolemize flag
        skolemized = local_frame(
            inputs[0][0].sparkSession,
            [],
            "original_id string, skolemized_id string, document_id string, input_index int",
        )

    all_nodes = tagged_n[0]
    for t in tagged_n[1:]:
        all_nodes = all_nodes.unionByName(t)
    all_nodes = all_nodes.localCheckpoint()  # referenced by several folds below

    exploded = all_nodes.select(
        "node_id", "_src", F.explode_outer("attrs").alias("k", "v")
    ).filter(F.col("v").isNotNull() & (F.col("v") != ""))
    richness = F.count("*").over(Window.partitionBy("node_id", "_src"))
    if policy.precedence == "richest":
        order = F.struct((-richness).alias("r"), F.col("_src").alias("s"))
    else:
        order = F.struct(F.col("_src").alias("s"), F.lit(0).alias("r"))
    ranked = exploded.withColumn("_ord", order)
    winner = ranked.groupBy("node_id", "k").agg(
        F.min_by("v", F.col("_ord")).alias("v"),
        # combine-fields values in precedence order (sentence-dedup merge)
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("_ord"), F.col("v").alias("v")))),
            lambda s: s["v"],
        ).alias("_all_vals"),
    )
    combine = list(policy.combine_fields)
    if combine:
        winner = winner.withColumn(
            "v",
            F.when(
                F.col("k").isin(combine),
                _merge_descriptions_udf(policy.description_max_length, summarizer)(
                    F.array_distinct(F.col("_all_vals"))
                ),
            ).otherwise(F.col("v")),
        )
    # suppressed values: every distinct non-winner (node_id, k, v, src)
    suppressed = (
        ranked.join(winner.select("node_id", "k", F.col("v").alias("_win")), ["node_id", "k"])
        .filter((F.col("v") != F.col("_win")) & ~F.col("k").isin(combine))
        .select("node_id", F.col("k").alias("attr"), F.col("v").alias("suppressed_value"), "_src")
        .dropDuplicates(["node_id", "attr", "suppressed_value", "_src"])
    )
    conflicts = suppressed.select(
        "node_id", "attr", "suppressed_value", F.col("_src").alias("input_index")
    )
    folded = winner.groupBy("node_id").agg(
        F.map_from_entries(F.collect_list(F.struct("k", "v"))).alias("attrs")
    )
    # the winner row (node_class/label/doc_id/provenance) must follow the
    # SAME precedence as the attr fold: under 'richest' the input with the
    # most filled attrs wins the whole row, not just the attrs (input order
    # breaks richness ties either way)
    if policy.precedence == "richest":
        _rich = F.size(F.filter(F.map_values("attrs"), lambda v: v.isNotNull() & (v != "")))
        _order = [_rich.desc(), F.col("_src").asc()]
    else:
        _order = [F.col("_src").asc()]
    label_pick = all_nodes.withColumn(
        "_rn", F.row_number().over(Window.partitionBy("node_id").orderBy(*_order))
    ).filter(F.col("_rn") == 1).select("node_id", "node_class", "label", "doc_id", "provenance")
    nodes = label_pick.join(folded, "node_id", "left").withColumn(
        "attrs", F.coalesce(F.col("attrs"), F.create_map().cast("map<string,string>"))
    )

    if policy.conflicts == "keep_all":
        packed = suppressed.groupBy("node_id").agg(
            F.to_json(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("attr"), F.col("suppressed_value").alias("value"), F.col("_src").alias("source")
                        )
                    )
                )
            ).alias("_conf")
        )
        nodes = nodes.join(packed, "node_id", "left").withColumn(
            "attrs",
            F.when(
                F.col("_conf").isNotNull(),
                F.map_concat(
                    # a previous merge's __conflicts__ would be a duplicate
                    # map key (EXCEPTION policy) — the fresh packing wins
                    F.map_filter(F.col("attrs"), lambda k, v: k != F.lit("__conflicts__")),
                    F.create_map(F.lit("__conflicts__"), F.col("_conf")),
                ),
            ).otherwise(F.col("attrs")),
        ).drop("_conf")

    variant_nodes = None
    variant_edges = None
    if policy.conflicts == "variants":
        # one variant per (base node, conflicting source): the source's
        # dropped values, graph-queryable (merger.py:703-716); a variant
        # never spawns variants of its own (base class gate below)
        vsrc = suppressed.join(
            nodes.select("node_id", F.col("node_class").alias("_bc"), "doc_id"), "node_id"
        ).filter(F.col("_bc") != VARIANT_TYPE)
        # sorted entries drive BOTH the attrs map and the id's content-hash
        # suffix: a bare <base>__variant_<src> id can collide with a
        # pre-existing variant node minted by a PRIOR merge of a merged
        # graph (same base, same source index, different values) and
        # silently fold two distinct variants. hash8(src, sorted values)
        # makes an id collision imply identical content — folding is then a
        # no-op, and re-merging a merged graph is idempotent.
        _entries = F.array_sort(
            F.collect_list(F.struct(F.col("attr"), F.col("suppressed_value")))
        )
        variant_nodes = (
            vsrc.groupBy("node_id", "_src", "_bc", "doc_id")
            .agg(
                F.map_from_entries(_entries).alias("attrs"),
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "\x1f", F.col("_src").cast("string"), F.to_json(_entries)
                        )
                    ),
                    1,
                    8,
                ).alias("_vhash"),
            )
            .select(
                F.concat(
                    F.col("node_id"),
                    F.lit("__variant_"),
                    F.col("_src"),
                    F.lit("_"),
                    F.col("_vhash"),
                ).alias("node_id"),
                "doc_id",
                F.lit(VARIANT_TYPE).alias("node_class"),
                F.concat(F.lit("variant of "), F.col("node_id")).alias("label"),
                F.map_concat(
                    F.map_filter(F.col("attrs"), lambda k, v: k != F.lit("variant_source")),
                    F.create_map(F.lit("variant_source"), F.col("_src").cast("string")),
                ).alias("attrs"),
                F.lit(None).cast("string").alias("provenance"),
                F.col("node_id").alias("_base"),
            )
        )
        variant_edges = variant_nodes.select(
            F.col("_base").alias("src"),
            F.col("node_id").alias("dst"),
            F.lit(HAS_CONFLICT_VARIANT).alias("label"),
            F.lit(None).cast("map<string,string>").alias("props"),
        )
        variant_nodes = variant_nodes.drop("_base")
        nodes = nodes.unionByName(variant_nodes)

    all_edges = tagged_e[0]
    for t in tagged_e[1:]:
        all_edges = all_edges.unionByName(t)
    # deterministic props for duplicate edges: lowest input index wins
    # (dropDuplicates keeps an arbitrary row), json tie-break within an input
    edges = all_edges.groupBy("src", "dst", "label").agg(
        F.min_by("props", F.struct(F.col("_src"), F.to_json("props"))).alias("props")
    )
    if variant_edges is not None:
        edges = edges.unionByName(variant_edges)

    if ledgers and skolemize:
        # keep provenance linkage for renamed roots: bind_provenance rung 1
        # binds on identity_key == node_id, so a skolemized root whose ledger
        # rows still carry the old id would lose its exact bind — rename the
        # matching (input, doc, identity) ledger rows the same way
        ren_small = F.broadcast(skolemized)  # audit derives from a localCheckpoint
        remapped = []
        for i, led in enumerate(ledgers):
            if led is None:  # input without a ledger sidecar — keep alignment
                remapped.append(None)
                continue
            r = ren_small.filter(F.col("input_index") == i).select(
                F.col("original_id").alias("identity_key"),
                F.col("document_id").alias("doc_id"),
                F.col("skolemized_id").alias("_sk"),
            )
            remapped.append(
                led.join(r, ["identity_key", "doc_id"], "left")
                .withColumn("identity_key", F.coalesce(F.col("_sk"), F.col("identity_key")))
                .drop("_sk")
            )
        ledgers = remapped
    # ``ledgers`` is INDEX-ALIGNED with inputs (the skolem remap above keys
    # on input_index); entries may be None for inputs without a sidecar —
    # merge the ones that exist instead of forcing all-or-nothing
    present_ledgers = [l for l in (ledgers or []) if l is not None]
    merged_ledger = merge_ledgers_sidecar(present_ledgers) if present_ledgers else None

    report = {
        "n_inputs": len(inputs),
        "precedence": policy.precedence,
        "conflicts_policy": policy.conflicts,
        "warnings": warnings,
        "schema_hashes": sorted({h for h in (schema_hashes or []) if h}),
    }
    return {
        "nodes": nodes.select("node_id", "doc_id", "node_class", "label", "attrs", "provenance"),
        "edges": edges,
        "conflicts": conflicts,
        "skolemized": skolemized,
        "ledger": merged_ledger,
        "report": report,
    }


def merge_ledgers_sidecar(ledgers: list[DataFrame]) -> DataFrame:
    from sparkdoc.provenance import merge_ledgers

    return merge_ledgers(ledgers)


def merge_graphs(
    inputs: list[tuple[DataFrame, DataFrame]],
    precedence: str = "input_order",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """N-way graph merge: unionByName + fold by node_id (back-compat shape).

    Thin wrapper over merge_graphs_policy (same fold, no skolemization, no
    conflict reification) projecting the legacy (nodes, edges, conflicts)
    tuple; conflicts keep the historical (node_id, attr, n_variants) shape
    (n_variants = distinct suppressed values + the winner).
    """
    out = merge_graphs_policy(
        inputs, MergePolicy(precedence=precedence, conflicts="keep_first"), skolemize=False
    )
    conflicts = (
        out["conflicts"]
        .groupBy("node_id", "attr")
        .agg((F.countDistinct("suppressed_value") + 1).alias("n_variants"))
    )
    return out["nodes"], out["edges"], conflicts


CLOSED_CATALOG_MARK = "_closed_catalog"


def enforce_closed_catalogs(
    nodes: DataFrame, edges: DataFrame, catalog_classes: list[str] | None = None
) -> tuple[DataFrame, DataFrame]:
    """graph_converter.py:431-494: drop reference edges to targets
    instantiated ONLY by closed-catalog reference fields, removing targets
    that end up fully disconnected.

    Marker semantics are label-scoped: an edge counts as marked only when
    ``props['_closed_catalog'] == label`` (a stale marker left by attr-merge
    of a re-added edge pair must not count). A target with any unmarked
    in-edge keeps everything. Guard: when EVERY member of a target class is
    closed-catalog-only, the canonical catalog was not extracted at all —
    skip the class instead of wiping it. The transient marker is stripped
    from surviving edges either way.

    ``catalog_classes`` (optional) additionally restricts enforcement to the
    named classes. Returns (nodes, edges)."""
    marked = F.element_at(F.coalesce(F.col("props"), F.create_map()), CLOSED_CATALOG_MARK) == F.col("label")
    per_dst = edges.groupBy(F.col("dst").alias("node_id")).agg(
        F.count("*").alias("_in_total"),
        F.sum(F.when(marked, 1).otherwise(0)).alias("_in_marked"),
    )
    flagged = (
        nodes.join(per_dst, "node_id", "left")
        .withColumn(
            "_catalog_only",
            (
                F.coalesce(F.col("_in_total"), F.lit(0)) > 0
            ) & (F.col("_in_total") == F.col("_in_marked")),
        )
    )
    if catalog_classes:
        flagged = flagged.withColumn(
            "_catalog_only", F.col("_catalog_only") & F.col("node_class").isin(catalog_classes)
        )
    guard = flagged.groupBy("node_class").agg(
        (F.sum(F.col("_catalog_only").cast("int")) >= F.count("*")).alias("_all_catalog")
    )
    droppable_nodes = (
        flagged.join(guard, "node_class")
        .filter(F.col("_catalog_only") & ~F.col("_all_catalog"))
        .select("node_id")
    ).localCheckpoint()
    # drop ALL in-edges of droppable targets (each is marked by construction)
    kept_edges = edges.join(
        droppable_nodes.withColumnRenamed("node_id", "dst"), "dst", "left_anti"
    )
    # a dropped target with no remaining edges disappears entirely
    still_connected = kept_edges.select(F.col("src").alias("node_id")).unionByName(
        kept_edges.select(F.col("dst").alias("node_id"))
    ).distinct()
    removed = droppable_nodes.join(still_connected, "node_id", "left_anti")
    kept_nodes = nodes.join(removed, "node_id", "left_anti")
    # strip the transient marker from surviving edges
    kept_edges = kept_edges.withColumn(
        "props",
        F.when(
            F.col("props").isNotNull(),
            F.map_filter(F.col("props"), lambda k, v: k != CLOSED_CATALOG_MARK),
        ).otherwise(F.col("props")),
    )
    return kept_nodes, kept_edges
