"""Extraction evaluation: node/edge P/R/F1 at strict and relaxed rungs,
attribute completeness, edge fan-out, and integrity findings — the engine's
analog of the reference's evaluation harness
(docs/examples/scripts/16_extraction_evaluation.py: strict/relaxed rungs
:414-487, relaxed_match :185-219, prf :222-236, edge keys :488-527, attribute
completeness :539-561, edge_fanout :357-377, integrity :572-580) and of the
benchmark rollup (17_benchmark_aggregate.py micro :60-70).

Distributed restatement
-----------------------
The reference scores ONE (graph.json, ground-truth) pair in-process; here the
same rungs run over corpus-scale tables of per-document node/edge rows, so an
entire benchmark matrix (thousands of documents x contracts) is scored in one
job:

  truth_nodes / got_nodes : (doc_id, class, node_id, ids map<string,string>,
                             attrs map<string,string>)
  truth_edges / got_edges : (doc_id, src, dst, label)    -- src/dst = node_id

- Identity key = canonical id-field values in the template's declared order
  (node_identity :166-180). Canonicalization here is the engine's ASCII-fast
  projection (lower + [^a-z0-9] strip), the same projection the alias oracle
  pins; nodes with no non-empty canonical value are unkeyed and excluded from
  matching (counted by `integrity_stats`).
- Strict rung = equi-join on (doc_id, class, key) over per-side DISTINCT keys
  (the reference dedupes by key, first wins :404-406).
- Relaxed rung = same-class containment with equal digit signatures
  (relaxed_match :185-219). The reference pairs greedily in node insertion
  order; that order does not exist in a distributed table, so this
  implementation pairs (t, g) iff g is t's ONLY candidate AND t is g's ONLY
  candidate (symmetric-unique) — order-free and deterministic, and equal to
  the reference whenever its greedy never consumed a candidate another node
  also wanted (the overwhelmingly common case its unique-candidate gate
  already targets).
- The structural-alignment rung (:299-355) pairs post-relaxed remainders by
  attribute overlap (invented identifier slugs can never match strictly —
  the rung exists so such ground truths are scorable at all). The pairing is
  greedy best-first one-to-one; order inside a (doc, class) group is bounded
  by the document, so it runs as a cogrouped pandas UDF per (doc_id, class)
  — the one Python stage in this module, Arrow-batched, never corpus-wide.
  Ties at equal score break on (truth key, got key) ascending (the
  reference's tie order is candidate-list insertion order, which does not
  exist here).
- `verbatim_ratio` (:552-560) checks long extracted string attributes for
  normalized containment in the source text (hallucination detector).

All rungs except structural alignment are pure DataFrame ops (joins +
windows + aggs). P/R/F1 are emitted as exact double divisions (no rounding)
so the DuckDB oracle twins reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparkdoc.session import local_frame

# Separator between ordered id-field values inside a key. Canonical values are
# [a-z0-9]-only, so the separator can never occur in a value.
KEY_SEP = "\x01"

__all__ = [
    "node_identity_keys",
    "eval_nodes",
    "eval_nodes_micro",
    "eval_nodes_aligned",
    "structural_align_pairs",
    "verbatim_ratio",
    "eval_edges",
    "attribute_completeness",
    "edge_fanout",
    "integrity_stats",
    "eval_rollup",
]


def _canon(col):
    """ASCII-fast canonical identity projection (reference
    canonicalize_identity_for_dedup, entity_name_normalizer.py:58-74) — the
    SHARED clean.squash_anchor lens (the one the doc_alias_pairs oracle
    pins), null-coalesced; delegating keeps the evaluation harness from
    silently diverging if the shared projection ever changes."""
    from sparkdoc.clean import squash_anchor

    return squash_anchor(F.coalesce(col, F.lit("")))


def _sig(col):
    """Ordered digit runs (reference _digit_signature, 16_…py:180-181)."""
    return F.array_join(F.expr(f"regexp_extract_all({col}, '[0-9]+', 0)"), "-")


def _id_fields_df(spark, id_fields: dict[str, list[str]]):
    rows = [
        (cls, fld, pos)
        for cls, fields in sorted(id_fields.items())
        for pos, fld in enumerate(fields)
        if fields
    ]
    if not rows:
        raise ValueError("id_fields must map at least one class to a non-empty field list")
    return F.broadcast(
        local_frame(spark, rows, "class string, field string, pos int")
    )


def node_identity_keys(nodes: DataFrame, id_fields: dict[str, list[str]]) -> DataFrame:
    """Per-node identity keys: (doc_id, class, node_id, key, ctext, sig).

    key   = canonical id values joined by KEY_SEP in declared field order —
            the tuple the reference matches strictly (node_identity :166-180);
    ctext = the values joined bare, the containment text of the relaxed rung
            ("".join(key[1]), :192);
    sig   = digit signature of ctext.

    Nodes whose canonical values are ALL empty are unkeyed → omitted
    (reference returns None :178-179). Classes absent from ``id_fields`` (or
    mapped to []) are likewise unkeyed. Two aggregations on prefixes of
    (doc, class, node, pos) — the first is the deterministic
    conflicting-duplicate resolution (min canon), the second collects the
    ordered values.
    """
    fdf = _id_fields_df(nodes.sparkSession, id_fields)
    vals = (
        nodes.join(fdf, "class")
        .select(
            "doc_id",
            "class",
            "node_id",
            "pos",
            _canon(F.element_at(F.col("ids"), F.col("field"))).alias("canon"),
        )
        # defensive distinct: a duplicated input node row (e.g. a truth
        # parquet assembled from unioned annotation exports) would double
        # every collect_list value and CORRUPT the key ('acme\x01acme') —
        # silently zeroing that node's matches — instead of deduplicating.
        # min(canon), not dropDuplicates: when duplicate rows CONFLICT on
        # the canonical value (two exports disagree on the same node/pos),
        # dropDuplicates keeps a partition-order-dependent survivor and the
        # identity key becomes nondeterministic; min always resolves the
        # conflict to the same key. Identical duplicates are unaffected.
        .groupBy("doc_id", "class", "node_id", "pos")
        .agg(F.min("canon").alias("canon"))
    )
    ordered = F.array_sort(F.collect_list(F.struct("pos", "canon")))
    return (
        vals.groupBy("doc_id", "class", "node_id")
        .agg(ordered.alias("vs"))
        .withColumn("vals", F.transform("vs", lambda s: s["canon"]))
        .filter(F.exists("vals", lambda v: F.length(v) > 0))
        .select(
            "doc_id",
            "class",
            "node_id",
            F.array_join("vals", KEY_SEP).alias("key"),
            F.array_join("vals", "").alias("ctext"),
        )
        .withColumn("sig", _sig("ctext"))
    )


def _distinct_keys(keyed: DataFrame) -> DataFrame:
    """Key-level view: one row per (doc, class, key), deterministic winner
    node_id = min (the reference keeps the first seen :404-406; insertion
    order doesn't exist here, so min is the order-free stand-in)."""
    return keyed.groupBy("doc_id", "class", "key").agg(
        F.min("node_id").alias("node_id"),
        F.first("ctext").alias("ctext"),  # ctext/sig are functions of key
        F.first("sig").alias("sig"),
    )


def _relaxed_pairs(truth_rem: DataFrame, got_rem: DataFrame) -> DataFrame:
    """Symmetric-unique containment pairs between the post-strict remainders.

    Guards are the reference's (relaxed_match :185-219): same class, equal
    digit signature, canonical containment either direction, both texts
    non-empty (non-empty is structural — unkeyed nodes never got here).
    Uniqueness: exactly one candidate per truth key AND per got key.
    """
    t = truth_rem.select(
        "doc_id", "class", F.col("key").alias("tkey"), F.col("ctext").alias("tc"),
        F.col("sig").alias("tsig"),
    )
    g = got_rem.select(
        "doc_id", "class", F.col("key").alias("gkey"), F.col("ctext").alias("gc"),
        F.col("sig").alias("gsig"),
    )
    cand = t.join(g, ["doc_id", "class"]).filter(
        (F.col("tsig") == F.col("gsig"))
        & (
            F.col("gc").contains(F.col("tc"))
            | F.col("tc").contains(F.col("gc"))
        )
    )
    wt = Window.partitionBy("doc_id", "class", "tkey")
    wg = Window.partitionBy("doc_id", "class", "gkey")
    return (
        cand.withColumn("nt", F.count(F.lit(1)).over(wt))
        .withColumn("ng", F.count(F.lit(1)).over(wg))
        .filter((F.col("nt") == 1) & (F.col("ng") == 1))
        .select("doc_id", "class", "tkey", "gkey")
    )


def _prf_cols(tp, fp, fn, suffix: str):
    tpd = tp.cast("double")
    p = F.when(tp + fp > 0, tpd / (tp + fp)).otherwise(F.lit(0.0))
    r = F.when(tp + fn > 0, tpd / (tp + fn)).otherwise(F.lit(0.0))
    f1 = F.when(p + r > 0, F.lit(2.0) * p * r / (p + r)).otherwise(F.lit(0.0))
    return [
        tp.alias(f"tp_{suffix}"),
        fp.alias(f"fp_{suffix}"),
        fn.alias(f"fn_{suffix}"),
        p.alias(f"p_{suffix}"),
        r.alias(f"r_{suffix}"),
        f1.alias(f"f1_{suffix}"),
    ]


def _node_match(truth_nodes, got_nodes, id_fields, keyed=None):
    """Shared matching core → (tkeys, gkeys, strict, pairs) key-level frames.
    ``keyed`` optionally supplies the two node-level
    :func:`node_identity_keys` frames (truth, got) — pass persisted copies
    so one job's many write actions share the key-build shuffle."""
    tkn, gkn = keyed or (
        node_identity_keys(truth_nodes, id_fields),
        node_identity_keys(got_nodes, id_fields),
    )
    tkeys = _distinct_keys(tkn)
    gkeys = _distinct_keys(gkn)
    strict = tkeys.join(gkeys.select("doc_id", "class", "key"), ["doc_id", "class", "key"], "semi")
    trem = tkeys.join(strict.select("doc_id", "class", "key"), ["doc_id", "class", "key"], "anti")
    grem = gkeys.join(strict.select("doc_id", "class", "key"), ["doc_id", "class", "key"], "anti")
    pairs = _relaxed_pairs(trem, grem)
    return tkeys, gkeys, strict, pairs


def eval_nodes(
    truth_nodes: DataFrame,
    got_nodes: DataFrame,
    id_fields: dict[str, list[str]],
    match: tuple | None = None,
) -> DataFrame:
    """Per-(doc, class) node P/R/F1 at the strict and relaxed rungs
    (reference node_metrics loop, 16_…py:464-487).

    Output: (doc_id, class, truth_n, got_n,
             tp_strict fp_strict fn_strict p_strict r_strict f1_strict,
             tp_relaxed … f1_relaxed). Relaxed counts fold the symmetric-
    unique pairs on top of strict: tp+|pairs|, fp/fn reduced by the paired
    keys — exactly the reference's arithmetic (:472-479).
    """
    tkeys, gkeys, strict, pairs = match or _node_match(truth_nodes, got_nodes, id_fields)
    tc = tkeys.groupBy("doc_id", "class").agg(F.count(F.lit(1)).alias("truth_n"))
    gc = gkeys.groupBy("doc_id", "class").agg(F.count(F.lit(1)).alias("got_n"))
    sc = strict.groupBy("doc_id", "class").agg(F.count(F.lit(1)).alias("tp"))
    rc = pairs.groupBy("doc_id", "class").agg(F.count(F.lit(1)).alias("rx"))
    m = (
        tc.join(gc, ["doc_id", "class"], "full")
        .join(sc, ["doc_id", "class"], "left")
        .join(rc, ["doc_id", "class"], "left")
        .select(
            "doc_id",
            "class",
            F.coalesce("truth_n", F.lit(0)).alias("truth_n"),
            F.coalesce("got_n", F.lit(0)).alias("got_n"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("rx", F.lit(0)).alias("rx"),
        )
    )
    tp, rx = F.col("tp"), F.col("rx")
    truth_n, got_n = F.col("truth_n"), F.col("got_n")
    return m.select(
        "doc_id",
        "class",
        "truth_n",
        "got_n",
        *_prf_cols(tp, got_n - tp, truth_n - tp, "strict"),
        *_prf_cols(tp + rx, got_n - tp - rx, truth_n - tp - rx, "relaxed"),
    )


def eval_nodes_micro(node_metrics: DataFrame) -> DataFrame:
    """Per-document micro P/R/F1: tp/fp/fn summed across classes before the
    ratio (reference micro_prf :239-245 — large classes dominate, by design)."""
    agg = node_metrics.groupBy("doc_id").agg(
        *[
            F.sum(f"{c}_{r}").alias(f"{c}_{r}")
            for r in ("strict", "relaxed")
            for c in ("tp", "fp", "fn")
        ]
    )
    cols = ["doc_id"]
    for r in ("strict", "relaxed"):
        cols.extend(_prf_cols(F.col(f"tp_{r}"), F.col(f"fp_{r}"), F.col(f"fn_{r}"), r))
    return agg.select(*cols)


def _edge_keys(edges: DataFrame, keyed: DataFrame) -> DataFrame:
    """Edge identity keys (label, src class+key, dst class+key); edges with an
    unkeyed endpoint are dropped (reference edge_keys :492-498). DISTINCT —
    the reference collects into a set."""
    src = keyed.select(
        "doc_id", F.col("node_id").alias("src"),
        F.col("class").alias("sclass"), F.col("key").alias("skey"),
    )
    dst = keyed.select(
        "doc_id", F.col("node_id").alias("dst"),
        F.col("class").alias("dclass"), F.col("key").alias("dkey"),
    )
    return (
        edges.join(src, ["doc_id", "src"])
        .join(dst, ["doc_id", "dst"])
        .select("doc_id", "label", "sclass", "skey", "dclass", "dkey")
        .distinct()
    )


def eval_edges(
    truth_nodes: DataFrame,
    got_nodes: DataFrame,
    truth_edges: DataFrame,
    got_edges: DataFrame,
    id_fields: dict[str, list[str]],
    match: tuple | None = None,
    keyed: tuple | None = None,
) -> DataFrame:
    """Per-(doc, label) edge P/R/F1, strict and relaxed (reference edge
    metrics :509-527). The relaxed rung folds the got-side alias of every
    relaxed node pair onto its truth identity before comparing endpoint keys
    (alias_fold :505-506), so an edge into a relaxed-matched alias counts.
    Pass ``match`` (a :func:`_node_match` tuple) and ``keyed`` (the two
    node-level key frames) to share the identity subtrees with the other
    tables instead of recomputing them."""
    tk, gk = keyed or (
        node_identity_keys(truth_nodes, id_fields),
        node_identity_keys(got_nodes, id_fields),
    )
    _, _, _, pairs = match or _node_match(
        truth_nodes, got_nodes, id_fields, keyed=(tk, gk)
    )

    te = _edge_keys(truth_edges, tk)
    ge = _edge_keys(got_edges, gk)
    fold_s = pairs.select(
        "doc_id", F.col("class").alias("sclass"),
        F.col("gkey").alias("skey"), F.col("tkey").alias("stkey"),
    )
    fold_d = pairs.select(
        "doc_id", F.col("class").alias("dclass"),
        F.col("gkey").alias("dkey"), F.col("tkey").alias("dtkey"),
    )
    ge_relaxed = (
        ge.join(fold_s, ["doc_id", "sclass", "skey"], "left")
        .join(fold_d, ["doc_id", "dclass", "dkey"], "left")
        .select(
            "doc_id", "label", "sclass",
            F.coalesce("stkey", "skey").alias("skey"),
            "dclass",
            F.coalesce("dtkey", "dkey").alias("dkey"),
        )
        .distinct()
    )

    ekey = ["doc_id", "label", "sclass", "skey", "dclass", "dkey"]

    def counts(got_keys: DataFrame, suffix: str) -> DataFrame:
        tp = (
            te.join(got_keys, ekey, "semi")
            .groupBy("doc_id", "label")
            .agg(F.count(F.lit(1)).alias(f"tp_{suffix}"))
        )
        gn = got_keys.groupBy("doc_id", "label").agg(
            F.count(F.lit(1)).alias(f"got_{suffix}")
        )
        return tp.join(gn, ["doc_id", "label"], "full")

    tn = te.groupBy("doc_id", "label").agg(F.count(F.lit(1)).alias("truth_n"))
    m = (
        tn.join(counts(ge, "s"), ["doc_id", "label"], "full")
        .join(counts(ge_relaxed, "r"), ["doc_id", "label"], "full")
        .na.fill(0, ["truth_n", "tp_s", "got_s", "tp_r", "got_r"])
    )
    return m.select(
        "doc_id",
        "label",
        F.col("truth_n"),
        F.col("got_s").alias("got_n"),
        *_prf_cols(F.col("tp_s"), F.col("got_s") - F.col("tp_s"), F.col("truth_n") - F.col("tp_s"), "strict"),
        *_prf_cols(F.col("tp_r"), F.col("got_r") - F.col("tp_r"), F.col("truth_n") - F.col("tp_r"), "relaxed"),
    )


def attribute_completeness(
    truth_nodes: DataFrame,
    got_nodes: DataFrame,
    id_fields: dict[str, list[str]],
    match: tuple | None = None,
) -> DataFrame:
    """Fill-rate per (class, field) over strictly matched node pairs
    (reference completeness :539-551): for every filled truth attribute slot,
    is the got twin's same field filled? Winner node per key = min(node_id)
    each side (the reference's first-wins, made order-free). ``match`` as in
    :func:`eval_edges`."""
    tkeys, gkeys, strict, _ = match or _node_match(truth_nodes, got_nodes, id_fields)
    t = strict.select("doc_id", "class", "key", "node_id").join(
        truth_nodes.select("doc_id", "node_id", F.col("attrs").alias("t_attrs")),
        ["doc_id", "node_id"],
    )
    g = gkeys.join(strict.select("doc_id", "class", "key"), ["doc_id", "class", "key"], "semi").join(
        got_nodes.select("doc_id", "node_id", F.col("attrs").alias("g_attrs")),
        ["doc_id", "node_id"],
    ).select("doc_id", "class", "key", "g_attrs")
    filled = lambda c: (c.isNotNull()) & (F.length(F.trim(c)) > 0)  # noqa: E731
    slots = (
        t.join(g, ["doc_id", "class", "key"])
        .select("class", F.explode("t_attrs").alias("field", "tval"), "g_attrs")
        .filter(filled(F.col("tval")))
        .select(
            "class",
            "field",
            filled(F.element_at(F.col("g_attrs"), F.col("field"))).cast("int").alias("ok"),
        )
    )
    return slots.groupBy("class", "field").agg(
        F.sum("ok").alias("filled"), F.count(F.lit(1)).alias("expected")
    )


def edge_fanout(
    edges: DataFrame,
    nodes: DataFrame,
    id_fields: dict[str, list[str]],
    node_keys: DataFrame | None = None,
) -> DataFrame:
    """Per (doc, label): edge total, distinct sources, and the busiest
    source's share (reference edge_fanout :357-377 — flags dump-everything-
    on-one-parent). Unkeyed sources fall back to their raw node_id, still
    counted (:363). ``node_keys`` optionally shares a precomputed
    :func:`node_identity_keys` frame for ``nodes``."""
    if node_keys is None:
        node_keys = node_identity_keys(nodes, id_fields)
    keyed = node_keys.select(
        "doc_id", F.col("node_id").alias("src"),
        F.concat_ws(KEY_SEP, "class", "key").alias("skey"),
    )
    per_src = (
        edges.join(keyed, ["doc_id", "src"], "left")
        .select("doc_id", "label", F.coalesce("skey", "src").alias("s"))
        .groupBy("doc_id", "label", "s")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return per_src.groupBy("doc_id", "label").agg(
        F.sum("n").alias("total"),
        F.count(F.lit(1)).alias("sources"),
        (F.max("n").cast("double") / F.sum("n")).alias("top_source_share"),
    )


def integrity_stats(
    got_nodes: DataFrame,
    got_edges: DataFrame,
    id_fields: dict[str, list[str]],
    node_keys: DataFrame | None = None,
) -> DataFrame:
    """Per-document integrity findings (reference :572-580): nodes of an
    id-bearing class whose declared id fields are all unfilled (raw, pre-
    canonicalization — is_filled :248-254), orphan nodes referenced by no
    edge, and unkeyed node count (no usable canonical identity).
    ``node_keys`` as in :func:`edge_fanout`."""
    fdf = _id_fields_df(got_nodes.sparkSession, id_fields)
    raw = got_nodes.join(fdf, "class").select(
        "doc_id",
        "node_id",
        F.element_at(F.col("ids"), F.col("field")).alias("v"),
    )
    empty_ident = (
        raw.groupBy("doc_id", "node_id")
        .agg(
            F.max(
                (F.col("v").isNotNull() & (F.length(F.trim("v")) > 0)).cast("int")
            ).alias("any_filled")
        )
        .filter(F.col("any_filled") == 0)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("empty_identity_n"))
    )
    referenced = got_edges.select("doc_id", F.col("src").alias("node_id")).union(
        got_edges.select("doc_id", F.col("dst").alias("node_id"))
    )
    orphans = (
        got_nodes.select("doc_id", "node_id")
        .join(referenced, ["doc_id", "node_id"], "anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("orphan_n"))
    )
    keyed_n = (
        (node_keys if node_keys is not None else node_identity_keys(got_nodes, id_fields))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("keyed_n"))
    )
    total = got_nodes.groupBy("doc_id").agg(F.count(F.lit(1)).alias("node_n"))
    return (
        total.join(empty_ident, "doc_id", "left")
        .join(orphans, "doc_id", "left")
        .join(keyed_n, "doc_id", "left")
        .select(
            "doc_id",
            "node_n",
            F.coalesce("empty_identity_n", F.lit(0)).alias("empty_identity_n"),
            F.coalesce("orphan_n", F.lit(0)).alias("orphan_n"),
            (F.col("node_n") - F.coalesce("keyed_n", F.lit(0))).alias("unkeyed_n"),
        )
    )


def _norm_text_py(s: str) -> str:
    """Reference _normalize_text (16_…py:256-259): NFKD, loose-bullet strip,
    whitespace collapse, casefold."""
    import re
    import unicodedata

    s = unicodedata.normalize("NFKD", s)
    s = re.sub(r"(?:(?<=\s)|^)[-•*+]+(?=\S)", "", s, flags=re.MULTILINE)
    return re.sub(r"\s+", " ", s).casefold().strip()


STRONG_CONTAINMENT_CHARS = 40  # reference :98-102


def structural_align_pairs(
    truth_nodes: DataFrame,
    got_nodes: DataFrame,
    id_fields: dict[str, list[str]],
    match: tuple | None = None,
) -> DataFrame:
    """The aligned rung's extra pairs (reference structural_align :322-355 +
    _pair_similarity :299-319): after strict and relaxed matching, remaining
    same-class nodes pair greedily best-first by attribute overlap — +1.0
    per exactly-equal normalized scalar field, +1.0 per shared span >=
    STRONG_CONTAINMENT_CHARS, +0.5 per shorter containment (both sides >= 4
    chars) — accepting only score >= 1.0, each node used once.

    Runs as a cogrouped applyInPandas per (doc_id, class): the candidate
    matrix is bounded by one document's unmatched nodes of one class, never
    corpus-wide. Returns (doc_id, class, tkey, gkey, score).
    """
    import pandas as pd

    tkeys, gkeys, strict, pairs = match or _node_match(truth_nodes, got_nodes, id_fields)
    skeys = strict.select("doc_id", "class", "key")

    def remainder(keyed, nodes, paired_col):
        rem = (
            keyed.join(skeys, ["doc_id", "class", "key"], "anti")
            .join(
                pairs.select("doc_id", "class", F.col(paired_col).alias("key")),
                ["doc_id", "class", "key"],
                "anti",
            )
        )
        # Re-attach attrs. `rem` derives from `nodes`, so a bare name-list
        # join is a self-join Spark's dataset-id ambiguity check rejects when
        # truth/got share one upstream scan; alias the attrs side to fresh
        # names and join on an explicit cross-dataset condition instead.
        att = nodes.select(
            F.col("doc_id").alias("_att_doc"),
            F.col("node_id").alias("_att_nid"),
            "attrs",
        )
        return (
            rem.join(
                att,
                (rem["doc_id"] == att["_att_doc"])
                & (rem["node_id"] == att["_att_nid"]),
            )
            .select(rem["doc_id"], "class", "key", "attrs")
        )

    # reuse the key frames _node_match already built — recomputing
    # _distinct_keys(node_identity_keys(...)) here would duplicate a
    # join+groupBy shuffle subtree per side in the same plan
    trem = remainder(tkeys, truth_nodes, "tkey")
    grem = remainder(gkeys, got_nodes, "gkey")

    def score(t_attrs: dict, g_attrs: dict) -> float:
        s = 0.0
        for field, tv in (t_attrs or {}).items():
            if tv is None or not str(tv).strip():
                continue
            gv = (g_attrs or {}).get(field)
            if gv is None or not str(gv).strip():
                continue
            a, b = _norm_text_py(str(tv)), _norm_text_py(str(gv))
            if not a or not b:
                continue
            if a == b:
                s += 1.0
            elif len(a) >= 4 and len(b) >= 4 and (a in b or b in a):
                s += 1.0 if min(len(a), len(b)) >= STRONG_CONTAINMENT_CHARS else 0.5
        return s

    # doc_id inherits the input's type (string in fixtures, bigint in the
    # synthetic corpus) — a hard-coded string here breaks Arrow serialization.
    doc_type = dict(truth_nodes.dtypes)["doc_id"]
    out_schema = (
        f"doc_id {doc_type}, class string, tkey string, gkey string, score double"
    )

    def align(key, tdf: pd.DataFrame, gdf: pd.DataFrame) -> pd.DataFrame:
        if tdf.empty or gdf.empty:
            return pd.DataFrame(columns=["doc_id", "class", "tkey", "gkey", "score"])
        cands = []
        for _, t in tdf.iterrows():
            for _, g in gdf.iterrows():
                sc = score(t["attrs"], g["attrs"])
                if sc >= 1.0:
                    cands.append((sc, t["key"], g["key"]))
        cands.sort(key=lambda c: (-c[0], c[1], c[2]))
        used_t, used_g, rows = set(), set(), []
        for sc, tk, gk in cands:
            if tk in used_t or gk in used_g:
                continue
            used_t.add(tk)
            used_g.add(gk)
            rows.append((key[0], key[1], tk, gk, sc))
        return pd.DataFrame(rows, columns=["doc_id", "class", "tkey", "gkey", "score"])

    # When truth and got derive from one upstream scan the two remainders
    # share attribute exprIds, and cogroup's resolution trips Spark's
    # self-join ambiguity check; re-alias every column (fresh exprIds) on
    # each side before grouping.
    def _fresh(df: DataFrame) -> DataFrame:
        return df.select([F.col(c).alias(c) for c in df.columns])

    return (
        _fresh(trem).groupBy("doc_id", "class")
        .cogroup(_fresh(grem).groupBy("doc_id", "class"))
        .applyInPandas(align, out_schema)
    )


def eval_nodes_aligned(
    truth_nodes: DataFrame,
    got_nodes: DataFrame,
    id_fields: dict[str, list[str]],
) -> DataFrame:
    """`eval_nodes` plus the aligned rung (reference :480-487): aligned tp =
    strict + relaxed + structural pairs, fp/fn reduced accordingly."""
    # one shared _node_match for both rungs — the match subtree (identity
    # keys + distinct + strict/relaxed joins) is the expensive part of the
    # plan and would otherwise be built twice
    match = _node_match(truth_nodes, got_nodes, id_fields)
    base = eval_nodes(truth_nodes, got_nodes, id_fields, match=match)
    extra = (
        structural_align_pairs(truth_nodes, got_nodes, id_fields, match=match)
        .groupBy("doc_id", "class")
        .agg(F.count(F.lit(1)).alias("ax"))
    )
    m = base.join(extra, ["doc_id", "class"], "left").withColumn(
        "ax", F.coalesce("ax", F.lit(0))
    )
    tp_a = F.col("tp_relaxed") + F.col("ax")
    return m.select(
        *base.columns,
        *_prf_cols(tp_a, F.col("fp_relaxed") - F.col("ax"), F.col("fn_relaxed") - F.col("ax"), "aligned"),
    )


def verbatim_ratio(
    got_nodes: DataFrame, docs: DataFrame, min_chars: int = 80
) -> DataFrame:
    """Verbatim-fidelity ratio per document (reference :552-560, :601-603):
    of the extracted string attributes >= ``min_chars`` chars, how many are
    contained verbatim (normalized) in the source text? Low ratio = the
    extractor paraphrased or hallucinated long fields.

    ``docs`` = (doc_id, text). Normalization here is the engine's ASCII-fast
    JVM projection (lower + whitespace collapse) — stays in codegen; the
    reference's NFKD/bullet handling matters only for non-ASCII sources.
    """
    norm = lambda c: F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))  # noqa: E731
    vals = (
        got_nodes.select("doc_id", F.explode("attrs").alias("field", "val"))
        .filter(F.length("val") >= min_chars)
        .join(docs.select("doc_id", norm(F.col("text")).alias("src")), "doc_id")
        .select("doc_id", norm(F.col("val")).alias("v"), "src")
    )
    return vals.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("verbatim_n"),
        F.sum(F.col("src").contains(F.col("v")).cast("int")).alias("verbatim_hits"),
        (
            F.sum(F.col("src").contains(F.col("v")).cast("int")).cast("double")
            / F.count(F.lit(1))
        ).alias("verbatim_ratio"),
    )


def eval_rollup(node_metrics: DataFrame) -> DataFrame:
    """Benchmark-matrix rollup (17_benchmark_aggregate.py micro :60-70): per
    class across all documents, micro P/R/F1 at both rungs (tp/fp/fn summed
    BEFORE the ratio) plus document count and mean per-doc strict F1."""
    agg = node_metrics.groupBy("class").agg(
        F.countDistinct("doc_id").alias("docs"),
        *[
            F.sum(f"{c}_{r}").alias(f"{c}_{r}")
            for r in ("strict", "relaxed")
            for c in ("tp", "fp", "fn")
        ],
        F.avg("f1_strict").alias("mean_f1_strict"),
    )
    cols = ["class", "docs"]
    for r in ("strict", "relaxed"):
        cols.extend(_prf_cols(F.col(f"tp_{r}"), F.col(f"fp_{r}"), F.col(f"fn_{r}"), r))
    cols.append(F.col("mean_f1_strict"))
    return agg.select(*cols)
