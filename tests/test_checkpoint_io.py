"""Checkpoint/resume + exporter tests."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sparkdoc.schemas import ENTITIES, METRICS
from sparkdoc.session import local_frame


def test_run_resumable_and_resume(spark, tmp_path):
    from sparkdoc.checkpoint import completed_buckets, run_resumable
    from sparkdoc.synth import raw_nodes_df

    from sparkdoc.golden import extract_corpus_golden
    from sparkdoc.synth import synth_corpus

    n_expected = len(extract_corpus_golden(synth_corpus(24, 5)))

    out = str(tmp_path / "out")
    raw = raw_nodes_df(spark, 24, 5, partitions=4)
    s1 = run_resumable(spark, raw, out, n_buckets=4, group_size=2)
    assert sorted(s1["buckets_processed"]) == [0, 1, 2, 3]
    assert s1["docs"] == n_expected
    assert s1["spans"] > 0 and s1["chunks"] > 0
    assert completed_buckets(spark, out) == {0, 1, 2, 3}
    # all docs present exactly once
    docs = spark.read.parquet(os.path.join(out, "documents"))
    assert docs.select("doc_id").distinct().count() == n_expected
    assert docs.count() == n_expected
    # resume: nothing left to do
    s2 = run_resumable(spark, raw, out, n_buckets=4, group_size=2)
    assert s2["buckets_processed"] == []
    assert sorted(s2["buckets_skipped"]) == [0, 1, 2, 3]
    # partial kill simulation: drop manifest rows → those buckets recompute
    man = os.path.join(out, "_manifest")
    files = sorted(os.listdir(man))
    assert files
    # wipe the whole manifest, keep data: job must redo all buckets idempotently
    for f in files:
        os.remove(os.path.join(man, f))
    s3 = run_resumable(spark, raw, out, n_buckets=4, group_size=2)
    assert sorted(s3["buckets_processed"]) == [0, 1, 2, 3]
    docs2 = spark.read.parquet(os.path.join(out, "documents"))
    assert docs2.count() == n_expected  # dynamic partition overwrite → no duplicates


@pytest.fixture(scope="module")
def small_graph(spark):
    from sparkdoc.schemas import EDGES, NODES

    nodes = spark.createDataFrame(
        [
            ("P_1", "d1", "Person", "Ada", {"name": "Ada"}, '{"k":"v"}'),
            ("C_1", "d1", "Company", "ACME's \"Inc\"", {"name": "ACME"}, None),
        ],
        NODES,
    )
    edges = spark.createDataFrame([("P_1", "C_1", "works at", {"since": "2020"})], EDGES)
    return nodes, edges


def test_export_csv_and_json_roundtrip(spark, small_graph, tmp_path):
    from sparkdoc.io import export_csv, export_json, graph_to_dict, load_graph_from_json

    nodes, edges = small_graph
    out = str(tmp_path / "g")
    export_csv(nodes, edges, out)
    n = spark.read.option("header", True).option("escape", '"').csv(f"{out}/nodes.csv")
    assert n.count() == 2
    assert set(n.columns) == {"id:ID", ":LABEL", "label", "attrs", "provenance"}
    export_json(nodes, edges, out)
    n2, e2 = load_graph_from_json(spark, out)
    assert n2.count() == 2 and e2.count() == 1
    d = graph_to_dict(nodes, edges)
    assert d["metadata"] == {"node_count": 2, "edge_count": 1}
    json.dumps(d)  # serializable


def test_json_roundtrip_all_null_provenance_and_no_edges(spark, tmp_path):
    """Every pipeline-produced node has provenance=NULL (entities_to_nodes),
    and the JSON writer drops null fields — the loader must read with the
    explicit schema (null-filled provenance, attrs as a MAP), not inference,
    and an edgeless graph must load instead of failing to resolve columns."""
    from pyspark.sql import functions as F

    from sparkdoc.io import export_json, load_graph_from_json
    from sparkdoc.schemas import EDGES, NODES

    nodes = spark.createDataFrame(
        [
            ("P_1", "d1", "Person", "Ada", {"name": "Ada"}, None),
            ("C_1", "d1", "Company", "ACME", {"hq": "Berlin"}, None),
        ],
        NODES,
    )
    edges = spark.createDataFrame([], EDGES)
    out = str(tmp_path / "gnull")
    export_json(nodes, edges, out)
    n2, e2 = load_graph_from_json(spark, out)
    rows = {r["node_id"]: r for r in n2.collect()}
    assert rows["P_1"]["provenance"] is None
    assert rows["P_1"]["attrs"] == {"name": "Ada"}  # map, not inferred struct
    assert rows["C_1"]["attrs"] == {"hq": "Berlin"}
    # attrs stays usable as a MAP downstream
    assert n2.select(F.map_keys("attrs")).count() == 2
    assert e2.count() == 0 and set(e2.columns) == {"src", "dst", "label", "props"}


def test_run_resumable_refuses_changed_params(spark, tmp_path):
    """completed_buckets keys on bucket number; resuming with different
    n_buckets (renumbered) or chunk flag (missing chunk outputs) must be a
    hard error, not silent data loss."""
    import pytest

    from sparkdoc.checkpoint import run_resumable
    from sparkdoc.synth import raw_nodes_df

    out = str(tmp_path / "resume_guard")
    raw = raw_nodes_df(spark, 60, 42, partitions=2)
    run_resumable(spark, raw, out, n_buckets=4, group_size=4)
    with pytest.raises(ValueError, match="n_buckets"):
        run_resumable(spark, raw, out, n_buckets=8, group_size=4)
    with pytest.raises(ValueError, match="chunk"):
        run_resumable(spark, raw, out, n_buckets=4, group_size=4, chunk=False)
    # unchanged params still resume cleanly
    r = run_resumable(spark, raw, out, n_buckets=4, group_size=4)
    assert r["buckets_processed"] == []


def test_export_cypher(spark, small_graph, tmp_path):
    from sparkdoc.io import export_cypher

    nodes, edges = small_graph
    out = str(tmp_path / "cy")
    export_cypher(nodes, edges, out)
    lines = [r["value"] for r in spark.read.text(out).collect()]
    text = "\n".join(lines)
    assert "CREATE CONSTRAINT IF NOT EXISTS FOR (n:`Person`)" in text
    # MERGE keys on {id} alone, then SETs label + attrs (idempotent refresh)
    assert "MERGE (n:`Person` {id: 'P_1'}) SET n.label = 'Ada', n.`name` = 'Ada';" in text
    # relationship type backticked (not sanitized-to-underscore) + props map
    assert "[:`WORKS AT` {`since`: '2020'}]" in text
    assert "ACME\\'s" in text  # quote escaping
    # edge MATCHes carry endpoint labels so the per-label uniqueness index
    # serves the import (unlabeled property MATCH = AllNodesScan per edge)
    assert "MATCH (a:`Person` {id: " in text


def test_export_cypher_hostile_labels_and_duplicates(spark, tmp_path):
    """Empty / digit-leading edge labels stay valid Cypher; per-doc node
    duplicates collapse to ONE deterministic statement (duplicate MERGEs
    with differing attrs would CREATE a second node)."""
    from sparkdoc.io import export_cypher
    from sparkdoc.schemas import EDGES, NODES

    nodes = spark.createDataFrame(
        [
            ("N1", "d1", "T", "n1", {"a": "from-d1"}, None),
            ("N1", "d2", "T", "n1", {"a": "from-d2"}, None),  # per-doc duplicate
            ("N2", "d1", "T", "n2", {}, None),
        ],
        NODES,
    )
    edges = spark.createDataFrame(
        [("N1", "N2", "", None), ("N2", "N1", "2nd_ref", {"w": "3"})], EDGES
    )
    out = str(tmp_path / "cy2")
    export_cypher(nodes, edges, out)
    text = "\n".join(r["value"] for r in spark.read.text(out).collect())
    assert text.count("MERGE (n:`T` {id: 'N1'})") == 1  # deduped
    assert "from-d1" in text and "from-d2" not in text  # smallest doc_id wins
    assert "[:`REL`]" in text  # empty label fallback, still valid Cypher
    assert "[:`2ND_REF` {`w`: '3'}]" in text  # digit-leading label valid


def test_bucketed_write_joins_without_shuffle(spark):
    """The Iceberg-distribution-mode claim, demonstrated: two tables bucketed
    by doc_id (same bucket count) join with NO Exchange in the plan."""
    from pyspark.sql import functions as F

    from sparkdoc.io import write_bucketed_table

    docs = spark.range(0, 500).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"), F.col("id").alias("x")
    )
    chunks = spark.range(0, 2000).select(
        F.concat(F.lit("d"), (F.col("id") % 500)).alias("doc_id"), F.col("id").alias("c")
    )
    write_bucketed_table(docs, "t_docs_b", buckets=8)
    write_bucketed_table(chunks, "t_chunks_b", buckets=8)
    a = spark.table("t_docs_b")
    b = spark.table("t_chunks_b")
    # force the non-broadcast strategy (tiny test tables would broadcast):
    # bucketing must make the SortMergeJoin shuffle-free on BOTH sides
    joined = a.hint("merge").join(b, "doc_id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "SortMergeJoin" in plan, plan
    assert joined.count() == 2000
    # and a doc_id aggregation over a bucketed table needs no shuffle either
    agg = b.groupBy("doc_id").agg(F.count("*").alias("n"))
    aplan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in aplan, aplan
    assert agg.count() == 500


def test_run_resumable_zero_chunk_group(spark, tmp_path):
    """A bucket group yielding ZERO chunks (fewer docs than buckets) must not
    crash the chunk-count read-back on a footer-less parquet dir."""
    from sparkdoc.checkpoint import run_resumable
    from sparkdoc.synth import raw_nodes_df

    out = str(tmp_path / "tiny")
    r = run_resumable(spark, raw_nodes_df(spark, 3, 42, partitions=1), out,
                      n_buckets=16, group_size=4)
    assert len(r["buckets_processed"]) == 16
    assert r["docs"] >= 1


def test_driver_artifact_io_scheme_aware(spark, tmp_path):
    """write_text_file/read_text_file/fs_is_dir go through the Hadoop FS API
    (same storage as the data: hdfs/s3a on a cluster, file:// here) — parents
    auto-created, overwrite semantics, UTF-8 faithful, None on absence."""
    from sparkdoc.io import fs_exists, fs_is_dir, read_text_file, write_text_file

    path = str(tmp_path / "nested" / "dir" / "manifest.json")
    assert read_text_file(spark, path) is None
    assert not fs_exists(spark, path)

    body = '{"template_schema_hash": "abc123", "note": "naïve — ünïcødé"}'
    write_text_file(spark, path, body)  # parents created by Hadoop create()
    assert read_text_file(spark, path) == body
    assert fs_exists(spark, path)
    assert not fs_is_dir(spark, path)  # a file is not a dir
    assert fs_is_dir(spark, str(tmp_path / "nested"))
    assert not fs_is_dir(spark, str(tmp_path / "absent"))

    write_text_file(spark, path, "v2")  # overwrite, not append
    assert read_text_file(spark, path) == "v2"

    # explicit file:// scheme resolves identically
    assert read_text_file(spark, f"file://{path}") == "v2"

    # artifacts are human/tool-editable: an EXTERNAL edit (plain open(),
    # which knows nothing of Hadoop's .crc sidecars) must not poison later
    # reads with ChecksumException — the helpers bypass the checksum layer
    with open(path, "w", encoding="utf-8") as f:
        f.write("edited outside the engine")
    assert read_text_file(spark, path) == "edited outside the engine"


def test_corrupt_run_params_refuses_resume(spark, tmp_path):
    """An EXISTING-but-unreadable _run_params must raise, not silently
    disable the partitioning-params guard and get overwritten."""
    import os

    import pytest

    from sparkdoc.checkpoint import _check_or_record_params, _params_path

    out = str(tmp_path / "run")
    _check_or_record_params(spark, out, n_buckets=8, chunk=True)
    # matching params resume fine
    _check_or_record_params(spark, out, n_buckets=8, chunk=True)
    with pytest.raises(ValueError, match="differ"):
        _check_or_record_params(spark, out, n_buckets=16, chunk=True)
    # corrupt the params file → hard refusal, never overwrite
    pdir = _params_path(out)
    for f in os.listdir(pdir):
        if f.endswith(".json"):
            with open(os.path.join(pdir, f), "w") as fh:
                fh.write("{ not json")
    with pytest.raises(Exception, match="unreadable|corrupt|_corrupt"):
        _check_or_record_params(spark, out, n_buckets=8, chunk=True)


def _capture_local_frames(monkeypatch):
    """Record every frame checkpoint builds through local_frame."""
    import sparkdoc.checkpoint as ckpt

    built = []
    real = ckpt.local_frame

    def spy(spark, rows, schema):
        df = real(spark, rows, schema)
        built.append(df)
        return df

    monkeypatch.setattr(ckpt, "local_frame", spy)
    return built


def test_manifest_frame_schema_is_metrics(spark, tmp_path, monkeypatch):
    """The manifest rows keep the METRICS schema exactly, nullability
    included, and land in the committed manifest unchanged."""
    from sparkdoc.checkpoint import commit_bucket_group, manifest_path

    built = _capture_local_frames(monkeypatch)
    rows = [
        {"bucket": 0, "n_docs": 3, "n_spans": 40, "n_chunks": 5, "wall_ms": 12,
         "commit_seq": 0, "fmt_counts": '{"pdf":3}'},
        {"bucket": 1, "n_docs": 0, "n_spans": 0, "wall_ms": 12, "commit_seq": 0},
    ]
    out = str(tmp_path / "out")
    commit_bucket_group(spark, out, "job1", rows)
    assert len(built) == 1 and built[0].schema == METRICS
    got = sorted(
        tuple(r) for r in spark.read.schema(METRICS).parquet(manifest_path(out)).collect()
    )
    assert got == [("job1", 0, 3, 40, 5, 12, 0, '{"pdf":3}'), ("job1", 1, 0, 0, 0, 12, 0, "")]


def test_run_params_file_bytes_unchanged(spark, tmp_path):
    from sparkdoc.checkpoint import _check_or_record_params, _params_path

    out = str(tmp_path / "run")
    _check_or_record_params(spark, out, n_buckets=4, chunk=True)
    pdir = _params_path(out)
    parts = [f for f in os.listdir(pdir) if f.endswith(".json")]
    assert len(parts) == 1
    with open(os.path.join(pdir, parts[0]), "rb") as fh:
        assert fh.read() == b'{"n_buckets":4,"chunk":true}\n'


def test_resume_out_dir_committed_by_list_built_frames(spark, tmp_path, monkeypatch):
    """An out_dir whose params and manifest were written through Python-list
    frames (the pre-Arrow writers) resumes with nothing reprocessed."""
    import sparkdoc.checkpoint as ckpt
    from sparkdoc.synth import raw_nodes_df

    out = str(tmp_path / "old")
    raw = raw_nodes_df(spark, 24, 5, partitions=2)
    # the former params writer: JSON text → from_json → json file
    spark.createDataFrame([(json.dumps({"n_buckets": 4, "chunk": True}),)], "v string").selectExpr(
        "from_json(v, 'n_buckets int, chunk boolean') as p"
    ).select("p.*").coalesce(1).write.mode("overwrite").json(ckpt._params_path(out))
    # the former manifest writer: createDataFrame over a Python list
    with monkeypatch.context() as m:
        m.setattr(ckpt, "local_frame", lambda s, rows, schema: s.createDataFrame(list(rows), schema))
        first = ckpt.run_resumable(spark, raw, out, n_buckets=4, group_size=2)
    assert sorted(first["buckets_processed"]) == [0, 1, 2, 3]
    again = ckpt.run_resumable(spark, raw, out, n_buckets=4, group_size=2)
    assert again["buckets_processed"] == []
    assert sorted(again["buckets_skipped"]) == [0, 1, 2, 3]


def test_manifest_wall_ms_counts_the_parse_once(spark, tmp_path, monkeypatch):
    """wall_ms = the group's parse + its write/commit: a single-group run
    (no prefetch pool) must not also count the parse in the loop timer."""
    import time

    import sparkdoc.checkpoint as ckpt
    import sparkdoc.spans as spans_mod
    from sparkdoc.synth import raw_nodes_df

    delay_s = 3.0
    real = spans_mod.extract_documents

    class SlowCount:
        """The group's documents frame with a parse that takes delay_s."""

        def __init__(self, df):
            self._df = df

        def persist(self):
            self._df = self._df.persist()
            return self

        def count(self):
            time.sleep(delay_s)
            return self._df.count()

        def __getattr__(self, name):
            return getattr(self._df, name)

    monkeypatch.setattr(spans_mod, "extract_documents", lambda raw: SlowCount(real(raw)))
    out = str(tmp_path / "wall")
    t0 = time.monotonic()
    ckpt.run_resumable(spark, raw_nodes_df(spark, 12, 5, partitions=2), out,
                       n_buckets=2, group_size=2, chunk=False)
    total_ms = (time.monotonic() - t0) * 1000
    walls = {r["wall_ms"] for r in spark.read.schema(METRICS).parquet(ckpt.manifest_path(out)).collect()}
    assert len(walls) == 1
    wall_ms = walls.pop()
    assert delay_s * 1000 <= wall_ms <= total_ms


# --------------------------------------------------------------------------
# session.local_frame, the builder behind the ledger frames: round-trips
# against the Python-list path
# --------------------------------------------------------------------------

LF_DDL = "id string, m map<string,string>, v array<double>, n bigint, ok boolean"
LF_ROWS = [
    ("a", {"k": "v", "x": None}, [1.0, -2.5, float("inf")], 2**40, True),
    ("b", None, None, None, None),
    ("c", {}, [], 0, False),
    ("naïve ΣΟΦΟΣ", {"ü": "ñ"}, [0.1], -1, True),
]


def _lf_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=lambda r: r[0])


def test_local_frame_round_trip_matches_list_path(spark):
    got = local_frame(spark, LF_ROWS, LF_DDL)
    ref = spark.createDataFrame(LF_ROWS, LF_DDL)
    assert got.schema == ref.schema
    assert _lf_rows(got) == _lf_rows(ref)


@pytest.mark.parametrize("schema", [LF_DDL, METRICS, ENTITIES, "v string"])
def test_local_frame_empty_rows_keep_schema(spark, schema):
    df = local_frame(spark, [], schema)
    ref = spark.createDataFrame([], schema)
    assert df.schema == ref.schema
    assert df.count() == 0
    # an empty frame still unions with the typed frames it stands in for
    assert df.unionByName(ref).count() == 0


def test_local_frame_struct_schema_nullability_kept(spark):
    df = local_frame(spark, [("j", 1, 2, 3, 4, 5, 6, None)], METRICS)
    assert df.schema == METRICS
    assert [f.nullable for f in df.schema] == [f.nullable for f in METRICS]
    assert df.collect()[0]["fmt_counts"] is None


def test_local_frame_accepts_generators_and_numpy_scalars(spark):
    import numpy as np

    df = local_frame(spark, ((np.int64(i), float(i) / 2) for i in range(3)), "bucket bigint, w double")
    assert _lf_rows(df) == [(0, 0.0), (1, 0.5), (2, 1.0)]


def test_local_frame_type_mismatch_raises(spark):
    with pytest.raises(Exception):
        local_frame(spark, [("not an int",)], "n int")
