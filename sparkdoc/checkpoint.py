"""Per-partition checkpoint commits + resume (north-rule requirement).

Strategy (Iceberg-snapshot analog on plain parquet): the corpus is split into
B deterministic buckets by ``pmod(hash(doc_id), B)``. The job processes
buckets in groups; each group's output lands under ``out/bucket=<b>/`` and a
manifest row (job_id, bucket, n_docs, n_spans, n_chunks, wall_ms, commit_seq)
is appended ATOMICALLY AFTER the data (temp-dir rename — the parquet fallback
for an Iceberg snapshot commit). On restart, completed buckets are read from
the manifest and anti-joined away, so a killed job resumes without
recomputing finished work.

Reference analog: the per-run metadata.json / trace ledger and
dropped-chunk/retention accounting (pipeline/orchestrator.py:133-232,
dense/orchestrator.py:2010-2070) — here promoted to a real commit log.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkdoc.schemas import METRICS
from sparkdoc.session import local_frame


def with_bucket(df: DataFrame, n_buckets: int, key: str = "doc_id") -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.hash(F.col(key)), F.lit(n_buckets)))


def manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def completed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    """Bucket numbers with committed manifest rows. Absence of the manifest
    means a fresh run (empty set); a manifest that EXISTS but cannot be read
    raises — treating a transient storage error as "nothing committed" would
    re-process committed buckets (and, worse, let _check_or_record_params
    overwrite the recorded partitioning params)."""
    from sparkdoc.io import fs_exists

    path = manifest_path(out_dir)
    if not fs_exists(spark, path):
        return set()
    rows = spark.read.schema(METRICS).parquet(path).select("bucket").distinct().collect()
    return {r["bucket"] for r in rows}


def _hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for ``path_str`` via the JVM Hadoop API — resolves
    the scheme (file://, hdfs://, s3a://…), so the commit log works on the
    same storage the data lands on, not just the driver's local disk."""
    from sparkdoc.io import hadoop_fs

    return hadoop_fs(spark, path_str)


def commit_bucket_group(
    spark: SparkSession,
    out_dir: str,
    job_id: str,
    metrics_rows: list[dict],
) -> None:
    """Append manifest rows atomically: write to a temp dir, then RENAME the
    parquet files into the manifest dir through the Hadoop FileSystem API
    (atomic on POSIX and HDFS; on S3 the rename is copy+delete but the
    manifest stays consistent because readers key on whole files)."""
    path = manifest_path(out_dir)
    tmp = os.path.join(out_dir, f"_manifest_tmp_{uuid.uuid4().hex}")
    df = local_frame(
        spark,
        [
            (
                job_id,
                int(m["bucket"]),
                int(m["n_docs"]),
                int(m["n_spans"]),
                int(m.get("n_chunks", 0)),
                int(m["wall_ms"]),
                int(m["commit_seq"]),
                m.get("fmt_counts", ""),
            )
            for m in metrics_rows
        ],
        METRICS,
    )
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    fs, manifest_p = _hadoop_fs(spark, path)
    fs.mkdirs(manifest_p)
    tmp_p = jvm_path(tmp)
    for status in fs.listStatus(tmp_p):
        name = status.getPath().getName()
        if name.endswith(".parquet"):
            target = jvm_path(manifest_p, f"{uuid.uuid4().hex}.parquet")
            # Hadoop rename reports failure by RETURNING FALSE, not raising —
            # swallowing it would mark the commit done while the manifest row
            # is lost (resume would recompute a bucket the summary claimed
            # committed, and the ledger accounting would be silently wrong)
            if not fs.rename(status.getPath(), target):
                raise IOError(
                    f"manifest commit failed: rename {status.getPath()} -> {target} "
                    "returned false (filesystem refused the move)"
                )
    fs.delete(tmp_p, True)


def _params_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_run_params")


def _check_or_record_params(spark: SparkSession, out_dir: str, **params) -> None:
    """Resume safety: completed_buckets keys on bucket NUMBER, so resuming
    with a different n_buckets (renumbers every bucket) or chunk flag
    (committed buckets would permanently lack their chunks) silently loses
    data. First run records the partitioning params next to the manifest;
    any later run must match or gets a hard error (fresh out_dir to change
    them)."""
    from sparkdoc.io import fs_exists

    # absence = first run; an EXISTING-but-unreadable params file must
    # raise, not silently disable this guard and overwrite the recorded
    # params (a bare except here turned a corrupt file into exactly the
    # n_buckets-renumbering data loss the guard exists to prevent)
    if fs_exists(spark, _params_path(out_dir)):
        rows = spark.read.json(_params_path(out_dir)).collect()
        prior = rows[0].asDict() if rows else None
        if prior is not None and "_corrupt_record" in prior:
            raise ValueError(
                f"run_resumable: {_params_path(out_dir)} is unreadable "
                f"({prior['_corrupt_record']!r}) — refusing to resume with "
                "unverifiable partitioning params; restore the file or use "
                "a fresh out_dir"
            )
    else:
        prior = None
    if prior is None:
        local_frame(
            spark,
            [(int(params["n_buckets"]), bool(params["chunk"]))],
            "n_buckets int, chunk boolean",
        ).coalesce(1).write.mode("overwrite").json(_params_path(out_dir))
        return
    mismatched = {
        k: (prior.get(k), v) for k, v in params.items() if prior.get(k) != v
    }
    if mismatched:
        raise ValueError(
            "run_resumable params differ from the committed run in "
            f"{out_dir!r}: {mismatched} — resuming would silently skip or "
            "lose work (bucket numbers / chunk outputs no longer line up). "
            "Use the original params or a fresh out_dir."
        )


def run_resumable(
    spark: SparkSession,
    raw_nodes: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    group_size: int = 4,
    job_id: str | None = None,
    chunk: bool = True,
    documents_input: bool = False,
    documents_fn=None,
    raw_for_group=None,
) -> dict:
    """Extract (+ chunk) with per-bucket-group commits; resumes automatically.

    With ``documents_input=True`` the first argument is already a
    documents-shaped table (doc_id, spans, extra columns pass through to the
    write — the mixed-format ingest adds ``fmt``) and the extract stage is
    skipped: bucketing, commits, and resume semantics are identical.

    ``documents_fn`` defers an expensive blob parse to AFTER the bucket
    filter: the first argument is then a (doc_id, blob, ...) table, bucketed
    cheaply on doc_id, and ``documents_fn(group_blobs)`` produces the
    documents per group — so each blob is parsed exactly once across all
    groups instead of once per group (parsing upstream of the filter would
    re-run the whole corpus parse every iteration).

    ``raw_for_group(group: list[int]) -> DataFrame`` goes one step further
    for CONTAINER-file inputs (warcdir), where the doc-level bucket filter
    still sits downstream of the container split and the whole crawl would
    be re-listed, re-read and re-record-split once per group. The factory
    must return ONLY the group's rows, carrying a ``bucket`` column that is
    a pure function of each row (the warc source buckets by
    ``file_bucket(warc_name)`` at partition-PLANNING time, so excluded
    containers are never opened — each container is read exactly once per
    run). ``documents_fn`` is then required to pass ``bucket`` through the
    parse (``mixed_to_documents(..., passthrough=["bucket"])``); commits,
    resume, and the partitioned writes key on that column unchanged.

    Returns a summary dict with buckets processed/skipped and totals.
    """
    from sparkdoc.chunker import chunk_documents
    from sparkdoc.spans import extract_documents

    job_id = job_id or uuid.uuid4().hex[:12]
    _check_or_record_params(spark, out_dir, n_buckets=n_buckets, chunk=chunk)
    done = completed_buckets(spark, out_dir)
    bucketed = None if raw_for_group is not None else with_bucket(raw_nodes, n_buckets)
    todo = [b for b in range(n_buckets) if b not in done]
    seq = len(done)
    totals = {"docs": 0, "spans": 0, "chunks": 0}

    def _prepare(group: list[int]):
        """Build + CACHE one group's documents (the expensive parse runs at
        the .count()). Runs on the prefetch thread for group N+1 while the
        main thread writes/commits group N — compute overlaps commit
        latency, while all WRITES stay on the main thread in manifest order
        (two concurrent writes into one parquet root would race in the
        shared _temporary staging dir, and out-of-order manifests would
        weaken the resume story; kill/resume semantics are unchanged — a
        prefetched-but-uncommitted group is simply recomputed)."""
        if raw_for_group is not None:
            if documents_fn is None:
                raise ValueError("raw_for_group requires documents_fn")
            part = raw_for_group(group)
            if "bucket" not in part.columns:
                raise ValueError("raw_for_group must return a bucket column")
            # the factory's bucket column IS the commit key — the parse
            # passes it through, no re-hash of doc_id (doc-hash buckets
            # would scatter one container's docs across all groups)
            docs = documents_fn(part).persist()
            docs_b = docs
        else:
            part = bucketed.filter(F.col("bucket").isin(group))
            if documents_fn is not None:
                docs = documents_fn(part.drop("bucket")).persist()
            elif documents_input:
                docs = part.drop("bucket").persist()
            else:
                docs = extract_documents(part.drop("bucket")).persist()
            docs_b = with_bucket(docs, n_buckets)
        t_prep = time.monotonic()
        docs.count()  # materialize the cache NOW, on this thread
        return docs, docs_b, int((time.monotonic() - t_prep) * 1000)

    from concurrent.futures import ThreadPoolExecutor

    groups = [todo[gi : gi + group_size] for gi in range(0, len(todo), group_size)]
    pool = ThreadPoolExecutor(max_workers=1) if len(groups) > 1 else None
    try:
        fut = pool.submit(_prepare, groups[0]) if pool else None
        for idx, group in enumerate(groups):
            docs, docs_b, prep_ms = (
                fut.result() if fut is not None else _prepare(group)
            )
            # the loop timer starts once the prepared group is in hand:
            # prep_ms already holds the parse, so timing the wait (or the
            # un-prefetched _prepare) here too would count it twice
            t0 = time.monotonic()
            fut = None
            if pool and idx + 1 < len(groups):
                fut = pool.submit(_prepare, groups[idx + 1])
            docs_b.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy("bucket").parquet(
                os.path.join(out_dir, "documents")
            )
            # ONE aggregation pass serves both the per-bucket doc/span
            # totals and (for mixed/WARC ingests) the per-format lineage:
            # grouping by (bucket, fmt) and folding driver-side replaces the
            # former two separate scans of the cached group (round 6 — each
            # scan of a 240k-doc group with span arrays cost ~1-2 s)
            has_fmt = "fmt" in docs_b.columns
            gcols = ["bucket", "fmt"] if has_fmt else ["bucket"]
            cells = (
                docs_b.groupBy(*gcols)
                .agg(F.count("*").alias("n_docs"), F.sum(F.size("spans")).alias("n_spans"))
                .collect()
            )
            per_bucket: dict[int, dict] = {}
            fmt_counts_by_bucket: dict[int, dict[str, int]] = {}
            for r in cells:
                s = per_bucket.setdefault(
                    r["bucket"], {"n_docs": 0, "n_spans": 0}
                )
                s["n_docs"] += r["n_docs"]
                s["n_spans"] += r["n_spans"] or 0
                if has_fmt:
                    fmt_counts_by_bucket.setdefault(r["bucket"], {})[r["fmt"]] = r["n_docs"]
            fmt_by_bucket: dict[int, str] = {}
            if has_fmt:
                import json as _json

                fmt_by_bucket = {
                    b: _json.dumps(dict(sorted(c.items())))
                    for b, c in fmt_counts_by_bucket.items()
                }
            n_chunks_by_bucket: dict[int, int] = {}
            if chunk:
                # mixed-format docs carry an extra fmt column; the chunker's
                # Arrow stage needs exactly (doc_id, spans)
                if raw_for_group is not None:
                    # container-bucketed runs: a doc's bucket is its CONTAINER's
                    # bucket, not hash(doc_id) — rejoin it from the (cached)
                    # docs frame so chunk partitions land in the committed dirs
                    ch = chunk_documents(docs.select("doc_id", "spans")).join(
                        docs.select("doc_id", "bucket"), "doc_id"
                    )
                else:
                    ch = with_bucket(
                        chunk_documents(docs.select("doc_id", "spans")), n_buckets
                    )
                ch_path = os.path.join(out_dir, "chunks")
                ch.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy("bucket").parquet(
                    ch_path
                )
                # count from the WRITTEN parquet: a count on `ch` would re-run
                # the whole chunking mapInPandas stage (docs is cached but the
                # chunk stage itself is not) — the scan of what was just written
                # is the same numbers for a fraction of the cost. Explicit
                # schema: a group with ZERO chunks (fewer docs than buckets)
                # leaves the dir without parquet footers and a schema-inferring
                # read would die with UNABLE_TO_INFER_SCHEMA before any commit
                from pyspark.sql.types import IntegerType, StructField, StructType

                from sparkdoc.schemas import CHUNKS

                # copy, don't CHUNKS.add(...): StructType.add mutates in place
                ch_schema = StructType(list(CHUNKS.fields) + [StructField("bucket", IntegerType())])
                n_chunks_by_bucket = {
                    r["bucket"]: r["n"]
                    for r in spark.read.schema(ch_schema).parquet(ch_path)
                    .filter(F.col("bucket").isin(group))
                    .groupBy("bucket")
                    .agg(F.count("*").alias("n"))
                    .collect()
                }
            docs.unpersist()
            # wall_ms = the group's own parse (timed INSIDE _prepare — for
            # prefetched groups it overlaps the previous group's commit
            # wall-clock, so the loop timer alone under-reported it as
            # write-only) + this loop pass's write/commit time
            wall_ms = prep_ms + int((time.monotonic() - t0) * 1000)
            rows = []
            for b in group:
                stat = per_bucket.get(b)
                rows.append(
                    {
                        "bucket": b,
                        "n_docs": stat["n_docs"] if stat else 0,
                        "n_spans": stat["n_spans"] if stat else 0,
                        "n_chunks": n_chunks_by_bucket.get(b, 0),
                        "wall_ms": wall_ms,
                        "commit_seq": seq,
                        "fmt_counts": fmt_by_bucket.get(b, ""),
                    }
                )
                totals["docs"] += rows[-1]["n_docs"]
                totals["spans"] += rows[-1]["n_spans"]
                totals["chunks"] += rows[-1]["n_chunks"]
            commit_bucket_group(spark, out_dir, job_id, rows)
            seq += 1
    finally:
        if pool:
            # an exception mid-loop can leave an in-flight _prepare whose
            # persisted frame would never be unpersisted (and whose count
            # job would keep running); consume it and release the cache
            if fut is not None:
                try:
                    docs_left, _, _ = fut.result()
                    docs_left.unpersist()
                except Exception:
                    pass
            pool.shutdown(wait=False, cancel_futures=True)
    return {
        "job_id": job_id,
        "buckets_skipped": sorted(done),
        "buckets_processed": todo,
        **totals,
    }
