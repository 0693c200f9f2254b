"""Embedding similarity search: brute-force cosine top-k + LSH-bucketed ANN.

Scale picture: brute force is a broadcast nested-loop of Q query vectors
against N corpus vectors — linear in N, embarrassingly parallel, the right
baseline when Q is small (broadcast the queries, never shuffle the corpus).
The ANN path buckets vectors by random-hyperplane sign bits (public SimHash-
for-vectors), turning the search into an equi-join on bucket id: corpus is
hashed once, each query probes only its bucket (and optional multi-probe
neighbors). Everything is JVM exprs (zip_with/aggregate) — no Python in the
similarity kernel.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sparkdoc.session import local_frame


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def dot_numpy(a: Column, b: Column) -> Column:
    """Arrow-batched numpy dot — the SCALE verify path. Measured
    (sparkdoc/bench/ann_verify.py, BENCH/BASELINE.md): the interpreted HOF
    fold wins/ties up to ~500k candidate pairs (0.79 vs 0.76 s), numpy wins
    2.2× at 4M pairs (3.76 vs 1.73 s) — at billions of pairs (100 TB) use
    this. Default stays the HOF fold: bit-exact against the DuckDB
    ``list_reduce`` oracle twin (sequential left fold), where numpy's
    pairwise summation rounds differently below the 1e-6 oracle rounding."""
    import numpy as np
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _dot(x: pd.Series, y: pd.Series) -> pd.Series:
        xm = np.stack(x.to_numpy())
        ym = np.stack(y.to_numpy())
        return pd.Series(np.einsum("ij,ij->i", xm, ym))

    return _dot(a, b)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _with_unit(df: DataFrame, vec_col: str, out: str) -> DataFrame:
    """Pre-normalize: out = vec / ||vec|| computed ONCE per row.

    The norm is materialized as a bound column BEFORE the transform — HOF
    lambdas evaluate interpreted and re-evaluate multi-referenced
    subexpressions per element, so norm() inside the lambda would be O(d²)
    per row (and norm() inside a join projection re-runs per candidate PAIR,
    the round-1 perf bug). After this, every pair costs a single dot."""
    # zero-norm (or null) vectors are dropped: 0/0 normalizes to NaN, and
    # Spark sorts NaN ABOVE every real cosine — a single zero vector would
    # otherwise become the rank-1 "neighbor" of every query
    return (
        df.withColumn("_n", norm(_as_double(F.col(vec_col))))
        .filter(F.col("_n") > 0)
        .withColumn(out, F.transform(_as_double(F.col(vec_col)), lambda x: x / F.col("_n")))
        .drop("_n")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query. queries is small → broadcast/collect
    (same size contract either way); ranking is a per-query window top-k.

    Execution: the per-pair dot is an Arrow-batched numpy kernel over the
    corpus (queries ride along collected, like the package's k-sized
    model/centroid fetches) that emits a per-task partial top-k; a final
    window merges the partials. Bit-exact with the interpreted HOF-fold
    formulation (``_brute_force_topk_hof``): float→double casts, sequential
    left-fold accumulation over dimensions (vectorized across rows,
    sequential across dims — numpy ``+=`` per dimension is the same IEEE
    add chain as ``aggregate(zip_with(...))``), Spark's NaN-greatest
    ordering, and zip_with's null-on-length-mismatch semantics are all
    replicated; ``tests/test_similarity_kernel.py`` pins kernel == HOF on
    hostile inputs (zero vectors, NaN/null elements, ragged dims, ties).
    Non-bigint id columns fall back to the HOF path (the kernel emits
    int64 Arrow arrays and its numpy tie-break mirrors Spark's ordering
    only for integral ids)."""
    from pyspark.sql.types import LongType

    cid = {f.name: f.dataType for f in corpus.schema.fields}.get(id_col)
    qid = {f.name: f.dataType for f in queries.schema.fields}.get(id_col)
    if not (isinstance(cid, LongType) and isinstance(qid, LongType)):
        return _brute_force_topk_hof(corpus, queries, k, id_col, vec_col)

    qrows = queries.select(id_col, vec_col).collect()
    qids, qmat_rows = _normalized_query_rows(qrows)
    spark = corpus.sparkSession
    out_schema = (
        f"query_id {qid.simpleString()}, neighbor_id {cid.simpleString()}, cos double"
    )
    if not qids:
        return (
            local_frame(spark, [], out_schema)
            .select("query_id", "neighbor_id", F.lit(0).alias("rank"), "cos")
        )

    kernel = _make_topk_kernel(qids, qmat_rows, k)
    partial = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).mapInArrow(kernel, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))
    )


def _brute_force_topk_hof(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The original all-JVM formulation (broadcast nested-loop + interpreted
    HOF dot) — the semantic reference the Arrow kernel is pinned against,
    and the fallback for id types the kernel's tie-break doesn't cover."""
    q = F.broadcast(
        _with_unit(queries, vec_col, "qv").select(F.col(id_col).alias("query_id"), "qv")
    )
    c = _with_unit(corpus, vec_col, "cv").select(F.col(id_col).alias("neighbor_id"), "cv")
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", dot(F.col("qv"), F.col("cv")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))
    )


def _seq_fold_norms(mat):
    """||v|| per row with the HOF fold's exact add chain: acc = acc + v_j²,
    j ascending, float64 — vectorized across rows, sequential across dims."""
    import numpy as np

    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for j in range(mat.shape[1]):
        acc = acc + mat[:, j] * mat[:, j]
    return np.sqrt(acc)


def _normalized_query_rows(qrows):
    """Driver-side twin of ``_with_unit`` over collected (id, vec) rows:
    float64 cast, sequential-fold norm, keep ``norm > 0 OR isnan(norm)``
    (Spark's NaN-greatest `>` keeps NaN norms), drop null arrays/elements
    (null propagates to a null norm, and ``null > 0`` filters false).
    Returns (ids, unit-vector rows as float64 ndarrays)."""
    import numpy as np

    ids: list = []
    vecs: list = []
    for row in qrows:
        vid, vec = row[0], row[1]
        if vid is None or vec is None or any(x is None for x in vec):
            continue
        v = np.asarray(vec, dtype=np.float64)
        n = _seq_fold_norms(v.reshape(1, -1))[0]
        if not (n > 0 or np.isnan(n)):
            continue
        ids.append(vid)
        vecs.append(v / n)
    return ids, vecs


def _topk_select(key2, nan_mask, ids, k):
    """Indices of the top-k under Spark's (cos DESC NaN-greatest, id ASC)
    ordering. ``key2`` is cos with NaN replaced by +inf (a coarsening that
    over-selects at the boundary); the exact lexsort then refines NaN vs
    +inf and ties."""
    import numpy as np

    n = len(key2)
    kk = min(k, n)
    if n > kk:
        thresh = np.partition(key2, n - kk)[n - kk]
        sel = np.nonzero(key2 >= thresh)[0]
    else:
        sel = np.arange(n)
    # lexsort: primary -key2 asc (== cos desc, NaN/+inf first), secondary
    # ~nan (NaN strictly above +inf, as Spark orders doubles), tertiary id
    order = np.lexsort(
        (ids[sel], (~nan_mask[sel]).astype(np.int8), -key2[sel])
    )
    return sel[order[:kk]]


def _make_topk_kernel(qids, qvecs, k):
    """Arrow kernel: per corpus batch, cosine vs every query with the exact
    fold-chain math, emit the per-batch top-k per query (the final window
    merges partials exactly — partial top-k is a superset filter)."""
    import numpy as np

    def kernel(batches):
        import pyarrow as pa

        qid_arr = np.asarray(qids, dtype=np.int64)
        # group queries by dimension: zip_with yields NULL cos on length
        # mismatch, and null cos sorts below every real cosine (desc
        # nulls-last) — mismatched-dim pairs can only surface when a query
        # has fewer than k same-dim candidates, so emit up to k smallest-id
        # null-cos rows per (batch, query) too
        qdims: dict[int, list[int]] = {}
        for i, v in enumerate(qvecs):
            qdims.setdefault(len(v), []).append(i)
        qmats = {
            d: np.stack([qvecs[i] for i in idxs])
            for d, idxs in qdims.items()
        }
        for batch in batches:
            ids_np, rows, row_dims = _corpus_rows(batch)
            if len(ids_np) == 0:
                continue
            out_q: list[int] = []
            out_n: list[int] = []
            out_c: list[float] = []
            for d, cidx in row_dims.items():
                V = rows[d]
                nrm = _seq_fold_norms(V)
                keep = (nrm > 0) | np.isnan(nrm)
                cidx = cidx[keep]
                if len(cidx) == 0:
                    continue
                U = V[keep] / nrm[keep][:, None]
                cids = ids_np[cidx]
                for qd, qidxs in qdims.items():
                    qsub = np.asarray(qidxs, dtype=np.int64)
                    if qd == d:
                        Q = qmats[qd]
                        C = np.zeros((len(cids), len(qsub)), dtype=np.float64)
                        for j in range(d):
                            # qv_j * cv_j, accumulated j-ascending: the HOF
                            # fold's exact IEEE add/mul chain per pair
                            C = C + U[:, j][:, None] * Q[:, j][None, :]
                        nanm = np.isnan(C)
                        key2 = np.where(nanm, np.inf, C)
                        for m in range(len(qsub)):
                            qv_id = qid_arr[qsub[m]]
                            mask = cids != qv_id
                            if not mask.any():
                                continue
                            idx = np.nonzero(mask)[0]
                            top = _topk_select(
                                key2[idx, m], nanm[idx, m], cids[idx], k
                            )
                            for t in idx[top]:
                                out_q.append(int(qv_id))
                                out_n.append(int(cids[t]))
                                out_c.append(float(C[t, m]))
                    else:
                        # dim mismatch: null cos; k smallest ids suffice
                        for m in range(len(qsub)):
                            qv_id = qid_arr[qsub[m]]
                            cand = cids[cids != qv_id]
                            for t in np.sort(cand)[:k]:
                                out_q.append(int(qv_id))
                                out_n.append(int(t))
                                out_c.append(None)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_q, type=pa.int64()),
                    pa.array(out_n, type=pa.int64()),
                    pa.array(out_c, type=pa.float64()),
                ],
                names=["query_id", "neighbor_id", "cos"],
            )

    return kernel


def _corpus_rows(batch):
    """Decode one Arrow batch of (neighbor_id, cv) into float64 matrices
    grouped by vector dimension, dropping rows Spark's filter would drop
    (null id, null array, null element). Returns (ids ndarray,
    {dim: matrix}, {dim: row-index array})."""
    import numpy as np

    ids = batch.column(0)
    arr = batch.column(1)
    n = len(ids)
    if ids.null_count:
        # fill nulls BEFORE to_numpy: nulls would force a float64 array and
        # ids above 2^53 would round; the valid mask drops the filled rows
        valid = np.asarray(ids.is_valid())
        ids_np = ids.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
    else:
        valid = np.ones(n, bool)
        ids_np = ids.to_numpy(zero_copy_only=False).astype(np.int64)
    if arr.null_count == 0 and arr.values.null_count == 0:
        offs = arr.offsets.to_numpy(zero_copy_only=False)
        lens = np.diff(offs)
        vals = arr.values.to_numpy(zero_copy_only=False).astype(np.float64)
        if valid.all() and len(set(lens.tolist())) == 1:
            d = int(lens[0])
            if d == 0:
                return np.empty(0, np.int64), {}, {}
            mat = vals[offs[0] : offs[-1]].reshape(n, d)
            return ids_np, {d: mat}, {d: np.arange(n)}
        rows_by_dim: dict[int, list] = {}
        idx_by_dim: dict[int, list] = {}
        for i in range(n):
            if not valid[i] or lens[i] == 0:
                continue
            rows_by_dim.setdefault(int(lens[i]), []).append(
                vals[offs[i] : offs[i + 1]]
            )
            idx_by_dim.setdefault(int(lens[i]), []).append(i)
    else:
        pylists = arr.to_pylist()
        rows_by_dim, idx_by_dim = {}, {}
        for i in range(n):
            v = pylists[i]
            if not valid[i] or v is None or any(x is None for x in v) or len(v) == 0:
                continue
            rows_by_dim.setdefault(len(v), []).append(
                np.asarray(v, dtype=np.float64)
            )
            idx_by_dim.setdefault(len(v), []).append(i)
    mats = {d: np.stack(rs) for d, rs in rows_by_dim.items()}
    idxs = {d: np.asarray(ix, dtype=np.int64) for d, ix in idx_by_dim.items()}
    return ids_np, mats, idxs


def ann_recall(exact: DataFrame, approx: dict[str, DataFrame]) -> DataFrame:
    """recall@k of each ANN method vs the exact top-k: |ANN ∩ exact| / |exact|
    per query, averaged per method. Inputs are (query_id, neighbor_id, rank)
    top-k tables. Grades ANN *quality*, not just shape."""
    parts = []
    denom = exact.groupBy("query_id").agg(F.count("*").alias("_k"))
    for name, df in approx.items():
        hits = (
            exact.select("query_id", "neighbor_id")
            .join(df.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count("*").alias("_hits"))
        )
        per_q = denom.join(hits, "query_id", "left").select(
            "query_id",
            (F.coalesce(F.col("_hits"), F.lit(0)) / F.col("_k")).alias("recall"),
        )
        parts.append(
            per_q.agg(
                F.count("*").alias("n_queries"),
                F.round(F.avg("recall"), 6).alias("mean_recall_at_k"),
            ).select(F.lit(name).alias("method"), "n_queries", "mean_recall_at_k")
        )
    if not parts:
        raise ValueError("ann_recall: approx dict is empty — nothing to grade")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def md5_planes(n_bits: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: component (b, j) is the parity of the
    first md5 byte of ``"{seed}:{b}:{j}"``. md5 exists in every engine, so an
    oracle can rebuild the identical planes in pure SQL."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{b}:{j}".encode()).hexdigest()[:2], 16) % 2 == 0
            else -1.0
            for j in range(dim)
        ]
        for b in range(n_bits)
    ]


def hyperplane_bucket(vec: Column, n_bits: int = 8, dim: int = 64, seed: int = 7) -> Column:
    """Random-hyperplane LSH bucket id: sign bits of dot(vec, h_i).

    The ±1 planes are computed ONCE at plan-build time (md5_planes) and
    embedded as array literals — zero per-row hashing, and engine-independent
    so the DuckDB twin reproduces the same buckets (emb_lsh_knn is
    oracle-exact). ``dim`` must be ≥ the vector width; each plane is sliced
    to the vector's length. A vector WIDER than ``dim`` fails fast at run
    time: silently, zip_with would null-pad the plane, the projection would
    aggregate to null, every bit would take the otherwise(0) branch, and all
    such vectors would land in bucket 0 — degenerating lsh_topk /
    embedding_near_dups into an all-pairs join.
    """
    planes = md5_planes(n_bits, dim, seed)
    # run-time width guard: CaseWhen keeps the raise_error branch (it cannot
    # be pruned — the branches differ), so an over-wide row fails the job
    # with a clear message instead of silently bucketing everything to 0
    checked = (
        F.when(
            vec.isNull(),
            F.raise_error(
                F.lit(
                    "hyperplane_bucket: NULL embedding — filter null/zero "
                    "vectors before bucketing (_with_unit does)"
                )
            ),
        )
        .when(F.size(vec) <= F.lit(dim), vec)
        .otherwise(
            F.raise_error(
                F.format_string(
                    "hyperplane_bucket: vector width %s exceeds dim=%s — pass dim >= the embedding width",
                    F.size(vec).cast("string"),
                    F.lit(str(dim)),
                )
            )
        )
    )
    bits = []
    for b in range(n_bits):
        plane = F.slice(F.array(*[F.lit(p) for p in planes[b]]), F.lit(1), F.size(vec))
        proj = F.aggregate(
            F.zip_with(checked, plane, lambda x, p: x * p),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj >= 0, F.lit(1 << b)).otherwise(F.lit(0)))
    out = bits[0]
    for c in bits[1:]:
        out = out + c
    return out


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """ANN top-k: equi-join on hyperplane bucket, exact cosine within bucket.

    At 100 TB the corpus hash+bucket is computed once and written bucketed;
    queries probe single buckets — shuffle volume ∝ bucket size, not corpus.
    ``dim``: max embedding width (plane literals are sized to it; wider rows
    fail fast in hyperplane_bucket) — exposed here like embedding_near_dups
    and ivf_topk so >64-dim corpora have an escape hatch.
    """
    c = (
        _with_unit(corpus, vec_col, "cv")
        .select(F.col(id_col).alias("neighbor_id"), "cv")
        .withColumn("bucket", hyperplane_bucket(F.col("cv"), n_bits, dim))
    )
    q = F.broadcast(
        _with_unit(queries, vec_col, "qv")
        .select(F.col(id_col).alias("query_id"), "qv")
        .withColumn("bucket", hyperplane_bucket(F.col("qv"), n_bits, dim))
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", dot(F.col("qv"), F.col("cv")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))
    )


def ivf_assign(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: deterministic pseudo-random centroids (hash-mixed
    unit vectors — public IVF-flat shape without a training pass), corpus
    assigned to argmax-dot cell.

    Returns (centroids(cell, cvec), assigned(corpus + cell)). At 100 TB the
    assignment is computed once and the corpus written bucketed by cell;
    queries probe 1..nprobe cells — scan volume ∝ cell size.

    ``dim`` is required (the caller knows its embedding width) — inferring it
    would run a Spark job mid-plan-build, a driver action the 100 TB path
    must not pay, so passing None raises instead of silently collecting.
    """
    if dim is None:
        raise ValueError(
            "ivf_assign: dim is required — inferring the embedding width would "
            "run corpus.first() at plan-build time (a driver action mid-"
            "pipeline); pass the known embedding dimension explicitly"
        )

    def centroid(cell: int) -> list[float]:
        # md5-chunked pseudo-random uint16-LE stream, normalized with a
        # SEQUENTIAL left fold — both reproducible in pure SQL (hex decode +
        # list_reduce), so the DuckDB twin rebuilds identical centroids and
        # emb_ivf_knn is oracle-exact bit-for-bit.
        import hashlib as _h
        import math as _m

        need = dim * 2
        raw = b""
        i = 0
        while len(raw) < need:  # md5 digest is 16 bytes — chunk it
            raw += _h.md5(f"ivf:{seed}:{cell}:{i}".encode()).digest()
            i += 1
        v = [float(int.from_bytes(raw[2 * j : 2 * j + 2], "little")) - 32767.5 for j in range(dim)]
        acc = 0.0
        for x in v:
            acc += x * x
        n = _m.sqrt(acc) or 1.0
        return [x / n for x in v]

    spark = corpus.sparkSession
    centroids = F.broadcast(
        local_frame(
            spark, [(c, centroid(c)) for c in range(n_cells)], "cell int, cvec array<double>"
        )
    )
    c = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    # map-side argmax: centroids are driver-built literals, so each row folds
    # over an in-plan (cell, score) array instead of crossJoin + window —
    # the window version shuffled corpus × n_cells rows by id (the dominant
    # exchange of every IVF path at scale); this is shuffle-FREE. Bit-compat:
    # score is the same dot() fold over the same doubles, and strict '>' over
    # cells in ascending order reproduces the window's
    # (score DESC, cell ASC) tie-break exactly.
    scores = F.array(
        *[
            F.struct(
                F.lit(cell).alias("cell"),
                dot(
                    F.col("v"), F.array(*[F.lit(x) for x in centroid(cell)])
                ).alias("score"),
            )
            for cell in range(n_cells)
        ]
    )
    best = F.aggregate(
        scores,
        F.struct(F.lit(-1).alias("cell"), F.lit(float("-inf")).alias("score")),
        lambda acc, s: F.when(s["score"] > acc["score"], s).otherwise(acc),
    )
    assigned = c.select(id_col, best["cell"].alias("cell"), "v")
    return centroids, assigned


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF ANN: assign corpus to cells once; each query probes its nprobe
    nearest cells; exact cosine (dot of pre-normalized units) within the
    probed cells."""
    corpus_u = _with_unit(corpus, vec_col, "_uv")
    centroids, assigned = ivf_assign(corpus_u, n_cells, id_col, "_uv", dim=dim)
    q = _with_unit(queries, vec_col, "qv").select(F.col(id_col).alias("query_id"), "qv")
    qs = q.crossJoin(centroids).select(
        "query_id", "qv", "cell", dot(F.col("qv"), F.col("cvec")).alias("score")
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("cell").asc())
    probes = qs.withColumn("_rn", F.row_number().over(wq)).filter(F.col("_rn") <= nprobe).select(
        "query_id", "qv", "cell"
    )
    cand = probes.join(
        assigned.select(F.col(id_col).alias("neighbor_id"), "cell", F.col("v").alias("cv")), "cell"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select("query_id", "neighbor_id", dot(F.col("qv"), F.col("cv")).alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))
    )


def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.4,
    n_bits: int = 4,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    verify_impl: str = "hof",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: banded hyperplane LSH
    self-join (the minhash-LSH band shape over sign bits) + exact cosine
    verify at ``threshold``.

    Each vector is hashed ONCE into ``bands`` independent sign-buckets
    (md5 planes, seeds 7+band); candidates agree on (band, key); the verify
    is a single dot of pre-normalized units. 100-TB shape: corpus bucketed
    once and self-equi-joined on (band, key) — never all-pairs; recall rises
    with bands (1-(1-p^n_bits)^bands), precision is exact (threshold filter
    on the true cosine). Deterministic end-to-end → DuckDB-twinnable.

    ``verify_impl``: 'hof' (default — JVM fold, bit-exact vs the DuckDB
    oracle, wins below ~500k candidate pairs) or 'numpy' (Arrow-batched,
    2.2× faster at 4M pairs — the billions-of-pairs path; see dot_numpy and
    BENCH/BASELINE.md ann-verify row).
    """
    if verify_impl not in ("hof", "numpy"):
        raise ValueError(f"verify_impl must be 'hof' or 'numpy', got {verify_impl!r}")
    verify = dot if verify_impl == "hof" else dot_numpy
    c = _with_unit(corpus, vec_col, "v").select(F.col(id_col).alias("_id"), "v")
    buckets = F.array(
        *[
            F.struct(
                F.lit(k).alias("band"),
                hyperplane_bucket(F.col("v"), n_bits, dim, seed=7 + k).alias("key"),
            )
            for k in range(bands)
        ]
    )
    keyed = c.select("_id", "v", F.explode(buckets).alias("bk")).select(
        "_id", "v", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a = keyed.select(F.col("_id").alias("a"), F.col("v").alias("va"), "band", "key")
    b = keyed.select(F.col("_id").alias("b"), F.col("v").alias("vb"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
        .select("a", "b", verify(F.col("va"), F.col("vb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", F.round("cos", 6).alias("cos"))
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.4,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    verify_impl: str = "hof",
    cents: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the corpus with the IVF coarse quantizer, compute pairwise cosine ONLY
    within each cell, and shadow every vector that has a lower-id near-twin
    (cos >= threshold) in its cell.

    Keep rule (deterministic, oracle-twinnable): v is dropped iff some u < v
    in the same cell has cos(u, v) >= threshold; ``shadow`` is the smallest
    such u. This is the paper's keep-one-per-duplicate-set rule with
    lowest-id as the representative choice (the paper picks
    farthest-from-centroid / random — any fixed choice is admissible, and
    lowest-id is reproducible across engines). Note the rule shadows
    against ALL lower-id twins, not only kept ones — a chain a~b, b~c with
    a!~c drops both b and c (the paper's epsilon-ball behaviour, stricter
    than greedy sequential).

    Returns one row per (norm > 0) corpus vector:
    (vec_id, cell, kept, shadow) — shadow NULL iff kept.

    100-TB shape: assignment is one map-side argmax over broadcast
    centroids (corpus then written bucketed by cell); the candidate join is
    a self-equi-join on cell — cost sum(|cell|^2), bounded by raising
    n_cells with corpus size, never all-pairs. Exactly SemDeDup's k-means
    trick: pass ``cents`` (a cluster.kmeans_fit codebook) to use TRAINED
    cells — the paper's actual recipe, with balanced cell populations —
    else the deterministic hash quantizer stands in.
    """
    if verify_impl not in ("hof", "numpy"):
        raise ValueError(f"verify_impl must be 'hof' or 'numpy', got {verify_impl!r}")
    verify = dot if verify_impl == "hof" else dot_numpy
    c = _with_unit(corpus, vec_col, "v").select(id_col, "v")
    if cents is not None:
        from sparkdoc.cluster import l2_argmax_cell  # deferred: cluster imports this module

        assigned = c.select(id_col, l2_argmax_cell(F.col("v"), cents).alias("cell"), "v")
    else:
        _, assigned = ivf_assign(c, n_cells=n_cells, id_col=id_col, vec_col="v", dim=dim)
    a = assigned.select(F.col(id_col).alias("_u"), F.col("v").alias("vu"), "cell")
    b = assigned.select(F.col(id_col).alias("_w"), F.col("v").alias("vw"), "cell")
    shadows = (
        a.join(b, "cell")
        .filter(F.col("_u") < F.col("_w"))
        .select("_w", F.col("_u"), verify(F.col("vu"), F.col("vw")).alias("_cos"))
        .filter(F.col("_cos") >= threshold)
        .groupBy("_w")
        .agg(F.min("_u").alias("shadow"))
    )
    return (
        assigned.select(id_col, "cell")
        .join(shadows, F.col(id_col) == F.col("_w"), "left")
        .select(
            id_col,
            "cell",
            F.col("shadow").isNull().alias("kept"),
            "shadow",
        )
    )


# --- SQ8 scalar-quantized search ---------------------------------------------------


def sq8_stats(corpus: DataFrame, vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    """Per-dimension (min, max) over the corpus — the scalar-quantization
    codebook — as ONE broadcastable row with two array columns. min/max are
    exact, order-independent aggregates, so unlike k-means codebooks the
    result is bit-identical across runs, partitionings and engines (the
    property the oracle twin needs). Map-side combined, one tiny shuffle."""
    aggs = []
    for i in range(dim):
        e = F.element_at(F.col(vec_col), i + 1).cast("double")
        aggs += [F.min(e).alias(f"_mn{i}"), F.max(e).alias(f"_mx{i}")]
    return corpus.agg(*aggs).select(
        F.array(*[F.col(f"_mn{i}") for i in range(dim)]).alias("mins"),
        F.array(*[F.col(f"_mx{i}") for i in range(dim)]).alias("maxs"),
    )


def sq8_encode(
    corpus: DataFrame,
    stats: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """8-bit scalar quantization (the FAISS SQ8 baseline): code_i =
    min(255, floor((v_i - mn_i) / (mx_i - mn_i) * 256)), degenerate
    dimensions encode 0. At 100 TB the encoded corpus is what you WRITE —
    4-16x smaller scans than raw float arrays, and the search reads only
    codes + the one-row codebook. Pure JVM exprs."""
    code = lambda x, i: F.when(  # noqa: E731
        F.element_at("maxs", i + 1) > F.element_at("mins", i + 1),
        F.least(
            F.lit(255),
            F.floor(
                (x.cast("double") - F.element_at("mins", i + 1))
                / (F.element_at("maxs", i + 1) - F.element_at("mins", i + 1))
                * 256
            ).cast("int"),
        ),
    ).otherwise(0)
    return (
        corpus.crossJoin(F.broadcast(stats))
        .select(
            id_col,
            F.transform(F.col(vec_col), code).alias("codes"),
        )
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Approximate cosine top-k over the SQ8-encoded corpus: queries stay
    full-precision (unit-normalized), corpus rows are dequantized on the fly
    to bucket centers (mn_i + (code_i + 0.5)·(mx_i - mn_i)/256) and scored
    cos = dot(q, dq)/||dq||. Same broadcast-queries / window-top-k shape as
    brute_force_topk; in production the codes table is precomputed + stored
    and this reads 8-bit codes instead of float vectors."""
    stats = sq8_stats(corpus, vec_col, dim)
    codes = sq8_encode(corpus, stats, id_col, vec_col)
    q = F.broadcast(
        _with_unit(queries, vec_col, "qv").select(F.col(id_col).alias("query_id"), "qv")
    )
    dq = F.transform(
        F.col("codes"),
        lambda c, i: F.element_at("mins", i + 1)
        + (c.cast("double") + 0.5)
        * (F.element_at("maxs", i + 1) - F.element_at("mins", i + 1))
        / 256,
    )
    c = (
        codes.crossJoin(F.broadcast(stats))
        .select(F.col(id_col).alias("neighbor_id"), dq.alias("dq"))
        .withColumn("dq_norm", norm(F.col("dq")))
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("dq")) / F.col("dq_norm")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))
    )


# --- semantic decontamination -------------------------------------------------------


def semantic_decontam(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str | None = None,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every corpus document
    whose embedding is near-identical (cosine >= ``threshold``) to ANY
    benchmark/eval-set embedding.

    The semantic complement of :func:`sparkdoc.filters.decontaminate`'s
    n-gram rule — paraphrased or reformatted eval questions share no 8-gram
    with the original but sit at cosine ~1 in embedding space (the
    contamination audits of Yang et al. 2023, "Rethinking Benchmark and
    Contamination", use exactly this embedding-similarity screen beside the
    n-gram one).

    Returns ONE row per (norm > 0) corpus doc: (doc id, ``max_cos`` rounded
    to 6 dp, ``nearest_bench`` = the benchmark id attaining it — ties to the
    smallest id, ``contaminated`` 0/1 on the UNROUNDED maximum). Keep the
    clean rows with ``contaminated = 0``.

    Scale shape: the benchmark side is eval sets — thousands of rows — so it
    is unit-normalized once and BROADCAST; the corpus is scanned once, each
    pair costs a single dot product (both sides pre-normalized), and the
    per-doc max is a map-side-combinable aggregate. No shuffle touches
    corpus-sized data beyond the final groupBy on the unique doc id.
    """
    b = F.broadcast(
        _with_unit(benchmark, vec_col, "bv").select(
            F.col(bench_id_col or id_col).alias("_bid"), "bv"
        )
    )
    c = _with_unit(corpus, vec_col, "cv").select(F.col(id_col), "cv")
    scored = c.crossJoin(b).select(
        id_col, F.col("_bid"), dot(F.col("cv"), F.col("bv")).alias("_cos")
    )
    # max cos, ties to the smallest benchmark id: min_by over the struct
    # (-cos, _bid) — cos is DOUBLE so arithmetic negation is exact/safe
    per_doc = scored.groupBy(id_col).agg(
        F.max("_cos").alias("_mx"),
        F.min_by(
            F.col("_bid"), F.struct((-F.col("_cos")).alias("nc"), F.col("_bid"))
        ).alias("nearest_bench"),
    )
    return per_doc.select(
        id_col,
        F.round("_mx", 6).alias("max_cos"),
        "nearest_bench",
        (F.col("_mx") >= F.lit(threshold)).cast("int").alias("contaminated"),
    )
