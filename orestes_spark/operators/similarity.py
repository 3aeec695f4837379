"""Similarity search over embedding columns (array<float>).

Two paths:
  - brute-force cosine top-k: exact baseline; one broadcast of the
    query set, one pass over the corpus, per-query top-k via window.
  - LSH (random-hyperplane) bucketed search: the scale path — vectors
    hash to sign-pattern buckets; queries only score their bucket.

Determinism: with ``quantize`` set, vectors are first scaled to
integers (round(x * quantize)) so dot products and norms are exact
integer arithmetic — bit-identical across engines, which is what lets
the DuckDB oracle hash-match the result. ``quantize=None`` keeps full
float precision (production mode; same plan shape).

Hyperplanes are derived from md5 parities (seeded, data-independent),
so the Spark side and any oracle can regenerate the exact same planes
without shipping state.

Scale notes: the corpus scan is embarrassingly parallel; the top-k
window partitions by query id (bounded by |queries| × k rows after
the aggregate); LSH bucket ids are computed in the scan and the
bucket join is an equi-join. Oracle-path arithmetic is built-in
higher-order functions (zip_with/aggregate) — JVM-side, no Python in
the loop, but interpreted per element (Catalyst does not codegen HOF
lambdas); ``cosine_topk_arrow`` is the production kernel — one BLAS
GEMM per Arrow batch via mapInPandas, local top-k per partition.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def hyperplanes(num_planes: int, dims: int, seed: str = "orestes") -> list[list[int]]:
    """Deterministic ±1 hyperplanes: component (p, d) is +1 iff the
    first hex digit of md5('<seed>:<p>:<d>') is odd."""
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dims):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            row.append(1 if int(h[0], 16) % 2 == 1 else -1)
        planes.append(row)
    return planes


def quantized(col: F.Column, quantize: int | None) -> F.Column:
    if quantize is None:
        return F.transform(col, lambda x: x.cast("double"))
    return F.transform(col, lambda x: F.round(x.cast("double") * quantize).cast("long"))


def _dot(a: F.Column, b: F.Column, as_long: bool) -> F.Column:
    zero = F.lit(0).cast("long" if as_long else "double")
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), zero, lambda acc, v: acc + v)


# --- single-parse SQL twins of the expression builders (round 12) ---
#
# Building the HOF expression trees through the Column DSL costs one
# py4j round-trip per operator: lsh_bucket alone issued ~600 JVM calls
# (8 planes x 64-component array literals), which measured as 1.4-1.6 s
# of DRIVER-side construction per cosine_topk_lsh call — twice the
# query's actual execution time. Each builder below emits the SAME
# expression as its Column twin but as one SQL string handed to a
# single F.expr parse. Runtime plans are identical (verified on the
# oracle); only construction collapses.


def _q_sql(col_sql: str, quantize: int | None) -> str:
    if quantize is None:
        return f"transform({col_sql}, x -> cast(x as double))"
    return (
        f"transform({col_sql}, x -> cast(round(cast(x as double) * {quantize})"
        " as bigint))"
    )


def _dot_sql(a_sql: str, b_sql: str, as_long: bool) -> str:
    zero = "cast(0 as bigint)" if as_long else "cast(0 as double)"
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> x * y), {zero},"
        " (acc, v) -> acc + v)"
    )


def _bucket_sql(col_sql: str, planes: list[list[int]], as_long: bool) -> str:
    elem = "bigint" if as_long else "double"
    terms = []
    for p, plane in enumerate(planes):
        arr = f"cast(array({', '.join(str(c) for c in plane)}) as array<{elem}>)"
        proj = _dot_sql(col_sql, arr, as_long)
        terms.append(
            f"(case when {proj} >= 0 then cast({2 ** p} as bigint)"
            " else cast(0 as bigint) end)"
        )
    return "(" + " + ".join(terms) + ")"


def _cos_expr(dot: F.Column, n2a: F.Column, n2b: F.Column) -> F.Column:
    """Cosine with the ORACLE's zero-norm semantics: Spark 4's ANSI
    `/` raises DIVIDE_BY_ZERO on a zero divisor even for doubles;
    DuckDB (the correctness oracle) yields NULL there, ranks NULL
    LAST in a desc top-k, and a NULL never satisfies a `>= threshold`
    dedup predicate — i.e. a zero-norm vector has no defined cosine,
    is nobody's neighbor, and never causes a dedup drop. try_divide
    reproduces exactly that: NULL on the zero divisor, NULL through
    round(), filtered by every hit predicate, ordered last by desc
    (Spark's default NULLS LAST matches DuckDB's). A NULL embedding
    input flows through as NULL the same way. The numpy kernels mask
    zero-norm pairs out of their hit sets to agree."""
    return F.try_divide(dot, F.sqrt(n2a.cast("double")) * F.sqrt(n2b.cast("double")))


def with_norm(df: DataFrame, vec_col: str, as_long: bool) -> DataFrame:
    return df.withColumn("_norm2", _dot(F.col(vec_col), F.col(vec_col), as_long))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    quantize: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.
    Output: (query_id, neighbor_id, cosine, rank). Self-matches are
    excluded. The query side is broadcast — the corpus never shuffles
    until the (tiny) per-query aggregation."""
    as_long = quantize is not None
    c = corpus.select(
        F.col(id_col).alias("cid"),
        F.expr(_q_sql(f"`{vec_col}`", quantize)).alias("cvec"),
    ).select("cid", "cvec", F.expr(_dot_sql("cvec", "cvec", as_long)).alias("cn2"))
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.expr(_q_sql(f"`{vec_col}`", quantize)).alias("qvec"),
    ).select("qid", "qvec", F.expr(_dot_sql("qvec", "qvec", as_long)).alias("qn2"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            _cos_expr(
                F.expr(_dot_sql("qvec", "cvec", as_long)), F.col("qn2"), F.col("cn2")
            ).alias("_cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("_cos").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("neighbor_id"),
            F.round("_cos", 6).alias("cosine"),
            "rank",
        )
    )


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    batch_local_k: int | None = None,
    quantize: int | None = None,
) -> DataFrame:
    """Production fast path for brute-force top-k: one numpy matmul
    per Arrow batch via ``mapInPandas`` instead of per-element
    ``zip_with``/``aggregate`` expressions (higher-order lambdas run
    on Catalyst's interpreted path; a BLAS batch×queries GEMM is
    orders of magnitude faster per row at real dimensions). The
    normalized query matrix ships once as a broadcast; each corpus
    partition emits only its LOCAL top-k rows per query, so the final
    per-query window sees ≤ partitions × k rows per query — never the
    corpus. Same output shape and tie-break (score desc, neighbor id)
    as ``cosine_topk``.

    ``quantize`` makes the kernel ORACLE-EXACT: vectors quantize to
    round(x·quantize) longs via the same Spark expression the exact
    path uses, the GEMM runs on integer-valued float64 (dot and norms
    < 2⁵³ — exact), and cosine = dot / (√n2_c · √n2_q) — the identical
    correctly-rounded IEEE ops DuckDB evaluates, so the BLAS path
    hash-matches the same SQL twin as ``cosine_topk``. Default (None)
    keeps the float kernel."""
    import numpy as np

    if quantize is not None:
        corpus = corpus.select(
            F.col(id_col), quantized(F.col(vec_col), quantize).alias(vec_col)
        )
        queries = queries.select(
            F.col(id_col), quantized(F.col(vec_col), quantize).alias(vec_col)
        )
    k_local = batch_local_k or k
    qrows = queries.select(F.col(id_col).cast("long"), F.col(vec_col)).collect()
    if any(r[0] is None for r in qrows):
        # The GEMM kernel ships ids through int64 numpy arrays; a
        # non-numeric id would silently become NULL rows. Loud > wrong.
        raise ValueError(
            f"cosine_topk_arrow requires integer-castable {id_col!r} values"
            " (the Arrow kernel carries ids as int64); use cosine_topk for"
            " arbitrary id types"
        )
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    qzero = np.linalg.norm(qmat, axis=1) == 0
    if quantize is None:
        qmat /= np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-300)
        qn2 = None
    else:
        qn2 = (qmat**2).sum(axis=1)  # exact integer norms
    b = corpus.sparkSession.sparkContext.broadcast((qids, qmat, qn2, qzero))

    def score(batches):
        import pandas as pd

        bq_ids, bq, bqn2, bqzero = b.value
        for pdf in batches:
            if pdf.empty:
                continue
            if pdf[id_col].isnull().any():
                # Same contract as the driver-side query check: a
                # clear error beats an opaque NaN-cast failure deep in
                # an executor task.
                raise ValueError(
                    f"cosine_topk_arrow requires integer-castable {id_col!r}"
                    " values on the corpus side (NULL/non-numeric id seen)"
                )
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            cmat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            czero = np.linalg.norm(cmat, axis=1) == 0
            if bqn2 is None:
                cmat /= np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-300)
                scores = cmat @ bq.T  # (batch, queries)
            else:
                cn2 = (cmat**2).sum(axis=1)
                # dot / (sqrt(n2_q) * sqrt(n2_c)) — operand-for-operand
                # the oracle's expression (multiply is bitwise
                # commutative), on exact integer dot/norms. Nonzero
                # integer norms are ≥ 1, so the clamp is an exact
                # identity for every real vector; zero-norm pairs are
                # handled by the nullpair mask below.
                scores = (cmat @ bq.T) / np.maximum(
                    np.sqrt(bqn2)[None, :] * np.sqrt(cn2)[:, None], 1e-300
                )
            self_mask = cids[:, None] == bq_ids[None, :]
            # Zero-norm pairs have NULL cosine (oracle semantics, see
            # _cos_expr): ranked below every real score (-inf here, so
            # they fill the tail only when fewer than `top` finite
            # candidates exist, id-ascending like the oracle's NULLS
            # LAST + id tie-break) and emitted with a NULL cosine.
            nullpair = (czero[:, None] | bqzero[None, :]) & ~self_mask
            scores[nullpair] = -np.inf
            scores[self_mask] = -np.inf  # self-match
            top = min(k_local, scores.shape[0])
            # The batch-local cut must apply the SAME (score desc,
            # neighbor_id asc) tie-break as the global window: a bare
            # argpartition cuts score ties arbitrarily, so with >= top
            # rows tied at the boundary (duplicate embeddings all at
            # cosine 1.0) it could drop the lower-id neighbor the
            # exact path would rank. Stable two-pass sort: order rows
            # by neighbor id, then stable-sort by score — equal
            # scores keep id order, making the local top-k a true
            # prefix of the global ranking.
            base = np.argsort(cids, kind="stable")
            sel = np.argsort(-scores[base], axis=0, kind="stable")[:top]
            idx = base[sel]  # (top, queries)
            picked = np.take_along_axis(scores, idx, axis=0)
            picked_null = np.take_along_axis(nullpair, idx, axis=0)
            cos = pd.array(picked.ravel(), dtype="Float64")
            cos[picked_null.ravel()] = pd.NA  # NULL cosine, oracle parity
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(bq_ids[None, :], top, axis=0).ravel(),
                    "neighbor_id": cids[idx].ravel(),
                    "cosine": cos,
                }
            )
            # -inf rows appear when a batch holds fewer than `top`
            # non-self vectors for some query — drop them; NULL-cosine
            # rows stay (real zero-norm candidates, ranked last)
            keep = np.isfinite(picked.ravel()) | picked_null.ravel()
            yield out[keep]

    local = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        score, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def lsh_bucket(vec_col: F.Column, planes: list[list[int]], as_long: bool = False) -> F.Column:
    """Sign-pattern bucket id: bit p set iff dot(vec, plane_p) >= 0.

    ``vec_col`` must already be quantized/cast (the same representation
    the scoring uses) — bucketing a different representation than you
    score risks borderline sign flips versus an oracle."""
    elem = "long" if as_long else "double"
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                F.array(*[F.lit(c) for c in plane]).cast(f"array<{elem}>"),
                lambda x, y: x * y,
            ),
            F.lit(0).cast(elem),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj >= 0, F.lit(2**p).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 8,
    quantize: int | None = None,
    seed: str = "orestes",
    dims: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH
    bucket. Recall < 1 by design; same output schema as cosine_topk.

    ``dims`` skips the one-row dimensionality probe job when the
    caller already knows the vector width (the plane table depends
    only on dims, not data)."""
    if dims is None:
        dims = len(corpus.select(vec_col).first()[0])
    planes = hyperplanes(num_planes, dims, seed)
    as_long = quantize is not None
    c = corpus.select(
        F.col(id_col).alias("cid"),
        F.expr(_q_sql(f"`{vec_col}`", quantize)).alias("cvec"),
    ).select(
        "cid",
        "cvec",
        F.expr(_bucket_sql("cvec", planes, as_long)).alias("bucket"),
        F.expr(_dot_sql("cvec", "cvec", as_long)).alias("cn2"),
    )
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.expr(_q_sql(f"`{vec_col}`", quantize)).alias("qvec"),
    ).select(
        "qid",
        "qvec",
        F.expr(_bucket_sql("qvec", planes, as_long)).alias("bucket"),
        F.expr(_dot_sql("qvec", "qvec", as_long)).alias("qn2"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            _cos_expr(
                F.expr(_dot_sql("qvec", "cvec", as_long)), F.col("qn2"), F.col("cn2")
            ).alias("_cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("_cos").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("neighbor_id"),
            F.round("_cos", 6).alias("cosine"),
            "rank",
        )
    )


def embedding_near_dups(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.98,
    num_planes: int = 8,
    quantize: int | None = None,
    seed: str = "orestes",
    dims: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH bucket candidates →
    exact cosine verify ≥ threshold. Output (id_a, id_b, cosine).
    ``dims`` skips the one-row dimensionality probe when known."""
    if dims is None:
        dims = len(vectors.select(vec_col).first()[0])
    planes = hyperplanes(num_planes, dims, seed)
    as_long = quantize is not None
    v = vectors.select(
        F.col(id_col).alias("_id"),
        F.expr(_q_sql(f"`{vec_col}`", quantize)).alias("vec"),
    ).select(
        "_id",
        "vec",
        F.expr(_bucket_sql("vec", planes, as_long)).alias("bucket"),
        F.expr(_dot_sql("vec", "vec", as_long)).alias("_norm2"),
    )
    a = v.toDF("id_a", "vec_a", "bucket", "n2_a")
    b = v.toDF("id_b", "vec_b", "bucket", "n2_b")
    return (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                _cos_expr(
                    F.expr(_dot_sql("vec_a", "vec_b", as_long)),
                    F.col("n2_a"),
                    F.col("n2_b"),
                ),
                6,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .distinct()
    )


def label_centroid_sums(
    vectors: DataFrame, id_col: str, vec_col: str, label_col: str, quantize: int | None
) -> DataFrame:
    """(label, csum ARRAY) — component-wise sums of the (quantized)
    vectors per label. The UNNORMALIZED sum works as the centroid for
    cosine assignment (the 1/count factor cancels in the cosine), which
    keeps the math exact-integer under quantization."""
    q = vectors.select(F.col(label_col).alias("label"), quantized(F.col(vec_col), quantize).alias("v"))
    exploded = q.select("label", F.posexplode("v").alias("i", "x"))
    return (
        exploded.groupBy("label", "i")
        .agg(F.sum("x").alias("s"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "s"))).alias("entries"))
        .select("label", F.transform("entries", lambda e: e["s"]).alias("csum"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    quantize: int | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style ANN: ``label`` is the coarse partition (in a real IVF
    it's a k-means cell; here the precomputed label column). A query is
    assigned to its ``nprobe`` highest-cosine centroids (tie → smaller
    label) and scored ONLY against those partitions — the
    inverted-file scale path: each query touches nprobe/|labels| of
    the corpus, and nprobe is the recall/cost dial (a boundary-zone
    query whose true neighbor sits just across the nearest-cell border
    is recovered at nprobe ≥ 2). Output (query_id, neighbor_id,
    cosine, rank). Queries here are typically drawn FROM the corpus
    (self-search), so a vector is never its own neighbor
    (exclude_same_id=True)."""
    scored = _ivf_scored(
        corpus, queries, id_col, vec_col, label_col, quantize, nprobe,
        exclude_same_id=True,
    )
    w = Window.partitionBy("qid").orderBy(F.col("_cos").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("neighbor_id"),
            F.round("_cos", 6).alias("cosine"),
            "rank",
        )
    )


def _ivf_scored(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    quantize: int | None,
    nprobe: int,
    exclude_same_id: bool,
) -> DataFrame:
    """ivf_topk's routing + scoring stage, shared with the IVF
    decontamination path (round-9): (qid, cid, _cos) for every corpus
    member of each query's nprobe probed cells. Each (qid, cid) pair
    appears at most once — a corpus member lives in exactly one cell.
    ``exclude_same_id`` drops cid == qid pairs — correct for
    self-search (queries ⊆ corpus under ONE id namespace), WRONG for
    decontamination where corpus and eval ids come from different
    namespaces and a coincidental collision must not exempt a genuine
    hit (round-10 ADVICE)."""
    as_long = quantize is not None
    cents = label_centroid_sums(corpus, id_col, vec_col, label_col, quantize)
    q = with_norm(
        queries.select(F.col(id_col).alias("qid"), quantized(F.col(vec_col), quantize).alias("qvec")),
        "qvec",
        as_long,
    ).withColumnRenamed("_norm2", "qn2")
    # assign each query to its best centroid (tiny cross join: |q| × |labels|)
    scored_cents = q.crossJoin(F.broadcast(cents)).select(
        "qid",
        "qvec",
        "qn2",
        "label",
        # try_divide: a ZERO-NORM centroid (all-zero/cancelling cell)
        # must score NULL, not abort the query with ANSI
        # DIVIDE_BY_ZERO; desc ordering puts NULL last, so degenerate
        # cells are simply never probed.
        F.try_divide(
            _dot(F.col("qvec"), F.col("csum").cast("array<double>"), False),
            F.sqrt(_dot(F.col("csum").cast("array<double>"), F.col("csum").cast("array<double>"), False)),
        ).alias("_cscore"),
    )
    wq = Window.partitionBy("qid").orderBy(F.col("_cscore").desc(), F.col("label"))
    assigned = (
        scored_cents.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= nprobe)
        .select("qid", "qvec", "qn2", "label")
    )
    c = with_norm(
        corpus.select(
            F.col(id_col).alias("cid"),
            quantized(F.col(vec_col), quantize).alias("cvec"),
            F.col(label_col).alias("label"),
        ),
        "cvec",
        as_long,
    ).withColumnRenamed("_norm2", "cn2")
    joined = c.join(F.broadcast(assigned), "label")
    if exclude_same_id:
        joined = joined.where(F.col("cid") != F.col("qid"))
    return joined.select(
        "qid",
        "cid",
        _cos_expr(
            _dot(F.col("qvec"), F.col("cvec"), as_long), F.col("qn2"), F.col("cn2")
        ).alias("_cos"),
    )


def assign_clusters(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    quantize: int | None = None,
) -> DataFrame:
    """(id, cluster) — every vector assigned to the label centroid with
    the highest cosine (tie → smaller label). This is the coarse
    k-means "assign" step shared by IVF search and SemDeDup-style
    semantic dedup; the label column stands in for trained cell ids.

    Scale shape: centroid sums are one (label, dim) shuffle; the
    centroid table is k×d values and broadcasts; assignment is then a
    map-side cross score of each row against k centroids, and the
    per-id argmax is a min_by HASH aggregation — partial-combinable,
    so each task collapses its |rows|×k scored tuples to one row per
    id BEFORE the exchange and the shuffle carries |corpus| rows, not
    |corpus|×k. (Round 6: this replaced a sort-based row_number
    window, which shuffled and sorted the full scored blowup — the
    one removable exchange in the SemDeDup plan.) min_by on
    struct(-score, label) picks exactly the window's row: highest
    cosine, ties to the smaller label."""
    cents = label_centroid_sums(vectors, id_col, vec_col, label_col, quantize)
    v = vectors.select(F.col(id_col).alias("_id"), quantized(F.col(vec_col), quantize).alias("vec"))
    return _assign_to_centroids(v, cents).select(F.col("_id").alias(id_col), "cluster")


def _assign_to_centroids(v: DataFrame, cents: DataFrame) -> DataFrame:
    """(_id, cluster) — nearest-centroid assignment of ``v`` (columns
    ``_id``, ``vec``) against a broadcastable (label, csum) centroid
    table: highest cosine wins, ties to the smaller label. Shared by
    assign_clusters (centroids from the same frame) and
    incremental_semantic_dedup (centroids derived from a persisted
    index) so both paths rank identically."""
    scored = v.crossJoin(F.broadcast(cents)).select(
        "_id",
        "label",
        # try_divide: a zero-norm centroid scores NULL instead of
        # aborting with ANSI DIVIDE_BY_ZERO; the coalesce(+inf) below
        # ranks NULL last, so no row is assigned to a degenerate
        # cluster while any real centroid exists.
        F.try_divide(
            _dot(F.col("vec"), F.col("csum").cast("array<double>"), False),
            F.sqrt(_dot(F.col("csum").cast("array<double>"), F.col("csum").cast("array<double>"), False)),
        ).alias("_cscore"),
    )
    # NULL scores (a zero-norm centroid → divide-by-NULL/zero) must
    # sort LAST: struct comparison puts a NULL field FIRST in a min,
    # which would assign every row to the degenerate cluster. The
    # old row_number(desc) window put NULLs last; coalesce to +inf in
    # the minimized dimension reproduces that exactly.
    return scored.groupBy("_id").agg(
        F.min_by(
            "label",
            F.struct(
                F.coalesce(-F.col("_cscore"), F.lit(float("inf"))).alias("s"),
                F.col("label").alias("l"),
            ),
        ).alias("cluster")
    )


# last-run refinement outcome per caller, for scale benches (see
# _refine_hot_clusters docstring)
REFINE_STATS: dict[str, dict] = {}


def _refine_hot_clusters(
    v: DataFrame,
    assigned: DataFrame,
    max_cluster: int | None,
    threshold: float,
    caller: str,
    max_depth: int = 3,
) -> tuple[DataFrame, DataFrame | None]:
    """Shared degenerate-skew guard for both SemDeDup paths (round 7):
    clusters over ``max_cluster`` are no longer exempted from dedup —
    they are recursively RE-QUANTIZED until every pairwise cell is
    under the cap, so the |cell|² stage never materializes a hot
    cluster and the corpus head (where dedup matters most on a Zipf
    corpus) still gets deduped. Returns ``(v_refined, direct_drops)``
    where ``v_refined`` has the same columns/order as ``v`` with the
    ``cluster`` values rewritten to sub-cell ids for split clusters,
    and ``direct_drops`` is a single-column ``_id`` frame of members
    dropped outright (None when nothing was hot). Two mechanisms:

    1. Exact-duplicate collapse (hot clusters only): a NONZERO member
       whose (quantized) vector is bit-identical to a lower-id member
       of the same cluster is dropped DIRECTLY — the pairwise stage
       would conclude the same (cosine rounds to exactly 1.0 ≥ any
       τ ≤ 1). Zero vectors are exempt: their pairwise cosine is NULL
       (oracle semantics, _cos_expr), never a hit. Semantics-preserving: a
       duplicate's cosine to every third vector equals its
       representative's and the representative has the lower id, so
       every pair the duplicate would have dropped is still dropped by
       the representative. This is also the only split that works on
       the truly degenerate head (identical vectors cannot be
       separated by ANY quantizer). Skipped when τ > 1 (no real pair
       can fire there; keeps parity with the pairwise stage).
    2. Nearest-seed sub-quantization: each still-over-cap cell picks
       ~2·|cell|/max_cluster deterministic seeds (hash-sampled members
       plus the min-id member so the seed set is never empty) and every
       member moves to the sub-cell of its highest-cosine seed (tie →
       smaller seed id) — one k-means++-style assignment pass with the
       seed table broadcast. Repeat up to ``max_depth`` levels; a near
       -dup pair is geometrically close, so it lands in the same
       Voronoi sub-cell and is still compared. Cells that STILL
       overflow after ``max_depth`` fall back to the round-6 behavior:
       excluded from the pairwise stage, members stay kept=True, loud
       log.

    Common path (no hot clusters — every driver-checked config):
    returns ``v`` unchanged, byte-identical plan to round 6.

    Side channel: ``REFINE_STATS[caller]`` records the last run's
    refinement outcome (hot members seen, direct drops, members still
    excluded) so scale benches can report coverage without parsing
    logs."""
    if max_cluster is None:
        return v, None
    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("_cn"))
    hot = sizes.where(F.col("_cn") > max_cluster)
    hot_rows = hot.orderBy(F.col("_cn").desc()).limit(5).collect()
    REFINE_STATS.pop(caller, None)
    if not hot_rows:
        return v, None
    stats = REFINE_STATS[caller] = {
        "hot_members": hot.agg(F.sum("_cn")).collect()[0][0],
        "direct_drops": 0,
        "excluded_cells": 0,
        "excluded_members": 0,
    }
    import logging

    log = logging.getLogger(__name__)
    log.info(
        "%s: cluster(s) over max_cluster=%d (largest: %s) — re-quantizing",
        caller,
        max_cluster,
        [(r["cluster"], r["_cn"]) for r in hot_rows],
    )
    import math

    import numpy as np

    cols = v.columns
    spark = v.sparkSession
    work = v.withColumn("cluster", F.col("cluster").cast("string"))
    # Split hot/cold ONCE: the under-cap bulk of the corpus never
    # enters the loop and is never re-materialized — at 100 TB,
    # checkpointing the whole corpus per split level would dominate
    # the operator. Only the (shrinking) hot part is pinned.
    hot_cells = hot.select(F.col("cluster").cast("string").alias("cluster"))
    settled = work.join(F.broadcast(hot_cells), "cluster", "left_anti").select(*cols)
    hot_work = work.join(F.broadcast(hot_cells), "cluster").select(*cols).localCheckpoint()

    # -- 1. exact-duplicate collapse inside hot clusters ----------------
    direct: DataFrame | None = None
    if threshold <= 1.0:
        # ZERO vectors are exempt from the collapse: their pairwise
        # cosine is NULL (oracle semantics, see _cos_expr) so the pair
        # stage would never drop them — a direct drop here would
        # diverge. They keep flowing through the split loop instead.
        nonzero = F.exists("vec", lambda x: x != 0)
        wdup = Window.partitionBy("cluster", "vec")
        marked = hot_work.withColumn("_dup_min", F.min("_id").over(wdup))
        direct = (
            marked.where((F.col("_id") != F.col("_dup_min")) & nonzero)
            .select("_id")
            .localCheckpoint()
        )
        hot_work = (
            marked.where((F.col("_id") == F.col("_dup_min")) | ~nonzero)
            .drop("_dup_min")
            .select(*cols)
            .localCheckpoint()
        )
        n_direct = direct.count()
        stats["direct_drops"] = n_direct
        if n_direct:
            log.info(
                "%s: %d exact-duplicate member(s) of hot clusters dropped directly",
                caller,
                n_direct,
            )
        else:
            direct = None

    # -- 2. recursive nearest-seed sub-quantization ---------------------
    # Each level: hash-sample ~2·|cell|/max_cluster member seeds per
    # over-cap cell (plus the min-id anchor so the seed set is never
    # empty), broadcast them, and move every member to its
    # highest-cosine seed via ONE numpy GEMM per Arrow batch
    # (mapInPandas) — the same production-kernel shape as
    # cosine_topk_arrow; an expression-tree dot here was the dominant
    # cost of the whole operator at 800k vectors. Ties break to the
    # smaller seed id (seed columns are id-sorted, argmax takes the
    # first maximum); a zero-norm seed scores NaN→-inf, ranked last.
    target = max(1, max_cluster // 2)
    for depth in range(max_depth):
        cell_sizes = hot_work.groupBy("cluster").agg(F.count(F.lit(1)).alias("_cn"))
        over_rows_all = cell_sizes.where(F.col("_cn") > max_cluster).collect()
        if not over_rows_all:
            return settled.unionByName(hot_work), direct
        over_cells = spark.createDataFrame(
            [(r["cluster"],) for r in over_rows_all], "cluster string"
        )
        over_part = hot_work.join(F.broadcast(over_cells), "cluster")
        under_part = hot_work.join(F.broadcast(over_cells), "cluster", "left_anti")
        settled = settled.unionByName(under_part.select(*cols))
        stride_df = spark.createDataFrame(
            [
                (r["cluster"], max(1, int(r["_cn"] // math.ceil(r["_cn"] / target))))
                for r in over_rows_all
            ],
            "cluster string, _stride long",
        )
        sampled = (
            over_part.join(F.broadcast(stride_df), "cluster")
            .where(F.pmod(F.xxhash64("_id"), F.col("_stride")) == 0)
            .select("cluster", "_id", "vec")
        )
        anchors = (
            over_part.groupBy("cluster")
            .agg(F.min(F.struct("_id", "vec")).alias("_m"))
            .select("cluster", F.col("_m._id").alias("_id"), F.col("_m.vec").alias("vec"))
        )
        seed_rows = sampled.unionByName(anchors).dropDuplicates(["cluster", "_id"]).collect()
        # Seed-seed pairs would otherwise be LOST: every seed is its
        # own nearest seed (cosine 1.0 beats any near-dup's), so two
        # near-dup SEEDS land in different sub-cells and are never
        # compared. Emit each parent cell's seed set as one extra tiny
        # comparison cell (~2·|cell|/cap rows, far under the cap); the
        # duplicate membership only ADDS candidate pairs — dropped ids
        # are distinct-ed — and a non-seed's nearest seed is its
        # near-dup seed itself, so those pairs were already covered.
        seed_frame = spark.createDataFrame(
            [(f"{r['cluster']}/_seeds", r["_id"], r["vec"]) for r in seed_rows],
            over_part.select("cluster", "_id", "vec").schema,
        )
        settled = settled.unionByName(
            seed_frame.join(
                over_part.drop("cluster", "vec").withColumnRenamed("_id", "_jid"),
                F.col("_id") == F.col("_jid"),
            )
            .drop("_jid")
            .select(*cols)
        )
        seed_map: dict[str, tuple] = {}
        by_cell: dict[str, list] = {}
        for r in seed_rows:
            by_cell.setdefault(r["cluster"], []).append((r["_id"], r["vec"]))
        for cell, entries in by_cell.items():
            entries.sort()  # seed-id ascending → argmax ties pick smallest id
            sids = np.array([sid for sid, _vec in entries], dtype=np.int64)
            s_mat = np.array([vec for _sid, vec in entries], dtype=np.float64).T  # d×k
            norms = np.sqrt((s_mat * s_mat).sum(axis=0))
            seed_map[cell] = (sids, s_mat, norms)
        bc_seeds = spark.sparkContext.broadcast(seed_map)

        def assign(batches):
            import pandas as pd

            for pdf in batches:
                ids_out, subs_out = [], []
                for cell, grp in pdf.groupby("cluster"):
                    sids, s_mat, norms = bc_seeds.value[cell]
                    x = np.stack(grp["vec"].to_numpy()).astype(np.float64)
                    with np.errstate(invalid="ignore", divide="ignore"):
                        scores = (x @ s_mat) / norms[None, :]
                    # zero-norm seed ⇒ dot 0 / norm 0 = NaN ⇒ never chosen
                    scores = np.where(np.isnan(scores), -np.inf, scores)
                    ids_out.append(grp["_id"].to_numpy(dtype=np.int64))
                    subs_out.append(sids[np.argmax(scores, axis=1)])
                if ids_out:
                    yield pd.DataFrame(
                        {"_id": np.concatenate(ids_out), "_sub": np.concatenate(subs_out)}
                    )

        best = over_part.select("cluster", "_id", "vec").mapInPandas(
            assign, "_id long, _sub long"
        )
        hot_work = (
            over_part.join(best, "_id")
            .withColumn("cluster", F.concat_ws("/", "cluster", "_sub"))
            .select(*cols)
            .localCheckpoint()
        )
        # the eager localCheckpoint above already ran the assignment
        # job; the seed table is dead weight on the executors now
        bc_seeds.unpersist()

    # -- 3. depth exhausted: exclude what still overflows (round-6 path)
    cell_sizes = hot_work.groupBy("cluster").agg(F.count(F.lit(1)).alias("_cn"))
    over = cell_sizes.where(F.col("_cn") > max_cluster)
    over_rows = over.orderBy(F.col("_cn").desc()).limit(5).collect()
    if over_rows:
        agg = over.agg(F.count(F.lit(1)), F.sum("_cn")).collect()[0]
        stats["excluded_cells"], stats["excluded_members"] = agg[0], agg[1]
        log.warning(
            "%s: %d cell(s) still over max_cluster=%d after %d split level(s) — "
            "excluded from pairwise stage (largest: %s); members stay kept=True",
            caller,
            len(over_rows),
            max_cluster,
            max_depth,
            [(r["cluster"], r["_cn"]) for r in over_rows],
        )
        hot_work = hot_work.join(F.broadcast(over.select("cluster")), "cluster", "left_anti")
    return settled.unionByName(hot_work.select(*cols)), direct


def semantic_dedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    threshold: float = 0.35,
    quantize: int | None = None,
    max_cluster: int | None = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al.,
    arXiv:2303.09540): cluster the corpus with a coarse quantizer,
    then compare embeddings ONLY within their cluster and drop every
    vector that has a cosine ≥ threshold pair with a lower-id vector
    (greedy keep-lowest — deterministic, order-free). Output one row
    per input vector: (id, cluster, kept).

    The cluster structure is the entire scale story — identical to the
    paper's: pairwise work is Σ|cluster|² not |corpus|², so k clusters
    cut the quadratic term by ~k on balanced data. Pair generation is
    a bucketed self-equi-join (AQE-skew-splittable), never a cross
    join; the verify runs on candidate pairs only.

    ``max_cluster`` is the degenerate-skew guard (round 7: clusters
    over the cap are recursively re-quantized — exact-dup collapse +
    nearest-seed splits — so the head of a Zipf corpus still gets
    deduped and |cell|² never materializes over the cap; only cells
    that overflow even after bounded splitting are excluded, loudly,
    with members kept=True — see ``_refine_hot_clusters``). None
    disables (the oracle-exact configuration; the default never
    triggers below 100k-vector clusters)."""
    as_long = quantize is not None
    # assignment feeds three consumers (size probe, pair join, final
    # output); un-materialized each would recompute the centroid
    # shuffle + per-id argmax window. One row per vector — cheap to pin.
    assigned = assign_clusters(vectors, id_col, vec_col, label_col, quantize).localCheckpoint(
        eager=False
    )  # round-12: the hot-cell size probe (or the final action)
    # materializes it -- no dedicated eager job
    v = with_norm(
        vectors.select(F.col(id_col).alias("_id"), quantized(F.col(vec_col), quantize).alias("vec")),
        "vec",
        as_long,
    ).join(assigned.withColumnRenamed(id_col, "_id"), "_id")
    v, direct = _refine_hot_clusters(
        v, assigned, max_cluster, threshold, "semantic_dedup"
    )
    a = v.toDF("id_a", "vec_a", "n2_a", "cluster")
    b = v.toDF("id_b", "vec_b", "n2_b", "cluster")
    dropped = (
        a.join(b, "cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.round(
                _cos_expr(
                    _dot(F.col("vec_a"), F.col("vec_b"), as_long),
                    F.col("n2_a"),
                    F.col("n2_b"),
                ),
                6,
            )
            >= threshold
        )
        .select(F.col("id_b").alias("_id"))
        .distinct()
    )
    if direct is not None:
        dropped = dropped.unionByName(direct).distinct()
    return (
        assigned.withColumnRenamed(id_col, "_id")
        .join(dropped.withColumn("_drop", F.lit(True)), "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "cluster",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
        )
    )


def semantic_dedup_arrow(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    threshold: float = 0.35,
    quantize: int | None = 1000,
    max_cluster: int | None = 100_000,
) -> DataFrame:
    """Production fast path for ``semantic_dedup``: the within-cluster
    pairwise verify runs as ONE numpy GEMM per cluster via
    ``applyInPandas`` instead of the interpreted per-element
    zip_with/aggregate dot — ~2x end-to-end at sf0.1 (2.9s → 1.6s:
    the 1.25M-pair verify itself drops to noise and the shared
    clustering stage dominates). Same clustering, same keep-lowest-id
    rule,
    same output schema. With ``quantize`` set the GEMM is exact —
    quantized int values make every product/sum < 2^53, so float64
    matmul is integer-exact, matching the expression path bit for bit
    (the only theoretical divergence surface is a cosine landing
    bit-exactly on a .5e-7 rounding boundary — never observed; the
    query is oracle-checked against the expression path's DuckDB twin
    AND test-pinned equal to the expression path).

    Scale shape: one shuffle on the cluster key brings each cluster to
    one executor as Arrow batches; memory is |cluster|·d·8B plus the
    |cluster|² score block — bounded by ``max_cluster`` (round 7:
    oversized clusters are re-quantized into sub-cap cells — see
    ``_refine_hot_clusters`` — so the head still dedupes; only
    unsplittable cells skip the pair stage, kept=True, logged)."""
    import numpy as np

    assigned = assign_clusters(vectors, id_col, vec_col, label_col, quantize).localCheckpoint(
        eager=False
    )  # round-12: the hot-cell size probe (or the final action)
    # materializes it -- no dedicated eager job
    v = vectors.select(
        F.col(id_col).alias("_id"), quantized(F.col(vec_col), quantize).alias("vec")
    ).join(assigned.withColumnRenamed(id_col, "_id"), "_id")
    v, direct = _refine_hot_clusters(
        v, assigned, max_cluster, threshold, "semantic_dedup_arrow"
    )

    def find_dropped(pdf):
        import pandas as pd

        ids = pdf["_id"].to_numpy(dtype=np.int64)
        x = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        order = np.argsort(ids, kind="stable")
        ids, x = ids[order], x[order]
        g = x @ x.T
        norms = np.sqrt(np.diag(g))
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = g / np.maximum(norms[:, None] * norms[None, :], 1e-300)
        cos = np.round(cos, 6)
        # Zero-norm vectors: the expression path (try_divide) and the
        # DuckDB oracle both score such pairs NULL, which never
        # satisfies the >= threshold predicate — a zero-norm vector
        # causes NO dedup drop. Mask them out explicitly (the clamped
        # division yields 0, which would spuriously HIT at a
        # non-positive threshold).
        zero = norms == 0
        over = (cos >= threshold) & ~zero[:, None] & ~zero[None, :]
        # row i dropped iff any earlier (lower-id) row j has cos >= τ
        hit = np.triu(over, k=1)  # j < i pairs at [j, i]
        dropped = ids[hit.any(axis=0)]
        return pd.DataFrame({"_id": dropped})

    dropped = v.groupBy("cluster").applyInPandas(find_dropped, "_id long")
    if direct is not None:
        dropped = dropped.unionByName(direct).distinct()
    return (
        assigned.withColumnRenamed(id_col, "_id")
        .join(dropped.withColumn("_drop", F.lit(True)), "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "cluster",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
        )
    )


def semantic_index(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    quantize: int | None = None,
) -> DataFrame:
    """Persistable SemDeDup corpus index for incremental dedup: one
    row per corpus vector — (id, label, vec, cluster), the quantized
    vector plus its corpus-quantizer cell. Write it to parquet once;
    ``incremental_semantic_dedup`` reads it back and derives the
    centroid table from the STORED rows (label sums of the quantized
    vecs — exact-integer under quantization), so index build and
    reload agree bit-for-bit and no separate centroid artifact is
    needed. This is the per-ingest dedup shape at 100 TB: each new
    batch does batch-sized work against a corpus-sized index instead
    of re-clustering the corpus (the embedding mirror of
    ``dedup.minhash_band_index``)."""
    assigned = assign_clusters(vectors, id_col, vec_col, label_col, quantize)
    return vectors.select(
        F.col(id_col),
        F.col(label_col).alias("label"),
        quantized(F.col(vec_col), quantize).alias("vec"),
    ).join(assigned, id_col)


def semantic_index_centroids(index: DataFrame) -> DataFrame:
    """(label, csum) centroid-sum table derived EXACTLY from a
    ``semantic_index``'s stored quantized vectors — persist it next to
    the index at build time so per-batch incremental dedup never
    re-aggregates the corpus (one k×d parquet; at 100 TB the
    difference between batch-sized and corpus-sized per-ingest
    work)."""
    return (
        index.select("label", F.posexplode("vec").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.sum("x").alias("s"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "s"))).alias("entries"))
        .select("label", F.transform("entries", lambda e: e["s"]).alias("csum"))
    )


def _prune_index_cells(
    index: DataFrame, assigned: DataFrame, cells: list | None = None
) -> DataFrame:
    """Restrict a semantic index to the cells a batch touches, robust
    to the partition-inference type flip: a cluster-PARTITIONED index
    parquet reads its (string-written) cluster key back as int, while
    the batch's assignment carries the centroid table's original
    label type. The cell VALUES are coerced to the index's dtype
    before the isin filter (so partition pruning still fires on the
    raw column) and the surviving rows' cluster is cast to the
    batch's dtype (so the downstream equi-join/cogroup keys agree —
    mismatched cogroup key types trip Spark's CoGroupedIterator
    ordering assertion). ``cells`` skips the distinct-collect when
    the caller already knows the batch's cell set.

    The coercion REFUSES (loudly) labels that don't round-trip the
    flip — a string label like "007" reads back as partition value 7,
    whose cast to string is "7" ≠ "007", so every join would silently
    miss and the batch would be silently under-deduplicated. Such
    indexes must be written unpartitioned or use canonical labels."""
    if cells is None:
        cells = [r["cluster"] for r in assigned.select("cluster").distinct().collect()]
    idx_t = dict(index.dtypes)["cluster"]
    batch_t = dict(assigned.dtypes)["cluster"]
    if idx_t in ("tinyint", "smallint", "int", "bigint") and idx_t != batch_t:
        try:
            typed = [int(c) for c in cells]
            bad = [c for c, t in zip(cells, typed) if str(t) != str(c)]
        except (TypeError, ValueError) as e:
            raise ValueError(
                f"semantic index cluster column is {idx_t} (partition type"
                f" inference?) but the batch's cell labels ({cells[:5]}...)"
                " are not integers — write the index unpartitioned or use"
                " integer-convertible labels"
            ) from e
        if bad:
            raise ValueError(
                f"semantic index cluster labels {bad[:5]} do not survive the"
                f" partition-inference round trip (string → {idx_t} → string"
                " changes the value, so index joins would silently miss and"
                " the batch would be under-deduplicated) — write the index"
                " unpartitioned or use canonical integer labels"
            )
    elif idx_t == "string":
        typed = [str(c) for c in cells]
    else:
        typed = list(cells)
    out = index.where(F.col("cluster").isin(typed))
    if idx_t != batch_t:
        out = out.withColumn("cluster", F.col("cluster").cast(batch_t))
    return out


def incremental_semantic_dedup(
    new: DataFrame,
    index: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    quantize: int | None = None,
    cents: DataFrame | None = None,
) -> DataFrame:
    """Incremental SemDeDup: dedup a NEW batch against a persisted
    ``semantic_index`` without touching corpus-vs-corpus pairs. Every
    index member counts as already-kept (it wins any tie), so a new
    vector is dropped when round(cosine, 6) ≥ threshold against ANY
    index member of its cell OR against a lower-id new vector of the
    same cell — exactly the greedy keep-lowest rule batch
    ``semantic_dedup`` applies when the corpus ids rank below the
    batch ids. Output one row per NEW vector: (id, cluster, kept),
    cluster from the CORPUS quantizer (assignment shares
    ``_assign_to_centroids`` with the index build, so ranking ties
    break identically). New ids must be disjoint from index ids
    (same contract as ``dedup.incremental_neardup``).

    Scale shape: centroids derive from the index in one (label, dim)
    shuffle and broadcast (k×d); new-batch assignment is map-side;
    candidate pairs are an equi-join on the cell key — |batch| ×
    cell-local index rows, never corpus². The batch-vs-batch term is
    |batch|-bounded. Nothing in the plan scales with corpus size
    except the one pre-bucketed index join."""
    as_long = quantize is not None
    if cents is None:
        cents = semantic_index_centroids(index)
    nv = new.select(F.col(id_col).alias("_id"), quantized(F.col(vec_col), quantize).alias("vec"))
    assigned = nv.join(_assign_to_centroids(nv, cents), "_id").localCheckpoint()
    # batch-cell pruning: only index cells the batch actually touches
    # are read — with a cluster-PARTITIONED index parquet the isin
    # filter becomes partition pruning at the scan, so a small batch
    # over a huge index reads a handful of cells, not the corpus.
    index = _prune_index_cells(index, assigned)
    b = with_norm(assigned, "vec", as_long).toDF("id_b", "vec_b", "cluster", "n2_b")
    idx_a = with_norm(index.select(F.col(id_col).alias("id_a"), F.col("vec").alias("vec_a"), "cluster"), "vec_a", as_long).toDF(
        "id_a", "vec_a", "cluster", "n2_a"
    )
    new_a = b.toDF("id_a", "vec_a", "cluster", "n2_a")
    cos_hit = F.round(
        _cos_expr(_dot(F.col("vec_a"), F.col("vec_b"), as_long), F.col("n2_a"), F.col("n2_b")),
        6,
    ) >= F.lit(threshold)
    dropped = (
        idx_a.join(b, "cluster")
        .where(cos_hit)
        .select(F.col("id_b").alias("_id"))
        .unionByName(
            new_a.join(b, "cluster")
            .where(F.col("id_a") < F.col("id_b"))
            .where(cos_hit)
            .select(F.col("id_b").alias("_id"))
        )
        .distinct()
    )
    return (
        assigned.select("_id", "cluster")
        .join(dropped.withColumn("_drop", F.lit(True)), "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "cluster",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
        )
    )


def incremental_semantic_dedup_arrow(
    new: DataFrame,
    index: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    quantize: int | None = 1000,
    cents: DataFrame | None = None,
    broadcast_rows: int = 250_000,
) -> DataFrame:
    """Production fast path for ``incremental_semantic_dedup``: the
    batch BROADCASTS (grouped by cell: ids, matrix, norms — the
    cosine_topk_arrow shape) and the verify runs as numpy GEMMs in a
    ``mapInPandas`` over the INDEX SCAN — no index shuffle at all, and
    a Zipf head cell parallelizes across its parquet row-groups
    instead of serializing into one cogroup task. The in-batch
    keep-lowest rule runs as a separate per-cell kernel over the
    batch itself. Same rules, same output schema as the expression
    path; with ``quantize`` the GEMM is integer-exact (same argument
    as ``semantic_dedup_arrow``); zero-norm pairs are never hits
    (oracle NULL semantics — see _cos_expr).

    Scale shape: batches larger than ``broadcast_rows`` are processed
    in driver-side CHUNKS (each chunk collects, broadcasts ≤
    broadcast_rows·d·8B, and re-scans the pruned index — bounded
    driver/executor memory at the price of one index scan per chunk);
    index-side and in-batch kernels both run SLICED so no score block
    exceeds ~32M doubles and no b×b matrix materializes for a hot
    batch cell. round(·, 6) is evaluated SPARSELY — only on scores
    within 1e-6 of the threshold — because a full-block np.round was
    the dominant kernel cost, not the GEMM."""
    import numpy as np

    if cents is None:
        cents = semantic_index_centroids(index)
    nv = new.select(F.col(id_col).alias("_id"), quantized(F.col(vec_col), quantize).alias("vec"))
    assigned = nv.join(_assign_to_centroids(nv, cents), "_id").localCheckpoint()
    spark = new.sparkSession

    def _rounded_hits(scores, tau):
        """Boolean mask of round(score, 6) >= tau, with the round
        evaluated only near the boundary (full-block np.round costs
        more than the GEMM). NaN (zero-norm pairs) compares False in
        numpy, matching the oracle's NULL-never-hits semantics."""
        hit = scores >= tau + 5e-7  # safely above any rounding
        band = (scores >= tau - 5e-7) & ~hit  # boundary band only
        if band.any():
            hit[band] = np.round(scores[band], 6) >= tau
        return hit

    # -- in-batch rule: per-cell kernel over the batch itself --------
    # j-sliced: drop[i] = any j < i with a hit, computed in b×c blocks
    # so a hot batch cell never materializes b×b
    def in_batch(pdf):
        import pandas as pd

        ids = pdf["_id"].to_numpy(dtype=np.int64)
        x = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        order = np.argsort(ids, kind="stable")
        ids, x = ids[order], x[order]
        n = np.sqrt((x * x).sum(axis=1))
        b = len(ids)
        drop = np.zeros(b, dtype=bool)
        c = max(1, 32_000_000 // max(b, 1))
        for s in range(0, b, c):
            sl = slice(s, min(s + c, b))
            with np.errstate(invalid="ignore", divide="ignore"):
                cs = (x @ x[sl].T) / (n[:, None] * n[sl][None, :])
            hits = _rounded_hits(cs, threshold)
            # only pairs with row index i > column's absolute index j
            j_abs = np.arange(sl.start, sl.stop)
            lower = np.arange(b)[:, None] > j_abs[None, :]
            drop |= (hits & lower).any(axis=1)
        return pd.DataFrame({"_id": ids[drop]})

    dropped_in_batch = assigned.select("cluster", "_id", "vec").groupBy("cluster").applyInPandas(
        in_batch, "_id long"
    )

    # -- index rule: broadcast batch (chunked), map over pruned scan --
    def vs_index_factory(bc):
        def vs_index(batches):
            import pandas as pd

            for pdf in batches:
                out = []
                for cell, grp in pdf.groupby("cluster"):
                    blk = bc.value.get(cell)
                    if blk is None:
                        continue
                    ids_b, xb, nb = blk
                    xi = np.stack(grp["vec"].to_numpy()).astype(np.float64)
                    ni = np.sqrt((xi * xi).sum(axis=1))
                    drop = np.zeros(len(ids_b), dtype=bool)
                    c = max(1, 32_000_000 // max(len(ids_b), 1))
                    for s in range(0, len(xi), c):
                        sl = slice(s, s + c)
                        with np.errstate(invalid="ignore", divide="ignore"):
                            cs = (xb @ xi[sl].T) / (nb[:, None] * ni[sl][None, :])
                        drop |= _rounded_hits(cs, threshold).any(axis=1)
                        if drop.all():
                            break
                    out.append(ids_b[drop])
                yield pd.DataFrame(
                    {"_id": np.concatenate(out) if out else np.array([], dtype=np.int64)}
                )

        return vs_index

    n_batch = assigned.count()
    n_chunks = max(1, -(-n_batch // broadcast_rows))
    dropped = dropped_in_batch
    for chunk in range(n_chunks):
        part = (
            assigned
            if n_chunks == 1
            else assigned.where(F.pmod(F.col("_id"), F.lit(n_chunks)) == chunk)
        )
        by_cell: dict = {}
        for r in part.select("cluster", "_id", "vec").collect():
            by_cell.setdefault(r["cluster"], []).append((r["_id"], r["vec"]))
        if not by_cell:
            continue
        blocks = {}
        for cell, entries in by_cell.items():
            entries.sort()
            ids = np.array([i for i, _v in entries], dtype=np.int64)
            x = np.array([v for _i, v in entries], dtype=np.float64)
            norms = np.sqrt((x * x).sum(axis=1))
            blocks[cell] = (ids, x, norms)
        bc = spark.sparkContext.broadcast(blocks)
        idx_v = _prune_index_cells(index, part, cells=list(blocks)).select("cluster", "vec")
        dropped = dropped.unionByName(idx_v.mapInPandas(vs_index_factory(bc), "_id long"))
    dropped = dropped.distinct()
    return (
        assigned.select("_id", "cluster")
        .join(dropped.withColumn("_drop", F.lit(True)), "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "cluster",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
        )
    )


def prototype_rank(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    top: int = 10,
    quantize: int | None = None,
) -> DataFrame:
    """Prototypicality ranking (the SSL-prototypes pruning metric of
    Sorscher et al., arXiv:2206.14486): cosine of each vector to its
    own cluster's centroid, ranked within the cluster (most
    prototypical first, tie → smaller id); emit the top ``top`` per
    cluster. Data-pruning pipelines drop the most prototypical (easy)
    examples at high data volume — this frame is the pruning signal.

    One (label, dim) shuffle for centroid sums, a broadcast join to
    score, one window partitioned by label for the rank: the corpus
    shuffles once, on its cluster key."""
    as_long = quantize is not None
    cents = label_centroid_sums(vectors, id_col, vec_col, label_col, quantize)
    v = with_norm(
        vectors.select(
            F.col(id_col).alias("_id"),
            F.col(label_col).alias("label"),
            quantized(F.col(vec_col), quantize).alias("vec"),
        ),
        "vec",
        as_long,
    )
    scored = v.join(F.broadcast(cents), "label").select(
        "label",
        "_id",
        # try_divide: zero-norm member or centroid scores NULL (ranked
        # last by desc) rather than ANSI DIVIDE_BY_ZERO aborting.
        F.try_divide(
            _dot(F.col("vec"), F.col("csum").cast("array<double>"), False),
            F.sqrt(F.col("_norm2").cast("double"))
            * F.sqrt(_dot(F.col("csum").cast("array<double>"), F.col("csum").cast("array<double>"), False)),
        ).alias("_cos"),
    )
    w = Window.partitionBy("label").orderBy(F.col("_cos").desc(), F.col("_id"))
    return (
        scored.withColumn("proto_rank", F.row_number().over(w))
        .where(F.col("proto_rank") <= top)
        .select(
            "label",
            F.col("_id").alias(id_col),
            "proto_rank",
            F.round("_cos", 6).alias("cosine"),
        )
    )


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    quantize: int | None = None,
) -> DataFrame:
    """k-NN label prediction: majority vote over the k nearest corpus
    neighbors by cosine (vote tie → smaller label). Output
    (query_id, predicted_label, votes). The caller keeps queries out
    of the corpus for a held-out prediction.

    Built on ``cosine_topk`` so the scale shape is inherited: corpus
    scans map-side against broadcast queries; everything after the
    top-k window is |queries| × k rows."""
    top = cosine_topk(corpus, queries, id_col, vec_col, k, quantize)
    labels = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nlabel"))
    votes = (
        top.join(labels, "neighbor_id")
        .groupBy("query_id", "nlabel")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("votes").desc(), F.col("nlabel"))
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("query_id", F.col("nlabel").alias("predicted_label"), "votes")
    )


def label_centroids(
    vectors: DataFrame, vec_col: str, label_col: str, quantize: int | None = 1000
) -> DataFrame:
    """(label, dim, centroid) — per-label mean embedding, the IVF
    coarse-quantizer "training" step exposed as a queryable frame.
    Exact under quantization: integer component sums, one final
    rounded division. dim is 1-based (matches SQL subscripts).

    Scale shape: one shuffle on (label, dim) with map-side partial
    sums — components spread across the cluster, never a per-label
    collect; the tiny per-label count joins back broadcast-size."""
    q = vectors.select(
        F.col(label_col).alias("label"), quantized(F.col(vec_col), quantize).alias("v")
    )
    cnt = q.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    exploded = q.select("label", F.posexplode("v").alias("i", "x"))
    return (
        exploded.groupBy("label", (F.col("i") + 1).cast("int").alias("dim"))
        .agg(F.sum("x").alias("sx"))
        .join(F.broadcast(cnt), "label")
        .select(
            "label",
            "dim",
            F.round(F.col("sx").cast("double") / F.col("n"), 6).alias("centroid"),
        )
    )


def dimension_stats(
    vectors: DataFrame, vec_col: str, quantize: int = 1000
) -> DataFrame:
    """(dim, n, mean, std, vmin, vmax) — per-dimension distribution
    diagnostics over the whole embedding column: the embedding-health
    monitor real pipelines run before trusting a vector table (a dead
    dimension shows std ~ 0; a scale-drifted encoder shows mean/extent
    shifts; anisotropy shows up as a few dominant dims).

    Exactness: components quantize to integers (round(x * quantize)),
    so count / sum / sum-of-squares / min / max are all exact integer
    aggregates; the Sx/Sxx partials are widened to DECIMAL(38,0)
    (round-11, same fix class as ts_bollinger) so the population
    variance numerator n*Sxx - Sx^2 stays exact far past the BIGINT
    ceiling (~3e6 rows/dim at Q=1000) — at 100-TB scale (n ~ 1e12,
    |x_q| ~ Q) n*Sxx <= 1e30, comfortably inside DECIMAL(38,0). The
    only float ops are one division per stat and one correctly-rounded
    sqrt — IEEE-identical on both engines, which is what lets the
    DuckDB twin hash-match. Plan shape is unchanged: still one hash
    aggregate, just wider partials.

    Scale shape: one posexplode (rows x dims, computed in the scan) and
    one groupBy(dim) with map-side partial aggregation — the shuffle
    carries |partitions| x |dims| partial rows, never the corpus; the
    final reduce is |dims| rows. No collect, no window."""
    q = vectors.select(quantized(F.col(vec_col), quantize).alias("v"))
    exploded = q.select(F.posexplode("v").alias("i", "x"))
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    var_num = (n.cast("decimal(38,0)") * sxx - sx * sx).cast("double")
    return (
        exploded.groupBy((F.col("i") + 1).cast("int").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
            # square in DECIMAL, not BIGINT-then-cast (ADVICE r11): a
            # BIGINT x*x overflows at |x_q| > ~3.03e9 (large quantize
            # or non-unit components) before the widening ever applies
            # — the queries.py d38(a)*d38(a) pattern.
            F.sum(
                F.col("x").cast("decimal(38,0)") * F.col("x").cast("decimal(38,0)")
            ).alias("sxx"),
            F.min("x").alias("mn"),
            F.max("x").alias("mx"),
        )
        .select(
            "dim",
            "n",
            F.round(sx.cast("double") / (n * float(quantize)), 6).alias("mean"),
            F.round(F.sqrt(var_num) / (n * float(quantize)), 6).alias("std"),
            F.round(F.col("mn").cast("double") / quantize, 6).alias("vmin"),
            F.round(F.col("mx").cast("double") / quantize, 6).alias("vmax"),
        )
    )


def pca_power_direction(
    vectors: DataFrame, id_col: str, vec_col: str, quantize: int = 100
) -> DataFrame:
    """Dominant principal direction of the (un-centered) second-moment
    matrix M = Σ x·xᵀ by TWO integer-exact power-iteration steps —
    the anisotropy monitor that completes the embedding-health family
    (dimension_stats sees per-dim spread, centroid_drift sees
    per-label shift; this sees the shared dominant direction — the
    "cone effect" that makes raw cosine similarities collapse and
    that whitening exists to remove). Output one row per dimension:
    (dim, v_share = v2_j / max|v2| in [-1, 1], explained_share =
    Rayleigh(v1) / trace(M) — the fraction of total second moment the
    dominant direction carries, constant across rows).

    Exactness: components quantize to integers; with v0 = 1⃗ the two
    steps are v1_j = Σ_r x_rj·s_r (s_r the row sum) and
    v2_j = Σ_r x_rj·(x_r·v1) — every product and sum exact in
    DECIMAL(38,0) (the DuckDB twin rides HUGEINT; both exact, and
    only the final rounded-double shares cross the hash). Magnitude
    bound at Q=100, d=64: v2 ~ n²·Q⁴·d² — inside DECIMAL(38,0) to
    n ~ 1e8 rows; past that, overflow raises LOUDLY under ANSI (run
    the probe on a hash-sampled slice, the diagnostic's normal mode
    at corpus scale — direction estimates converge long before 1e8).

    Scale shape: the corpus is touched twice (row sums + dot
    products), each a posexplode + groupBy with map-side partials;
    the per-dim frames are d rows. Two single-partition exchanges
    (the d-row scalar reduce and the trace), inside the repo's pinned
    ≤2 invariant."""
    # Round-12 opt (guide §2.4 — remove shuffles outright): the old
    # shape checkpointed the exploded (row, dim, x) frame and ran each
    # power step as groupBy(_rid) + join-back — four row-scale
    # exchanges plus joins. Every per-ROW quantity is an array fold
    # computable in the scan projection: the row sum s_r rides the
    # first pass, and the second pass's dot x_r·v1 folds against the
    # LITERAL v1 — a d-row exact-integer collect (bounded by the
    # dimension, never the data; the codebook discipline). Each pass
    # is one scan + one groupBy(i) with map-side partials (shuffle =
    # partitions x d rows); the trace shares the first aggregation.
    # All arithmetic is the same exact integer/DECIMAL(38,0) chain.
    d38 = "decimal(38,0)"
    q = vectors.select(quantized(F.col(vec_col), quantize).alias("v"))
    p1 = q.select(
        "v",
        F.aggregate("v", F.lit(0).cast("long"), lambda a, b: a + b).alias("_s"),
    )
    ex1 = p1.select("_s", F.posexplode_outer("v").alias("i", "x")).where(
        F.col("x").isNotNull()
    )
    agg1 = (
        ex1.groupBy("i")
        .agg(
            F.sum((F.col("x") * F.col("_s")).cast(d38)).alias("w"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        .collect()
    )
    w_by_i = {int(r["i"]): int(r["w"]) for r in agg1}
    tr = sum(int(r["sxx"]) for r in agg1)
    dims = sorted(w_by_i)
    wlit = F.array(*[F.lit(str(w_by_i[i])).cast(d38) for i in dims])
    dot11 = sum(w * w for w in w_by_i.values())
    p2 = q.select(
        "v",
        F.aggregate(
            F.zip_with(F.col("v"), wlit, lambda x, w: x.cast(d38) * w),
            F.lit(0).cast(d38),
            lambda a, b: a + b,
        ).alias("_d2"),
    )
    ex2 = p2.select("_d2", F.posexplode_outer("v").alias("i", "x")).where(
        F.col("x").isNotNull()
    )
    v2 = (
        ex2.groupBy("i")
        .agg(F.sum(F.col("x").cast(d38) * F.col("_d2")).alias("w2"))
        .localCheckpoint(eager=False)  # round-12: the scal broadcast
        # build inside the final action materializes it
    )
    scal = v2.agg(
        F.max(F.abs(F.col("w2"))).alias("maxabs"),
        F.sum(F.element_at(wlit, F.col("i") + 1) * F.col("w2")).alias("dot12"),
    )
    return (
        v2.crossJoin(F.broadcast(scal))
        .select(
            (F.col("i") + 1).cast("int").alias("dim"),
            F.round(
                F.col("w2").cast("double") / F.col("maxabs").cast("double"), 6
            ).alias("v_share"),
            F.round(
                F.col("dot12").cast("double")
                / F.lit(str(dot11)).cast(d38).cast("double")
                / F.lit(str(tr)).cast(d38).cast("double"),
                6,
            ).alias("explained_share"),
        )
    )


def centroid_drift(
    slice_a: DataFrame,
    slice_b: DataFrame,
    vec_col: str,
    label_col: str,
    quantize: int = 1000,
) -> DataFrame:
    """(label, n_a, n_b, drift) — L2 distance between the two slices'
    per-label centroids: the embedding drift monitor (re-encoded
    corpus vs original, this week's crawl vs last's — a label whose
    centroid moved is a class whose representation shifted; pairs
    with dimension_stats' per-dim view). Labels present in BOTH
    slices only (a one-sided label has no drift to measure).

    Determinism: component sums are exact integers under quantization;
    the per-dim mean differences and their squared sum are floats, but
    accumulated by an explicit LEFT FOLD over a dim-SORTED array
    (F.aggregate — the oracle mirrors with list_reduce over list(...
    ORDER BY dim)), so every engine adds the same correctly-rounded
    doubles in the same order — bit-identical without the big-decimal
    machinery an exact integer path would need at (sum*count)^2
    magnitudes.

    Scale shape: two posexplode scans + two (label, dim) group-bys
    with map-side partials; the collect_list is per label x |dims|
    elements — bounded by the dimensionality, never the corpus."""
    def prep(df: DataFrame, tag: str):
        q = df.select(
            F.col(label_col).alias("label"), quantized(F.col(vec_col), quantize).alias("v")
        )
        cnt = q.groupBy("label").agg(F.count(F.lit(1)).alias(f"n_{tag}"))
        sums = (
            q.select("label", F.posexplode("v").alias("i", "x"))
            .groupBy("label", "i")
            .agg(F.sum("x").alias(f"sx_{tag}"))
        )
        return cnt, sums

    cnt_a, sums_a = prep(slice_a, "a")
    cnt_b, sums_b = prep(slice_b, "b")
    per_dim = sums_a.join(sums_b, ["label", "i"])
    arr = per_dim.groupBy("label").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("i"), F.col("sx_a"), F.col("sx_b")))
        ).alias("ds")
    )
    j = arr.join(F.broadcast(cnt_a), "label").join(F.broadcast(cnt_b), "label")
    diff = lambda s: (  # noqa: E731
        s["sx_a"].cast("double") / F.col("n_a")
        - s["sx_b"].cast("double") / F.col("n_b")
    )
    sq_sum = F.aggregate(
        F.transform(F.col("ds"), lambda s: diff(s) * diff(s)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    return j.select(
        "label",
        "n_a",
        "n_b",
        F.round(F.sqrt(sq_sum) / quantize, 6).alias("drift"),
    )


# ------------------------------------------------- product quantization ---


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ks: int = 16,
    seed: str = "orestes-pq",
    refine: int = 4,
    train_n: int | None = None,
):
    """Train PQ codebooks: deterministic hash-sampled init (the ks
    vectors with the smallest (xxhash64(id, seed), id) — a
    data-independent reservoir, so retraining on the same corpus is
    bit-identical and no RNG state ships to executors), then ``refine``
    Lloyd iterations per subspace on a larger hash-sampled training set
    (first ``train_n`` vectors in the same hash order; default
    min(4096, 64·ks)) — the FAISS recipe, made reproducible: fixed
    sample, fixed row order, argmin ties to the lower code, empty
    clusters keep their previous centroid, all float64.

    Returns (codebooks, dims): codebooks is a float64 ndarray of shape
    (m, ks, dims // m). Driver cost is collecting train_n vectors —
    bounded by the training-set constant, never the corpus.
    ``refine=0`` gives the raw sampled codebooks (the integer-exact
    tier ``pq_topk_quantized`` uses so its DuckDB oracle can replay
    training verbatim)."""
    import numpy as np

    if train_n is None:
        train_n = min(4096, 64 * ks) if refine else ks
    train_n = max(train_n, ks)
    sample = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)), F.col(id_col))
        .limit(train_n)
        .collect()
    )
    if not sample:
        raise ValueError("pq_codebooks: empty corpus")
    train = np.array([r[1] for r in sample], dtype=np.float64)  # (n, dims)
    mat = train[:ks]
    dims = mat.shape[1]
    if dims % m:
        raise ValueError(f"pq_codebooks: dims={dims} not divisible by m={m}")
    sub = dims // m
    # (m, ks, sub): codebook j initialized from column block j of the
    # first-ks sample rows
    books = np.stack([mat[:, j * sub : (j + 1) * sub] for j in range(m)]).copy()
    for _ in range(refine):
        for j in range(m):
            x = train[:, j * sub : (j + 1) * sub]  # (n, sub)
            c = books[j]  # (ks', sub)
            d = (c**2).sum(axis=1)[None, :] - 2.0 * (x @ c.T)  # argmin-equivalent
            assign = d.argmin(axis=1)  # first-hit = lower code on ties
            for k_ in range(c.shape[0]):
                members = x[assign == k_]
                if len(members):
                    books[j, k_] = members.mean(axis=0)
    return books, dims


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` one-byte-ish centroid indices
    (argmin squared-L2 per subspace, ties to the lower code). Output
    (id, codes ARRAY<INT>) — a 32× compression at dims=64/m=8 float32,
    which is what makes billion-vector ANN RAM-resident at 100 TB.

    Arrow kernel: per batch, one (batch, ks) distance matrix per
    subspace via the ||x||² − 2x·c + ||c||² expansion — three BLAS
    calls per subspace, no Python-per-row work. Codebooks ship once as
    a broadcast."""
    import numpy as np

    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, ks, sub = books.shape
    b = corpus.sparkSession.sparkContext.broadcast(books)

    def encode(batches):
        import pandas as pd

        bb = b.value
        cnorm = (bb**2).sum(axis=2)  # (m, ks)
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)  # (B, dims)
            codes = np.empty((mat.shape[0], m), dtype=np.int32)
            for j in range(m):
                x = mat[:, j * sub : (j + 1) * sub]  # (B, sub)
                # argmin ||x - c||^2 = argmin (||c||^2 - 2 x.c); ties -> lower code (argmin is first-hit)
                d = cnorm[j][None, :] - 2.0 * (x @ bb[j].T)
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame({id_col: ids, "codes": list(codes)})

    return corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        encode, f"{id_col} long, codes array<int>"
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 4,
    ks: int = 16,
    seed: str = "orestes-pq",
    codes: DataFrame | None = None,
    codebooks=None,
) -> DataFrame:
    """Approximate top-k nearest neighbors by squared L2 over PQ codes
    with asymmetric distance computation (ADC): each query builds an
    (m, ks) lookup table of exact subvector→centroid distances once,
    and every corpus vector scores as m table lookups + adds — no
    per-pair float math at all. Output (query_id, neighbor_id,
    adc_dist, rank), rank 1 = nearest, ties broken by neighbor id;
    self-matches excluded.

    Scale shape — the production ANN path for corpora too big even for
    IVF posting lists: the corpus is touched once to encode (or reuse a
    persisted ``codes`` frame, the steady-state mode), the scan over
    codes is embarrassingly parallel with each partition emitting only
    its local top-k per query, and the final window sees ≤ partitions×k
    rows per query. Float path (like cosine_topk_arrow) — oracle parity
    at the exact-math tier is cosine_topk's job.
    """
    import numpy as np

    if codebooks is None:
        codebooks, _ = pq_codebooks(corpus, id_col, vec_col, m, ks, seed)
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, ks, sub = books.shape
    if codes is None:
        codes = pq_encode(corpus, books, id_col, vec_col)

    qrows = queries.select(F.col(id_col).cast("long"), F.col(vec_col)).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)  # (Q, dims)
    # LUT[q, j, c] = ||q_j - books[j, c]||^2, exact per subspace
    luts = np.stack(
        [
            ((qmat[:, j * sub : (j + 1) * sub][:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            for j in range(m)
        ],
        axis=1,
    )  # (Q, m, ks)
    b = corpus.sparkSession.sparkContext.broadcast((qids, luts))

    def score(batches):
        import pandas as pd

        bq_ids, blut = b.value
        nq = len(bq_ids)
        for pdf in batches:
            if pdf.empty:
                continue
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            cm = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (B, m)
            dists = np.zeros((nq, cm.shape[0]))
            for j in range(m):
                dists += blut[:, j, cm[:, j]]  # (Q, B) gather
            dists[bq_ids[:, None] == cids[None, :]] = np.inf  # self-match
            top = min(k, cm.shape[0])
            # same stable (dist asc, neighbor_id asc) prefix rule as
            # cosine_topk_arrow's local cut
            base = np.argsort(cids, kind="stable")
            sel = np.argsort(dists[:, base], axis=1, kind="stable")[:, :top]
            idx = base[sel]  # (Q, top)
            picked = np.take_along_axis(dists, idx, axis=1)
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(bq_ids[:, None], top, axis=1).ravel(),
                    "neighbor_id": cids[idx].ravel(),
                    "adc_dist": picked.ravel(),
                }
            )
            yield out[np.isfinite(out["adc_dist"].to_numpy())]

    local = codes.mapInPandas(score, "query_id long, neighbor_id long, adc_dist double")
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist"), F.col("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("adc_dist", 6).alias("adc_dist"), "rank")
    )


def pq_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 4,
    ks: int = 16,
    quantize: int = 1000,
) -> DataFrame:
    """Integer-exact PQ/ADC, the oracle-checkable tier of ``pq_topk``:
    embeddings are quantized to ``round(x·quantize)`` longs, the
    codebook sample is the ``ks`` corpus vectors with the smallest
    ``(md5(cast(id as string)), id)`` — md5 exists verbatim in DuckDB,
    the same oracle/production hash split the LSH path uses — and every
    distance is an exact integer sum of squared differences (bounded by
    dims·(2·quantize·max|x|)² ≪ 2⁵³, so the float64 kernels below stay
    exact). Codes are the sample-order index (rank by the md5 sort), so
    a SQL twin reproduces encoding, LUT, and ranking bit-for-bit.
    Output (query_id, neighbor_id, adc_dist BIGINT, rank); same
    distributed shape as pq_topk (encode scan + local top-k per
    partition + final ≤ partitions×k window)."""
    import numpy as np

    qc = corpus.select(F.col(id_col), quantized(F.col(vec_col), quantize).alias(vec_col))
    qq = queries.select(F.col(id_col), quantized(F.col(vec_col), quantize).alias(vec_col))
    sample = (
        qc.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col)).limit(ks).collect()
    )
    if not sample:
        raise ValueError("pq_topk_quantized: empty corpus")
    mat = np.array([r[1] for r in sample], dtype=np.float64)  # (ks', dims), integer-valued
    dims = mat.shape[1]
    if dims % m:
        raise ValueError(f"pq_topk_quantized: dims={dims} not divisible by m={m}")
    sub = dims // m
    books = np.stack([mat[:, j * sub : (j + 1) * sub] for j in range(m)])
    codes = pq_encode(qc, books, id_col, vec_col)
    res = pq_topk(qc, qq, id_col, vec_col, k=k, m=m, ks=ks, codes=codes, codebooks=books)
    return res.select(
        "query_id", "neighbor_id", F.col("adc_dist").cast("long").alias("adc_dist"), "rank"
    )


def label_centroid_stats(
    vectors: DataFrame, id_col: str, vec_col: str, label_col: str
) -> DataFrame:
    """(label, csum ARRAY<DOUBLE>, n) — component-wise sums AND vector
    counts per label in ONE corpus aggregation (the per-(label, dim)
    count is the vector count, so no second corpus scan is needed to
    turn sums into mean centroids)."""
    q = vectors.select(F.col(label_col).alias("label"), F.col(vec_col).alias("v"))
    exploded = q.select("label", F.posexplode("v").alias("i", "x"))
    return (
        exploded.groupBy("label", "i")
        .agg(F.sum(F.col("x").cast("double")).alias("s"), F.count(F.lit(1)).alias("cnt"))
        .groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct("i", "s"))).alias("entries"),
            F.max("cnt").alias("n"),
        )
        .select("label", F.transform("entries", lambda e: e["s"]).alias("csum"), "n")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    m: int = 4,
    ks: int = 16,
    nprobe: int = 2,
    seed: str = "orestes-ivfpq",
    quantize: int | None = None,
) -> DataFrame:
    """IVF-PQ ANN (the FAISS IVFPQ production shape): coarse routing
    by per-label mean centroids + PQ codes over the RESIDUAL
    (vector − its centroid) scored via per-(query, probed-cell) ADC
    lookup tables. Output (query_id, neighbor_id, adc_dist, rank) by
    squared-L2, ties to the lower neighbor id; self-matches excluded.

    ``quantize`` selects the ORACLE-EXACT integer tier: vectors
    quantize to round(x·quantize) longs, centroids to micro-units
    (round-half-away(1000·sum/n) — the same rounding DuckDB's round()
    applies), residuals/LUTs/ADC all stay exact integers in float64
    (≪ 2⁵³), and the codebook sample orders by (md5(id), id) so a SQL
    twin replays training verbatim. adc_dist is then BIGINT in
    micro²-units. Default (None) keeps the float path.

    Why both layers at 100 TB: IVF cuts the scan to nprobe/|cells| of
    the corpus; PQ cuts the bytes PER SCANNED VECTOR ~32× (m one-byte
    codes vs d float32) — so the working set a probe touches is small
    enough to stay RAM-resident even at billions of vectors. Residual
    coding (not raw-vector PQ) is what keeps the quantization error
    small near cell centers, the standard IVFPQ refinement.

    Scale shape: centroids are one (label, dim) shuffle collected at
    k×d driver cost; encoding is one Arrow pass over the corpus; the
    search kernel ships Q×nprobe×m×ks table floats by broadcast and
    each partition emits only its local top-k per query. Deterministic
    end-to-end (sampled residual codebooks, no RNG). Float path —
    exact-tier oracle parity is ivf_topk/cosine_topk's job.

    Recall honesty: like any PQ index, quality tracks the bit budget
    (m·log2 ks per vector) AGAINST the corpus's distance spread. On
    well-clustered data the defaults recover planted near-duplicates
    at rank 1 (pinned in tests); on near-isotropic corpora (all
    pairwise distances in a narrow band — measured ADC/true-distance
    correlation ~0.7 at m=8, ks=16 on the synthetic testdata) the
    top-k ordering degrades and m/ks must be raised — the same dial
    FAISS users turn. Use cosine_topk_arrow when exact ranking at
    full scan cost is acceptable."""
    import numpy as np

    scale = 1000.0 if quantize is not None else 1.0
    if quantize is not None:
        corpus = corpus.select(
            F.col(id_col), quantized(F.col(vec_col), quantize).alias(vec_col), F.col(label_col)
        )
        queries = queries.select(
            F.col(id_col), quantized(F.col(vec_col), quantize).alias(vec_col)
        )

    # ---- coarse quantizer: per-label MEAN centroids (k×d collect,
    # sums + counts in ONE corpus aggregation) ----
    stats = {r["label"]: (np.array(r["csum"], dtype=np.float64), r["n"])
             for r in label_centroid_stats(corpus, id_col, vec_col, label_col).collect()}
    labels = sorted(stats)
    if quantize is None:
        cents = {lb: s / n for lb, (s, n) in stats.items()}
    else:
        # micro-unit integer centroids: EXACT half-away-from-zero of
        # the double 1000·sum/n — floor plus an exact remainder
        # compare (y - floor(y) is exact for |y| < 2⁵², so `rem ≥ 0.5`
        # is the true tie test; the naive floor(|y| + 0.5) can round
        # the ADDITION up across a half boundary and disagree with
        # DuckDB's round(), which rounds the double value itself).
        def _half_away(y):
            a = np.abs(y)
            f = np.floor(a)
            return np.copysign(f + (a - f >= 0.5), y)

        cents = {lb: _half_away(scale * s / n) for lb, (s, n) in stats.items()}
    # Dense cell indices decouple the Arrow schemas from the label
    # type: string/int/any label works (same contract as ivf_topk).
    lab2idx = {lb: i for i, lb in enumerate(labels)}

    # ---- residual PQ codebooks from a deterministic corpus sample ----
    hash_col = (
        F.md5(F.col(id_col).cast("string"))  # DuckDB-replayable (oracle tier)
        if quantize is not None
        else F.xxhash64(F.col(id_col).cast("string"), F.lit(seed))
    )
    sample = (
        corpus.select(F.col(id_col), F.col(vec_col), F.col(label_col))
        .orderBy(hash_col, F.col(id_col))
        .limit(ks)
        .collect()
    )
    if not sample:
        raise ValueError("ivf_pq_topk: empty corpus")
    res = np.array(
        [np.asarray(r[1], dtype=np.float64) * scale - cents[r[2]] for r in sample]
    )
    dims = res.shape[1]
    if dims % m:
        raise ValueError(f"ivf_pq_topk: dims={dims} not divisible by m={m}")
    sub = dims // m
    books = np.stack([res[:, j * sub : (j + 1) * sub] for j in range(m)])  # (m, ks, sub)

    cent_mat = np.stack([cents[lb] for lb in labels])  # (L, d), row = cell idx
    sc = corpus.sparkSession.sparkContext
    b_enc = sc.broadcast((books, cent_mat, lab2idx, scale))

    def encode(batches):
        import pandas as pd

        bb, bc_mat, b_idx, b_scale = b_enc.value
        cnorm = (bb**2).sum(axis=2)  # (m, ks)
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cells = pdf[label_col].map(b_idx).to_numpy(dtype=np.int64)
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64) * b_scale
            r = mat - bc_mat[cells]  # residuals vs own-cell centroid
            codes = np.empty((r.shape[0], m), dtype=np.int32)
            for j in range(m):
                x = r[:, j * sub : (j + 1) * sub]
                d = cnorm[j][None, :] - 2.0 * (x @ bb[j].T)
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame({id_col: ids, "cell": cells, "codes": list(codes)})

    codes = corpus.select(F.col(id_col), F.col(vec_col), F.col(label_col)).mapInPandas(
        encode, f"{id_col} long, cell int, codes array<int>"
    )

    # ---- query-side: probe assignment + per-(q, cell) residual LUTs ----
    qrows = queries.select(F.col(id_col).cast("long"), F.col(vec_col)).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([r[1] for r in qrows], dtype=np.float64) * scale
    l2 = ((qmat[:, None, :] - cent_mat[None, :, :]) ** 2).sum(axis=2)  # (Q, L)
    order = np.argsort(l2, axis=1, kind="stable")[:, : min(nprobe, len(labels))]
    probes = {}  # qid -> {cell idx: LUT (m, ks)}
    for qi, qid in enumerate(qids):
        per = {}
        for li in order[qi]:
            qres = qmat[qi] - cent_mat[li]
            per[int(li)] = np.stack(
                [((qres[j * sub : (j + 1) * sub][None, :] - books[j]) ** 2).sum(axis=1)
                 for j in range(m)]
            )
        probes[int(qid)] = per
    b_q = sc.broadcast(probes)

    def score(batches):
        import pandas as pd

        bp = b_q.value
        for pdf in batches:
            if pdf.empty:
                continue
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            lbs = pdf["cell"].to_numpy(dtype=np.int64)
            cm = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            out_q, out_n, out_d = [], [], []
            for qid, per in bp.items():
                cand_ids, cand_d = [], []
                for lb, lut in per.items():
                    mask = (lbs == lb) & (cids != qid)
                    if not mask.any():
                        continue
                    sel = cm[mask]
                    d = np.zeros(sel.shape[0])
                    for j in range(lut.shape[0]):
                        d += lut[j, sel[:, j]]
                    cand_ids.append(cids[mask])
                    cand_d.append(d)
                if not cand_ids:
                    continue
                ids_all = np.concatenate(cand_ids)
                d_all = np.concatenate(cand_d)
                top = min(k, len(ids_all))
                base = np.argsort(ids_all, kind="stable")
                sel2 = np.argsort(d_all[base], kind="stable")[:top]
                idx = base[sel2]
                out_q.append(np.full(top, qid, dtype=np.int64))
                out_n.append(ids_all[idx])
                out_d.append(d_all[idx])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "adc_dist": np.concatenate(out_d),
                    }
                )

    local = codes.mapInPandas(score, "query_id long, neighbor_id long, adc_dist double")
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist"), F.col("neighbor_id"))
    ranked = local.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
    if quantize is not None:
        return ranked.select(
            "query_id", "neighbor_id", F.col("adc_dist").cast("long").alias("adc_dist"), "rank"
        )
    return ranked.select(
        "query_id", "neighbor_id", F.round("adc_dist", 6).alias("adc_dist"), "rank"
    )


def pq_index_write(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ks: int = 16,
    seed: str = "orestes-pq",
) -> None:
    """Persist a PQ index: codes parquet (one row per vector — m
    small ints instead of d floats, the ~32× compressed scan side)
    plus the codebooks as a tiny parquet. The steady-state ANN mode
    at 100 TB: the corpus is touched ONCE to encode; every later
    ``pq_index_topk`` reads only the code table (and re-encoding an
    append-only corpus is incremental by construction — encode just
    the new partition and append)."""
    import numpy as np

    books, _ = pq_codebooks(corpus, id_col, vec_col, m, ks, seed)
    spark = corpus.sparkSession
    rows = [
        (j, c, [float(x) for x in books[j, c]])
        for j in range(books.shape[0])
        for c in range(books.shape[1])
    ]
    spark.createDataFrame(rows, "j INT, c INT, vec ARRAY<DOUBLE>").write.mode(
        "overwrite"
    ).parquet(f"{path}/codebooks")
    pq_encode(corpus, books, id_col, vec_col).write.mode("overwrite").parquet(f"{path}/codes")


def pq_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Search a persisted PQ index (``pq_index_write``) — the corpus
    itself is never opened: the scan side is the code table, the
    codebooks reconstruct the ADC lookup tables. Same output contract
    as ``pq_topk``."""
    import numpy as np

    crows = spark.read.parquet(f"{path}/codebooks").collect()
    m = 1 + max(r["j"] for r in crows)
    ks = 1 + max(r["c"] for r in crows)
    sub = len(crows[0]["vec"])
    books = np.zeros((m, ks, sub))
    for r in crows:
        books[r["j"], r["c"]] = r["vec"]
    codes = spark.read.parquet(f"{path}/codes")
    # corpus arg is only used for session/broadcast plumbing: pass the
    # codes frame (its rows are never re-encoded because codes= is given)
    return pq_topk(
        codes,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        k=k,
        m=m,
        ks=ks,
        codes=codes,
        codebooks=books,
    )


def pq_index_recall(
    spark,
    path: str,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    probe_mod: int = 97,
    quantize: int | None = 1000,
) -> float:
    """Measured recall@k of a persisted PQ index against the exact
    quantized-cosine ranking, probed with the deterministic query
    sample ``id % probe_mod == 0`` — the same instrumentation shape
    as emb_ivf_recall, pointed at the code table. Probe cost is
    |probe| × |corpus| on the exact side (bounded by probe_mod) and
    one code-table scan on the PQ side."""
    queries = corpus.where(F.col(id_col) % probe_mod == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(corpus, queries, id_col, vec_col, k=k, quantize=quantize).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_index_topk(spark, path, queries, id_col, vec_col, k=k).collect()
    }
    return len(exact & approx) / len(exact) if exact else 1.0


def pq_requantize_if(
    spark,
    path: str,
    corpus: DataFrame,
    recall_floor: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    probe_mod: int = 97,
    m: int = 4,
    ks: int = 16,
    seed: str = "orestes-pq",
    quantize: int | None = 1000,
) -> dict:
    """Staleness policy for the persisted PQ index (round-10 verdict
    #9 — ``requantize_if`` gives the IVF store a drift trigger; the
    PQ index had none): codebooks trained on an old corpus snapshot
    quantize new-distribution vectors badly, and the failure is
    SILENT — searches keep returning rank-ordered results, just the
    wrong ones. The trigger is therefore a MEASURED recall probe
    (``pq_index_recall``), not a row-count heuristic: when recall@k
    over the deterministic probe sample drops below ``recall_floor``,
    retrain codebooks + re-encode the corpus (``pq_index_write`` into
    a temp tree, then swap it in whole; see below).

    Deterministic from (corpus, config) state: an auto-triggered
    retrain and a manual ``pq_index_write`` over the same corpus
    produce IDENTICAL codebooks and codes (seeded training, integer
    probe), asserted by the drift test. The common healthy case is
    one probe and zero writes. Returns {"recall": r} when above the
    floor, else {"recall_before", "recall_after", "retrained": True}.
    Single-writer contract like the other offline jobs: run with
    searches paused or between epochs.

    Swap discipline: the WHOLE index directory swaps as a unit, so no
    crash can leave a readable index whose codebooks and codes
    disagree. New trees are written to the sibling ``<path>.retrain``
    and swapped in by one ``commit_backend.swap_set`` over the parent
    directory. On entry the job rolls a pending swap forward and
    discards an uncommitted ``.retrain``: a restart after a crash ends
    with the old index retrained again or the new index kept. Between
    the swap's two renames the index is ABSENT (readers fail loudly)
    until the job runs again. The swap is rename-based, so the path
    must be POSIX-local (same boundary and error as the embedding
    store's offline jobs)."""
    import shutil
    from pathlib import Path

    from orestes_spark.commit_backend import POSIX_BACKEND
    from orestes_spark.streaming.ingest import _require_posix_store

    path = Path(_require_posix_store(path, "pq_requantize_if"))
    tmp = path.with_name(path.name + ".retrain")
    POSIX_BACKEND.recover_swap_set(path.parent)
    shutil.rmtree(tmp, ignore_errors=True)
    recall = pq_index_recall(
        spark, str(path), corpus, id_col, vec_col, k, probe_mod, quantize
    )
    if recall >= recall_floor:
        return {"recall": recall}
    pq_index_write(corpus, str(tmp), id_col, vec_col, m, ks, seed)
    POSIX_BACKEND.swap_set(path.parent, [(path.name, tmp.name)])
    after = pq_index_recall(
        spark, str(path), corpus, id_col, vec_col, k, probe_mod, quantize
    )
    return {"recall_before": recall, "recall_after": after, "retrained": True}


def kmeans_cosine(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    quantize: int | None = None,
) -> DataFrame:
    """Lloyd k-means under cosine similarity — a TRAINED coarse
    quantizer for corpora with no label column (everywhere else the
    label stands in for trained cell ids; this closes that gap for
    IVF builds and SemDeDup cells on unlabeled embeddings).

    Exactness: centroids are kept as integer SUM vectors, never
    divided by the member count — cosine is scale-invariant, so the
    un-normalized sum IS the centroid direction, and under
    ``quantize`` every centroid update is exact integer arithmetic
    (the only floats are one sqrt + one divide per score, identical
    IEEE ops on any engine — the same discipline as
    ``semantic_index_centroids``). Seeding is deterministic: the
    lowest-id vector of each (id % k) residue class. ``iters``
    assignment passes run with ``iters - 1`` centroid updates in
    between; clusters that lose all members drop out (standard Lloyd
    behavior, mirrored by the oracle's inner joins).

    Scale shape per iteration: assignment is the broadcast-centroid
    map-side argmax of ``_assign_to_centroids`` (shuffle carries
    |corpus| rows, never |corpus|×k); the centroid update is one
    (cluster, dim) partial-combinable aggregation. The k×d centroid
    table is localCheckpointed between iterations so lineage stays
    flat at any ``iters``."""
    v = vectors.select(
        F.col(id_col).alias("_id"), quantized(F.col(vec_col), quantize).alias("vec")
    )
    w = Window.partitionBy(F.col("_id") % k).orderBy("_id")
    cents = (
        v.withColumn("label", F.col("_id") % k)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("label", F.col("vec").alias("csum"))
    )
    for _ in range(iters - 1):
        assigned = _assign_to_centroids(v, cents)
        cents = semantic_index_centroids(
            v.join(assigned, "_id").select(F.col("cluster").alias("label"), "vec")
        ).localCheckpoint(eager=False)
        # round-12: lazy — the k×d table still truncates lineage, but
        # its materialization rides the NEXT iteration's (or the final
        # assignment's) centroid-broadcast build instead of a
        # dedicated eager job per iteration (guide §1.2)
    return _assign_to_centroids(v, cents).select(F.col("_id").alias(id_col), "cluster")


def semantic_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    quantize: int | None = None,
    eval_is_subset: bool = False,
) -> DataFrame:
    """Embedding-space eval-set decontamination: every corpus vector
    whose cosine against ANY eval vector reaches ``threshold`` —
    the paraphrase-robust third modality of the leak-scan family
    (text.decontaminate catches n-gram overlap,
    dedup.substring_contamination catches verbatim copies; a
    reworded eval answer evades both and lands here). Output one row
    per contaminated corpus vector: (id, n_eval_hits, eval_id,
    cosine) — hit count plus the best-matching eval doc, ranked by
    full-precision cosine with eval-id tie-break.

    Scale shape: the eval side is BROADCAST — an eval set is
    fixed-size by definition, it does not grow with the corpus — so
    this is one corpus scan with a map-side |corpus|×|eval| score
    and one per-corpus-id window; no corpus shuffle before the
    (threshold-pruned) rank. This is the exact brute-force baseline;
    at very large eval sets, pre-filter candidates with the LSH/IVF
    routes exactly as cosine_topk composes with them. Determinism:
    ``quantize`` runs the integer-dot tier (same discipline as
    cosine_topk).

    Id namespaces (round-10 ADVICE): corpus ids and eval ids need NOT
    be disjoint — by default a coincidental cid == qid collision is
    scored like any other pair, because exempting it would silently
    skip a genuine contamination hit. Set ``eval_is_subset=True`` only
    when the eval set is literally drawn from the corpus under ONE id
    namespace, where a vector matching itself is a tautology, not a
    leak."""
    as_long = quantize is not None
    c = with_norm(
        corpus.select(
            F.col(id_col).alias("cid"), quantized(F.col(vec_col), quantize).alias("cvec")
        ),
        "cvec",
        as_long,
    ).withColumnRenamed("_norm2", "cn2")
    q = with_norm(
        eval_set.select(
            F.col(id_col).alias("qid"), quantized(F.col(vec_col), quantize).alias("qvec")
        ),
        "qvec",
        as_long,
    ).withColumnRenamed("_norm2", "qn2")
    pairs = c.crossJoin(F.broadcast(q))
    if eval_is_subset:
        pairs = pairs.where(F.col("cid") != F.col("qid"))
    scored = (
        pairs
        .select(
            "cid",
            "qid",
            _cos_expr(
                _dot(F.col("cvec"), F.col("qvec"), as_long), F.col("cn2"), F.col("qn2")
            ).alias("_cos"),
        )
        .where(F.round(F.col("_cos"), 6) >= threshold)
    )
    by_id = Window.partitionBy("cid")
    ranked = scored.withColumn(
        "rank", F.row_number().over(by_id.orderBy(F.col("_cos").desc(), F.col("qid")))
    ).withColumn("n_eval_hits", F.count(F.lit(1)).over(by_id))
    return ranked.where(F.col("rank") == 1).select(
        F.col("cid").alias(id_col),
        F.col("n_eval_hits").cast("long").alias("n_eval_hits"),
        F.col("qid").alias("eval_id"),
        F.round("_cos", 6).alias("cosine"),
    )


def semantic_decontaminate_arrow(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    quantize: int | None = 1000,
    eval_is_subset: bool = False,
) -> DataFrame:
    """Production fast path for ``semantic_decontaminate``: the
    |corpus| × |eval| scoring runs as ONE numpy GEMM per Arrow batch
    via ``mapInPandas`` instead of the interpreted per-element
    zip_with/aggregate dot — the ``semantic_dedup_arrow`` /
    ``cosine_topk_arrow`` discipline applied to the decontamination
    scan. The eval matrix is collected once (an eval set is
    fixed-size by contract — the same bound that justifies the
    expression path's broadcast) and ships to executors as one
    broadcast; each corpus batch emits only its ≥-threshold rows.
    Same output contract and tie-break (raw cosine desc, eval id asc
    among hits) as the expression twin.

    Exactness: with ``quantize`` the GEMM runs on integer-valued
    float64 (dot and norms < 2⁵³ — exact) and cosine =
    dot / (√n2_c · √n2_q), the identical correctly-rounded IEEE ops
    of ``_cos_expr``; the threshold test applies ``np.round(·, 6)``
    exactly as ``semantic_dedup_arrow`` does (same theoretical
    .5e-7-boundary caveat, same oracle + path-equivalence pinning),
    while the OUTPUT cosine is rounded by Spark's own ``F.round`` on
    the raw kernel value, so emitted values are bit-identical to the
    expression path. Zero-norm vectors score NULL there (try_divide)
    and thus never hit — the kernel masks them out of the hit set.
    Ids must be integer-castable (the kernel carries them as int64);
    non-numeric ids raise loudly, as in ``cosine_topk_arrow``.

    ``quantize=None`` is accepted but loses the bit-equality contract
    with the expression twin (ADVICE r12): on unquantized floats the
    numpy pairwise-summed dot and Catalyst's left-fold dot can differ
    in the last ulp, which can flip the round(·,6) >= threshold hit
    test or the raw-score tie-break on adversarial inputs. Every
    caller in this repo passes an integer quantize; unquantized use
    logs a warning and is exactness-best-effort."""
    import numpy as np

    if quantize is None:
        import logging

        logging.getLogger(__name__).warning(
            "semantic_decontaminate_arrow: quantize=None — the kernel's"
            " pairwise-summed GEMM is not bit-equal to the expression"
            " path's left-fold dot on raw floats; hit/tie-break flips in"
            " the last ulp are possible. Pass an integer quantize for"
            " the path-equivalence contract."
        )

    spark = corpus.sparkSession
    erows = eval_set.select(
        F.col(id_col).try_cast("long"), quantized(F.col(vec_col), quantize)
    ).collect()
    if any(r[0] is None for r in erows):
        raise ValueError(
            f"semantic_decontaminate_arrow requires integer-castable"
            f" {id_col!r} eval ids (the Arrow kernel carries ids as"
            " int64); use semantic_decontaminate for arbitrary id types"
        )
    order = sorted(range(len(erows)), key=lambda i: erows[i][0])
    qids = np.array([erows[i][0] for i in order], dtype=np.int64)
    qmat = np.array([erows[i][1] for i in order], dtype=np.float64)
    qn2 = (qmat * qmat).sum(axis=1) if len(qmat) else np.zeros((0,))
    b = spark.sparkContext.broadcast((qids, qmat, qn2))
    subset = bool(eval_is_subset)
    thr = float(threshold)

    def score(batches):
        import pandas as pd

        bq_ids, bq, bqn2 = b.value
        bqz = bqn2 == 0
        for pdf in batches:
            if pdf.empty or len(bq_ids) == 0:
                continue
            if pdf[id_col].isnull().any():
                raise ValueError(
                    "semantic_decontaminate_arrow requires integer-castable"
                    f" {id_col!r} values on the corpus side"
                )
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            cmat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cn2 = (cmat * cmat).sum(axis=1)
            scores = (cmat @ bq.T) / np.maximum(
                np.sqrt(cn2)[:, None] * np.sqrt(bqn2)[None, :], 1e-300
            )
            hit = np.round(scores, 6) >= thr
            hit &= (cn2 > 0)[:, None] & ~bqz[None, :]
            if subset:
                hit &= cids[:, None] != bq_ids[None, :]
            n_hits = hit.sum(axis=1)
            rows = np.nonzero(n_hits > 0)[0]
            if not len(rows):
                continue
            masked = np.where(hit[rows], scores[rows], -np.inf)
            # eval columns are qid-ascending, argmax takes the FIRST
            # max → smallest eval id among raw-score ties, matching
            # row_number() OVER (ORDER BY _cos DESC, qid)
            best = np.argmax(masked, axis=1)
            yield pd.DataFrame(
                {
                    "cid": cids[rows],
                    "n_eval_hits": n_hits[rows].astype(np.int64),
                    "qid": bq_ids[best],
                    "_cos": masked[np.arange(len(rows)), best],
                }
            )

    local = corpus.select(
        F.col(id_col), quantized(F.col(vec_col), quantize).alias(vec_col)
    ).mapInPandas(score, "cid long, n_eval_hits long, qid long, _cos double")
    return local.select(
        F.col("cid").alias(id_col),
        "n_eval_hits",
        F.col("qid").alias("eval_id"),
        F.round("_cos", 6).alias("cosine"),
    )


def semantic_decontaminate_ivf(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "cluster",
    threshold: float = 0.3,
    quantize: int | None = None,
    nprobe: int = 2,
    eval_is_subset: bool = False,
) -> DataFrame:
    """The IVF-routed scale path of ``semantic_decontaminate``: each
    eval query probes only its ``nprobe`` nearest trained cells, so
    the scored volume is |eval| × (probed fraction of the corpus)
    instead of the brute-force |eval| × |corpus| — the same
    inverted-file economics as ivf_topk, reusing its routing/scoring
    stage verbatim. Corpus vectors in cells no eval query probes are
    UNEXAMINED: nprobe is the recall dial, measured the same way
    emb_ivf_recall measures it for search. Same output contract as
    the exact operator: (id, n_eval_hits, eval_id, cosine) — but
    n_eval_hits counts only hits from probed cells. Like the exact
    operator, corpus/eval ids need not be disjoint (round-10 ADVICE):
    ``eval_is_subset=True`` is only for an eval set drawn from the
    corpus under one id namespace."""
    scored = _ivf_scored(
        corpus, eval_set, id_col, vec_col, label_col, quantize, nprobe,
        exclude_same_id=eval_is_subset,
    ).where(F.round(F.col("_cos"), 6) >= threshold)
    by_id = Window.partitionBy("cid")
    ranked = scored.withColumn(
        "rank", F.row_number().over(by_id.orderBy(F.col("_cos").desc(), F.col("qid")))
    ).withColumn("n_eval_hits", F.count(F.lit(1)).over(by_id))
    return ranked.where(F.col("rank") == 1).select(
        F.col("cid").alias(id_col),
        F.col("n_eval_hits").cast("long").alias("n_eval_hits"),
        F.col("qid").alias("eval_id"),
        F.round("_cos", 6).alias("cosine"),
    )
