"""Deduplication operators for large-scale text pipelines.

All of these are pure DataFrame compositions (no Python UDFs): hashing
is ``md5`` (portable: identical output in any engine, which is what the
DuckDB oracle checks), candidate generation is join/groupBy-based, and
the expensive verify steps run on per-document *arrays* so the heavy
lifting stays inside one narrow scan.

Architecture (shared by minhash / simhash / ngram):

  1. per-doc arrays computed IN THE SCAN (tokens → shingles/grams →
     signatures as array expressions — zero shuffles);
  2. candidates from an equi-self-join on the exploded bucket key
     (band value / rare gram) — whole-stage codegen, one reused
     exchange for both sides (see candidate_pairs);
  3. exact verify on candidate pairs via ``array_intersect`` sizes —
     computed once per pair.

Scale notes (100 TB):
  - exact_dedup shuffles only (fingerprint, id) pairs, never the text;
  - bucket sizes are bounded (max_df caps gram document-frequency;
    LSH bands are sparse by construction; simhash max_bucket drops
    degenerate bands), so step 2's pair fan-out stays linear, not
    quadratic;
  - a lambda must reference MATERIALIZED columns: expressions used
    inside higher-order functions are re-evaluated per element (no CSE
    across the lambda boundary) — the difference between O(n) and
    O(n²) per document.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from orestes_spark.plans.parallelism import ensure_min_parallelism


def normalize_text(col: F.Column) -> F.Column:
    return F.trim(F.lower(col))


# --------------------------------------------------------- array prep ---


def bind(expr: F.Column, fn) -> F.Column:
    """Evaluate ``expr`` ONCE and pass it to ``fn`` as a bound lambda
    variable: element_at(transform(array(expr), fn), 1).

    Materializing via a select alias is NOT enough: CollapseProject can
    inline the alias back into every use site, re-evaluating it per
    reference (and per array element inside higher-order lambdas) —
    measured 20× slowdowns. A lambda variable cannot be inlined."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def token_shingle_arrays(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3, guard: bool = True
) -> DataFrame:
    """(_id, shingles ARRAY<STRING>) — distinct n-token shingles,
    built as one ``transform`` over the window-start sequence with an
    ``array_join``ed k-slice per window (round-12 opt: this replaced
    the n-deep zip_with/concat_ws chain — the chain allocated n-1
    intermediate string arrays per doc, ~n/2x the bytes, and its n
    nested lambdas made a py4j expression tree ~3x slower to build;
    measured 2x faster end-to-end at k=8, identical output).
    ``guard=False`` skips the
    input-parallelism repartition — pass it when the caller already
    guarded upstream: the guard's partition probe (df.rdd) on a plan
    that contains a join/exchange makes AQE materialize that stage as
    an extra job, so it belongs on the scan, not the join output."""

    def build(tk: F.Column) -> F.Column:
        m = F.size(tk)
        # CASE guards evaluation: for size < n the sequence bound would
        # be < 1 and throw under ANSI.
        return F.when(
            m >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), m - (n - 1)),
                    lambda i: F.array_join(F.slice(tk, i, n), " "),
                )
            ),
        )

    split_expr = F.split(normalize_text(F.col(text_col)), r"\s+")
    src = ensure_min_parallelism(docs) if guard else docs
    # The null-shingles drop is expressed as the CHEAP precondition
    # (token count >= n), not isNotNull on the built array: predicate
    # pushdown substitutes the alias, so the array form re-ran the
    # whole shingle build inside a Filter at the parquet scan — which
    # is a single task on row-group-packed input (round-12 opt, guide
    # §1.3). The conditions are equivalent: shingles is null iff the
    # build's size-guard CASE fails, i.e. iff size(split) < n.
    return src.where(F.size(split_expr) >= n).select(
        F.col(id_col).alias("_id"), bind(split_expr, build).alias("shingles")
    )


def char_ngram_arrays(docs: DataFrame, id_col: str, text_col: str, n: int = 5) -> DataFrame:
    """(_id, grams ARRAY<STRING>) — distinct character n-grams.

    The normalized text is bound as a lambda variable, not a select
    alias: CollapseProject inlines aliases into the per-element
    substring lambda, re-running trim(lower(text)) once per gram —
    the O(len²) trap (measured ~10x on this function at sf0.1)."""

    def build(norm: F.Column) -> F.Column:
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(norm) - n + 1, F.lit(1))),
                lambda i: norm.substr(i, F.lit(n)),
            )
        )

    return ensure_min_parallelism(docs).select(
        F.col(id_col).alias("_id"), bind(normalize_text(F.col(text_col)), build).alias("grams")
    )


# Exploded views (kept for composability/tests).


def explode_col(df: DataFrame, array_col: str, out: str, *keep: str) -> DataFrame:
    """``select(keep…, explode(array_col) as out)`` WITHOUT the
    InferFiltersFromGenerate re-evaluation trap (round-12 opt): a
    plain explode of a projected array column makes the optimizer
    infer ``size(col) > 0 AND isnotnull(col)``, and predicate
    pushdown then substitutes the column's defining expression — so
    an expensive build (shingling, k-grams) re-runs twice inside a
    Filter at the parquet scan, which row-group packing makes a
    single task. explode_outer infers nothing; the explicit
    null-filter on the GENERATED column is the same row set (outer
    rows from null/empty arrays surface as null elements, and the
    builders never emit null elements) and cannot be pushed below
    the Generate."""
    return (
        df.select(*keep, F.explode_outer(array_col).alias(out))
        .where(F.col(out).isNotNull())
    )


def token_shingles(docs: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    return explode_col(
        token_shingle_arrays(docs, id_col, text_col, n), "shingles", "sh", "_id"
    )


# -------------------------------------------------------- exact dedup ---


def exact_dedup(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by content hash:
    (fingerprint, keeper_id, n_copies)."""
    return (
        docs.select(F.md5(F.col(text_col).cast("binary")).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def chunk_dedup(
    docs: DataFrame, id_col: str, text_col: str, chunk_words: int = 10
) -> DataFrame:
    """C4-style duplicate-span removal at chunk granularity: split each
    document into consecutive ``chunk_words``-token chunks, drop every
    chunk whose exact text already occurred earlier in the corpus
    (first occurrence by (doc_id, chunk_idx) wins), and reassemble the
    surviving chunks in order. C4 (Raffel et al., arXiv:1910.10683
    §2.2) removes repeated three-sentence spans; the synthetic corpus
    has no sentence boundaries, so fixed token windows stand in for
    sentences — the dedup semantics (corpus-global exact span dedup,
    keep-first) are the same.

    Output: (doc_id, n_chunks, kept_chunks, clean_text).

    Scale shape: chunks shuffle once on their hash for the keep-first
    window (bounded groups — |copies of one chunk|), then once on
    doc_id for reassembly. No self-join, no pairwise comparison: cost
    is linear in corpus tokens, the property that makes span-level
    dedup feasible at 100 TB where document-pair methods need LSH."""
    words = F.split(normalize_text(F.col(text_col)), r"\s+")
    n_chunks = F.ceil(F.size(words) / chunk_words).cast("int")
    chunks = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(F.slice(words, i * chunk_words + 1, chunk_words), " "),
            )
        ).alias("chunk_idx", "chunk"),
    )
    w = Window.partitionBy("chunk").orderBy("_id", "chunk_idx")
    kept = chunks.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    return (
        docs.select(F.col(id_col).alias("_id"), n_chunks.alias("n_chunks"))
        .join(
            kept.groupBy("_id").agg(
                F.count(F.lit(1)).alias("kept_chunks"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                        lambda s: s["chunk"],
                    ),
                    " ",
                ).alias("clean_text"),
            ),
            "_id",
            "left",
        )
        .select(
            F.col("_id").alias(id_col),
            "n_chunks",
            F.coalesce("kept_chunks", F.lit(0)).alias("kept_chunks"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


# ------------------------------------------------- candidates + verify ---


def candidate_pairs(
    banded: DataFrame, key_cols: list[str], min_cooccur: int = 1
) -> DataFrame:
    """(key…, _id) rows → distinct (id_a, id_b), id_a < id_b — all
    co-bucketed pairs via an equi-SELF-JOIN on the bucket key. The
    join (whole-stage codegen) beats collect_list + array fan-out
    (Catalyst interprets higher-order functions — measured ~6x slower
    for identical output), keeps a hot bucket as many rows (AQE
    skew-split applies) instead of one giant array, and reuses the
    bucket-key exchange for both sides. Bucket sizes must still be
    bounded upstream (max_df / LSH sparsity / max_bucket): the
    fan-out is Σ |bucket|²/2.

    ``min_cooccur`` > 1 keeps only pairs that fall in at least that
    many buckets (i.e. share ≥ min_cooccur rare grams / bands). This is
    the co-occurrence candidate-pruning knob: junk pairs typically
    share exactly one bucket, real near-dups share hundreds, so
    min_cooccur=2 collapses candidate volume with negligible recall
    cost — same aggregate shape as the distinct (one shuffle on the
    pair key) but far fewer survivors reach the verify join."""
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, key_cols)
        .where(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
    )
    if min_cooccur <= 1:
        return pairs.distinct()
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= min_cooccur)
        .select("id_a", "id_b")
    )


def verify_jaccard(
    arrays: DataFrame, cands: DataFrame, threshold: float, set_col: str
) -> DataFrame:
    """Exact Jaccard over per-doc element arrays, restricted to
    candidate pairs; intersection size computed once per pair.
    Output (id_a, id_b, jaccard ≥ threshold).

    A size-compatibility prefilter runs first: J(A,B) ≥ t requires
    |A| ≥ t·|B| and |B| ≥ t·|A| (since |A∩B| ≤ min). Joining the
    (id, size) table — two narrow columns, no array payload — and
    filtering drops most junk candidates BEFORE the array payloads are
    ever joined: exact, zero recall loss.

    The sizes table is one row per document, so it is NOT hinted for
    broadcast: at corpus scale a forced broadcast of a per-document
    table is an OOM directive the optimizer can't override. The join
    keys are plain equi-joins; AQE broadcasts while the side is small
    and falls back to shuffle when it isn't."""
    sizes = arrays.select("_id", F.size(set_col).alias("_n"))
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    compatible = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .where((F.col("_na") >= threshold * F.col("_nb")) & (F.col("_nb") >= threshold * F.col("_na")))
        .select("id_a", "id_b")
    )
    a = arrays.select(F.col("_id").alias("id_a"), F.col(set_col).alias("_sa"))
    b = arrays.select(F.col("_id").alias("id_b"), F.col(set_col).alias("_sb"))
    return (
        compatible.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("_inter", F.size(F.array_intersect("_sa", "_sb")))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("_inter") / (F.size("_sa") + F.size("_sb") - F.col("_inter")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def jaccard_pairs(
    shingles: DataFrame, threshold: float, candidates: DataFrame | None = None,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over exploded (id, sh) sets — the all-pairs
    inverted-index form (quadratic in per-shingle doc frequency; prefer
    the bucketed operators for large corpora).

    ``sizes`` (round-12 opt): an optional precomputed (_id, n)
    distinct-set-size table. A caller that still holds the per-doc
    shingle ARRAYS should pass ``arrays.select("_id", size(...))`` —
    a map-side projection — instead of letting this function
    re-aggregate the size from the token-scale exploded stream (one
    full groupBy exchange, and the planner duplicates the subtree for
    the id_a and id_b join sides, so it costs TWO). Callers may also
    pre-hash ``sh`` to 64-bit (xxhash64) so the inverted-index join
    shuffles 8-byte keys instead of shingle strings — same
    collision story as the containment family: a collision can only
    perturb one pair's intersection count with probability ~2^-64."""
    if sizes is None:
        sizes = shingles.groupBy("_id").agg(F.count(F.lit(1)).alias("n"))
    else:
        sizes = sizes.toDF("_id", "n")
    if candidates is None:
        inter = (
            shingles.alias("a")
            .join(shingles.alias("b"), "sh")
            .where(F.col("a._id") < F.col("b._id"))
            .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        sh_a = shingles.select(F.col("_id").alias("id_a"), "sh")
        sh_b = shingles.select(F.col("_id").alias("id_b"), "sh")
        inter = (
            candidates.join(sh_a, "id_a")
            .join(sh_b, ["id_b", "sh"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    na = sizes.select(F.col("_id").alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("_id").alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------------------ MinHash ---


def minhash_signatures(shingle_arrays: DataFrame, num_hashes: int = 8) -> DataFrame:
    """MinHash via k salted md5s, computed array-side (no shuffle):
    h_i = array_min(md5('<i>:' || shingle)). Lexicographic min over hex
    strings — engine-portable, no seed tables to ship."""
    cols = [
        F.array_min(
            F.transform(
                F.col("shingles"),
                lambda s: F.md5(F.concat(F.lit(f"{i}:"), s).cast("binary")),
            )
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return shingle_arrays.select("_id", *cols)


def minhash_band_rows(sig: DataFrame, num_hashes: int, rows_per_band: int) -> DataFrame:
    """(_id, band, bval) rows from a minhash signature table — the
    unit the LSH index stores and candidate joins run on."""
    bands = num_hashes // rows_per_band
    stack_args = []
    for b in range(bands):
        cols = [f"h{b * rows_per_band + r}" for r in range(rows_per_band)]
        stack_args.append(f"{b}, concat({', '.join(cols)})")
    return sig.select("_id", F.expr(f"stack({bands}, {', '.join(stack_args)}) as (band, bval)"))


def minhash_band_candidates(sig: DataFrame, num_hashes: int, rows_per_band: int) -> DataFrame:
    """LSH banding: docs sharing any band become a candidate pair —
    bands stacked into rows, pairs from the band-key self-join
    (see candidate_pairs).

    Round-13 (guide §1.2/§4.1): the band rows are LAZILY checkpointed
    before the self-join. In the broadcast regime the planner
    otherwise rebuilds the ENTIRE signature chain — 8 md5s per shingle
    per doc — a second time inside the BroadcastExchange (there is no
    exchange to reuse when one side broadcasts; the r12 plans showed
    the duplicated minhash Project on both sides). Band rows are 4
    narrow rows per doc, far cheaper to materialize than the md5 pass
    they save; in the shuffle regime the reused exchange made this
    free already, so the checkpoint costs only the block write."""
    banded = minhash_band_rows(sig, num_hashes, rows_per_band).localCheckpoint(
        eager=False
    )
    return candidate_pairs(banded, ["band", "bval"])


def minhash_lsh_dedup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash → LSH bands → exact-Jaccard verify: the standard
    near-dup pipeline. Output (id_a, id_b, jaccard)."""
    # the arrays feed the signature path AND both verify sides —
    # checkpoint once instead of recomputing the scan per use.
    # Round-12: LAZY — all consumers live in the one verify job, which
    # materializes both checkpoints via block-level locking; two
    # dedicated eager jobs gone (guide §1.2).
    arrays = token_shingle_arrays(docs, id_col, text_col, shingle_size).localCheckpoint(
        eager=False
    )
    sig = minhash_signatures(arrays, num_hashes)
    cands = minhash_band_candidates(sig, num_hashes, rows_per_band).localCheckpoint(
        eager=False
    )
    return verify_jaccard(arrays, cands, threshold, "shingles")


def minhash_band_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    buckets: int | None = None,
) -> DataFrame:
    """The persisted LSH index of a corpus: (band, bval, _id) rows.
    Built once per corpus (or maintained per ingest batch) and written
    to parquet; ``incremental_neardup`` then dedups every NEW batch
    against it with cost ∝ batch + candidates — the only corpus-sized
    artifact incremental dedup ever touches is this index, never the
    text. At 100 TB that is the difference between re-shingling the
    corpus per batch and an equi-join against a prebuilt table.

    ``buckets`` (round-10, completing the span index's treatment for
    the LSH side): adds ``hb = pmod(xxhash64(band, bval), buckets)``
    plus the self-describing modulus ``nb`` (``bucketize``).
    Write the index ``partitionBy("hb")``; ``incremental_neardup``
    then partition-prunes its candidate scan to the buckets the
    batch's band keys land in, and ``band_bloom`` adds the per-bucket
    pre-filter on top."""
    arrays = token_shingle_arrays(docs, id_col, text_col, shingle_size)
    idx = minhash_band_rows(minhash_signatures(arrays, num_hashes), num_hashes, rows_per_band)
    return bucketize(idx, _band_key_hash(), buckets) if buckets else idx


# ------------------------------------------- bucketed-index layout ---
# Five persisted index families — MinHash bands, SimHash/dHash bands,
# aligned media units, spans and winnow prints — share ONE layout
# contract: each row carries ``hb = pmod(key, nb)::int`` and the
# self-describing modulus ``nb`` (plus ``kg``/``wn``/``slt`` where the
# family has them), the index is written ``partitionBy("hb")``, and a
# probe scans only the buckets its batch's keys touch. Only the key
# expression differs per family, and it is defined next to its family
# (_band_key_hash, multimodal._unit_key_hash, span ``h``, winnow
# ``fp``). Pruning with the wrong modulus, or joining a different
# k/w/salt's key space, silently drops genuine hits — the one failure
# a dedup or decontamination gate must never have — so every build,
# probe and store gate goes through the functions below.


def _bucket_of(key, nb: int) -> Column:
    """The one hash-range bucket expression: ``pmod(key, nb)::int``
    (``key``: a column name or a Column)."""
    return F.pmod(key, F.lit(int(nb))).cast("int")


def bucketize(idx: DataFrame, key, buckets: int) -> DataFrame:
    """Add ``hb`` (the bucket of the family's 64-bit ``key``) and the
    self-describing modulus ``nb`` to index rows. Everything that
    writes bucketed index rows — the family builders and compaction's
    rebucket path — goes through here."""
    return idx.withColumn("hb", _bucket_of(key, buckets)).withColumn(
        "nb", F.lit(int(buckets))
    )


def touched_buckets(keys: DataFrame, key, nb: int) -> list[int]:
    """The distinct buckets a batch's keys land in — the literal list a
    probe filters ``hb IN (...)`` with, so a ``partitionBy("hb")``
    index is partition-pruned at the scan. ``keys`` is batch-sized
    (checkpointed where it has other consumers); the pmod runs
    executor-side and at most ``nb`` ids reach the driver — bounded
    by the layout, never by the batch (guide §5)."""
    return [r[0] for r in keys.select(_bucket_of(key, nb)).distinct().collect()]


def check_layout(
    index,
    what: str,
    buckets: int | None = None,
    k: int | None = None,
    w: int | None = None,
    salt: str | None = None,
) -> dict:
    """Validate a persisted index's self-described layout against the
    caller's settings and return it as {"nb", "kg", "wn", "slt"}:
    ``nb`` is the pruning modulus (None: scan unpruned), the others
    the self-described k-gram size, window and salt (None when the
    index lacks the column). ``nb``/``kg``/``wn``/``slt`` are
    read in ONE distinct-collect (column-pruned, RLE-constant; no job
    when the index carries none of them). A frame mixing values of
    any of them raises — it was assembled from different builds — and
    so does a caller setting that disagrees: a wrong modulus prunes
    away genuine hits, and k-grams or prints of different k/w/salt
    never match, so the join would report zero hits for every probe.
    Absence is legal (pre-kg indexes, external h-only frames validate
    by docstring contract), disagreement is not. An index with ``hb``
    but no ``nb`` predates the self-describing modulus: the caller's
    ``buckets`` is trusted as its modulus."""
    cols = [c for c in ("nb", "kg", "wn", "slt") if c in index.columns]
    vals: dict[str, set] = {c: set() for c in cols}
    if cols:
        for r in index.select(*cols).distinct().collect():
            for c in cols:
                if r[c] is not None:
                    vals[c].add(r[c] if c == "slt" else int(r[c]))
    have: dict = {}
    for c, label, plural, asked in (
        ("nb", "buckets", "bucket moduli", buckets or None),
        ("kg", "k", "k-gram sizes", k),
        ("wn", "w", "w values", w),
        ("slt", "salt", "salt values", salt),
    ):
        v = vals.get(c, ())
        if len(v) > 1:
            raise ValueError(
                f"{what} mixes {plural} {sorted(v)}: it was assembled from"
                f" builds with different {label}, and probing any of it"
                " with one setting silently drops genuine hits — rebuild"
                " or rebucket it through one build/compaction"
            )
        have[c] = next(iter(v)) if v else None
        if asked is not None and c != "slt":
            asked = int(asked)
        if asked is not None and have[c] is not None and asked != have[c]:
            raise ValueError(
                f"{what} was built with {label}={have[c]!r} but the caller"
                f" asked for {label}={asked!r}: pruning with another modulus,"
                " or joining k-grams/prints of another configuration,"
                " silently drops genuine hits"
            )
    if have["nb"] is None and buckets and "hb" in index.columns:
        have["nb"] = int(buckets)
    return have


def check_tree_bucketing(
    tree: DataFrame, buckets: int | None, what: str, remedy: str, error=ValueError
) -> None:
    """Store-gate guard, schema only (no job): an epoch tree appended
    under one ``buckets`` setting must stay all-bucketed or
    all-unbucketed — a mixed tree is unprunable. The modulus itself
    is checked by the probe (check_layout) before the epoch writes."""
    if bool(buckets) != ("hb" in tree.columns):
        raise error(
            f"{what} is {'' if 'hb' in tree.columns else 'un'}bucketed but"
            f" the gate's buckets={buckets}: a mixed layout is unprunable —"
            f" {remedy}"
        )


def _band_key_hash() -> Column:
    """The LSH and SimHash/dHash band indexes' bucket/Bloom key: the
    64-bit hash of the (band, bval) composite. Build and probe must
    agree on it exactly, or pruning would silently drop genuine
    candidates."""
    return F.xxhash64(F.col("band"), F.col("bval"))


def band_bloom(index: DataFrame, bits: int = 1 << 20, hashes: int = 4) -> DataFrame:
    """Per-bucket Bloom sidecar for the persisted LSH band index —
    ``span_bloom``'s twin keyed on xxhash64(band, bval). Same layout
    (hb, nb, mbits, kh, blob), same exactness argument: the sidecar
    only pre-filters the BATCH's band keys; the candidate equi-join
    and exact-Jaccard verify still decide every pair."""
    nb = check_layout(index, "band index")["nb"] if "hb" in index.columns else None
    if nb is not None:
        src = index.select(_band_key_hash().alias("h"), "hb")
    else:
        nb = 1
        src = index.select(_band_key_hash().alias("h"), F.lit(0).alias("hb"))
    return _bloom_build(src, nb, bits, hashes)


def incremental_neardup(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    buckets: int | None = None,
    bloom: DataFrame | None = None,
) -> DataFrame:
    """Near-dups of a NEW batch against an indexed corpus:
    (id_new, id_corpus, jaccard ≥ threshold).

    ``index`` is ``minhash_band_index(corpus_docs, ...)`` — typically
    read back from parquet, NOT recomputed. The corpus is touched only
    through (a) that index, in one equi-join on (band, bval), and
    (b) shingling of the candidate docs alone (the semi-join keeps the
    scan to the handful of corpus rows that banded with the batch), so
    per-batch cost is independent of corpus size. Id spaces must be
    disjoint across the two sides; within-batch duplicates are
    ``minhash_lsh_dedup(new_docs)``'s job, not this operator's.

    ``buckets`` / ``bloom`` (round-10 — the span probe's two pruning
    tiers applied to the LSH side): with a bucketed index
    written partitionBy("hb"), the candidate scan partition-prunes to
    the buckets the batch's band keys touch; a ``band_bloom`` sidecar
    then pre-filters the batch's band keys BEFORE any index byte is
    read, so a mostly-novel batch scans only the buckets holding a
    surviving key. Both validate the self-described layout (mixed or
    mismatched moduli raise) and neither can drop a genuine pair —
    the Bloom has no false negatives and the exact-Jaccard verify
    still decides everything."""
    # Round-12: every checkpoint in this probe is LAZY — the touched-
    # bucket collects materialize them inside their own jobs instead
    # of paying a dedicated eager job each (guide §1.2; the
    # doc_bpe_trained piggyback discipline).
    new_arrays = token_shingle_arrays(
        new_docs, id_col, text_col, shingle_size
    ).localCheckpoint(eager=False)
    new_banded = minhash_band_rows(
        minhash_signatures(new_arrays, num_hashes), num_hashes, rows_per_band
    )
    prune_nb = check_layout(index, "band index", buckets)["nb"]
    index = index.drop("nb")
    if prune_nb or bloom is not None:
        new_banded = new_banded.localCheckpoint(eager=False)
    keys = new_banded.select(_band_key_hash().alias("h"), "band", "bval").distinct()
    if bloom is not None:
        surviving, bnb = _bloom_prefilter(keys, bloom, prune_nb)
        surviving = surviving.localCheckpoint(eager=False)
        new_banded = new_banded.join(
            F.broadcast(surviving.select("band", "bval")), ["band", "bval"], "left_semi"
        )
        keys = surviving
        # prune_nb stays as established from the index/caller only: a
        # sidecar's own nb must never become the pruning modulus of an
        # index that did not self-describe it (review round-10: an
        # hb-without-nb index + an nb=1 corpus-wide sidecar would
        # otherwise prune to hb=0 alone and drop genuine pairs)
    if prune_nb:
        index = index.where(F.col("hb").isin(touched_buckets(keys, "h", prune_nb)))
    cands = (
        new_banded.alias("n")
        .join(index.alias("i"), ["band", "bval"])
        .where(F.col("n._id") != F.col("i._id"))
        .select(F.col("n._id").alias("id_a"), F.col("i._id").alias("id_b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    cand_ids = cands.select(F.col("id_b").alias(id_col)).distinct()
    corpus_arrays = token_shingle_arrays(
        corpus_docs.join(cand_ids, id_col, "left_semi"), id_col, text_col, shingle_size
    )
    # Round-13 (guide §1.2/§7.2): verify_jaccard consumes `arrays`
    # FOUR times (two size sides + two array sides) and the planner
    # duplicates the whole union subtree per consumer — the r12 plan
    # showed 4 copies of [corpus parquet scan → semi-join vs cand ids
    # → tokenize+shingle]. One LAZY checkpoint collapses them: all
    # four consumers live in the one verify job, which materializes
    # the union once via block-level locking. Batch + candidate docs
    # only — never corpus-sized.
    arrays = new_arrays.unionByName(corpus_arrays).localCheckpoint(eager=False)
    out = verify_jaccard(arrays, cands, threshold, "shingles")
    return out.select(
        F.col("id_a").alias("id_new"), F.col("id_b").alias("id_corpus"), "jaccard"
    )


# ------------------------------------------------------- n-gram Jaccard ---


def ngram_jaccard_dedup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 5,
    threshold: float = 0.7,
    max_df: int | None = None,
    min_grams: int = 1,
    min_cooccur: int = 1,
) -> DataFrame:
    """Character-n-gram Jaccard near-dup: candidate pairs from buckets
    of *rare* grams (document frequency ≤ max_df — bounds fan-out, the
    linear-vs-quadratic knob at 100 TB), exact Jaccard verified over
    the FULL gram sets. Semantics: all pairs with full-set Jaccard ≥
    threshold that share at least ``min_cooccur`` rare grams —
    near-dups at any useful threshold share hundreds, stop-gram-only
    pairs never become candidates. ``min_cooccur=2`` cuts candidate
    volume ~100x on shared-vocab corpora (junk pairs mostly share
    exactly one rare gram) and is mirrored verbatim in the oracle."""
    arrays = char_ngram_arrays(docs, id_col, text_col, ngram)
    if min_grams > 1:
        arrays = arrays.where(F.size("grams") >= min_grams)
    if max_df is None:
        return jaccard_pairs(
            arrays.select("_id", F.explode("grams").alias("sh")), threshold
        )
    # Work on 64-bit gram hashes from here: cheaper to shuffle and to
    # intersect than short strings. A hash collision can only (a) add a
    # junk candidate — rejected by the exact verify — or (b) perturb a
    # distinct-gram count with probability ~2^-64: noise-free in
    # practice. Checkpointed once: the hashed arrays feed the bucket
    # path and both verify sides.
    hashed = arrays.select(
        "_id", F.transform("grams", lambda g: F.xxhash64(g)).alias("grams")
    ).localCheckpoint(eager=False)  # round-12: one final job materializes it
    exploded = hashed.select("_id", F.explode("grams").alias("sh"))
    # Count-first document frequencies, THEN pair up only rare grams:
    # the self-join fan-out is bounded by max_df by construction —
    # pairing every gram first would blow up Σ df² on stop grams (an
    # OOM at corpus scale) just to throw the junk away. The count
    # aggregate is map-side partial; the semi-join and both self-join
    # sides reuse the same hash partitioning on sh.
    # Round-12 NOTE: converting this df cut to a count window (the
    # winnow_pairs/_span_flags shape) was MEASURED WORSE here
    # (min-of-5 1.77 → 2.09 s with flat controls): the exploded
    # char-gram stream is ~token-scale, and WindowExec's sort on sh
    # costs more than the hash-aggregate + tiny broadcast semi-join
    # it would replace. The window shape wins only when the windowed
    # frame is small (winnow prints) or the exchange+sort is needed
    # anyway (_span_flags); keep the agg + semi-join here.
    rare = (
        exploded.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") > 1) & (F.col("df") <= max_df))
    )
    kept = exploded.join(rare.select("sh"), "sh", "left_semi")
    cands = candidate_pairs(kept, ["sh"], min_cooccur=min_cooccur)
    return verify_jaccard(hashed, cands, threshold, "grams")


# ------------------------------------------------------------- SimHash ---


def _sig_from_votes(votes: F.Column, bits: int) -> F.Column:
    """ARRAY<INT> vote sums → BIGINT signature (bit i set when vote i
    >= 0; bit 63 applied as the sign bit so 64-bit signatures span the
    full signed range)."""
    def tosig(vs: F.Column) -> F.Column:
        sig = F.lit(0).cast("long")
        for i in range(bits):
            weight = -(2**63) if i == 63 else 2**i
            sig = sig + F.when(vs[i] >= 0, F.lit(weight).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        return sig

    return bind(votes, tosig)


def simhash_column(text_col: F.Column | str, bits: int = 32, hash_fn: str = "md5") -> F.Column:
    """The SimHash signature as a column expression over ``text_col`` —
    usable on batch AND streaming frames (no shuffle, no state).
    Signature bit i = sign of the +1/-1 vote sum over all tokens (with
    multiplicity) of the token-hash's bit i; result is a BIGINT.

    ``hash_fn`` picks the per-token hash:

    - ``"md5"`` (default): bit i is the parity of hex digit i of
      md5('sh:'||tok) (extended with md5('sh2:'||tok) beyond 32 bits).
      Engine-portable — the DuckDB oracle reproduces it digit for
      digit — so every oracle-checked row uses it.
    - ``"xxhash64"``: bit i of the token's xxhash64 — a single JVM
      integer hash + bit_get per bit instead of two md5s + 64 hex
      substrings, measured ~4x faster at sf0.1. Spark-only (no DuckDB
      twin), so it's the production path, not the oracle path.

    Wider signatures cut candidate volume sharply on shared-vocab
    corpora: at the same band count the bands are wider, so unrelated
    documents collide far less often (32-bit/8-bit bands emitted 77k
    pairs at sf0.1 on the synthetic corpus; 64-bit/16-bit bands cut
    that to 749)."""
    if not 1 <= bits <= 64:
        raise ValueError("simhash bits must be in [1, 64]")
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"unknown simhash hash_fn {hash_fn!r}")
    # Round 12: the expression is generated as ONE SQL string handed to
    # a single F.expr parse. The previous Column-DSL construction of
    # the same tree (per-bit transform/zip_with lambdas, a 32/64-term
    # signature sum) issued one py4j round-trip per node — measured
    # 0.43 s (32-bit) / 0.9 s (64-bit) of driver-side build time per
    # call. The emitted expression is node-for-node the tree the DSL
    # built (same md5 hex-digit parity via translate+conv, same vote
    # fold, same bind() lambda-variable sharing so tokens and hash
    # masks evaluate once), so the DuckDB oracle is unchanged.
    if isinstance(text_col, str):
        txt = f"`{text_col}`"
    else:
        # both in-repo callers pass plain columns; a computed Column
        # round-trips through its SQL form
        txt = text_col._jc.expr().sql()
    split_sql = f"split(trim(lower({txt})), '\\\\s+')"

    def mask(salt: str, var: str = "t") -> str:
        return (
            f"cast(conv(translate(md5(cast(concat('{salt}', {var}) as binary)), "
            "'13579bdf02468ace', '1111111100000000'), 2, 10) as bigint)"
        )

    if hash_fn == "xxhash64":
        hs_body = "transform(tk, t -> xxhash64(t))"
        bit_of = "bit_get(m, i)"
    elif bits <= 32:
        hs_body = f"transform(tk, t -> {mask('sh:')})"
        bit_of = "bit_get(m, 31 - i)"
    else:
        hs_body = f"transform(tk, t -> array({mask('sh:')}, {mask('sh2:')}))"
        bit_of = "bit_get(element_at(m, cast(i / 32 as int) + 1), 31 - (i % 32))"

    votes_sql = (
        f"aggregate(hs, array_repeat(0, {bits}), "
        f"(acc, m) -> zip_with(acc, transform(sequence(0, {bits - 1}), "
        f"i -> (cast({bit_of} as int) * 2 - 1)), (a, b) -> a + b))"
    )
    terms = ["cast(0 as bigint)"]
    for i in range(bits):
        weight = -(2**63) if i == 63 else 2**i
        terms.append(
            f"(case when vs[{i}] >= 0 then cast({weight} as bigint)"
            " else cast(0 as bigint) end)"
        )
    tosig_sql = " + ".join(terms)

    # Round-12 fast path (guide §1.2 step 2 — per-task work): the
    # per-bit vote fold evaluated ~3·bits interpreted lambda nodes PER
    # TOKEN (sequence + transform + zip_with over `bits` elements —
    # higher-order functions run on Catalyst's interpreted path). The
    # lane fold packs the same counts into 16 byte-lane accumulators:
    # lane (8h + l) holds, in each of its 4 low bytes j, the count of
    # tokens with mask bit (32h + 8j + l) set — ~45 interpreted ops
    # per token instead of ~3·bits. (4-byte counters, not 8: a full
    # 8-byte lane's top counter would overflow the SIGNED bigint sum
    # at 128 tokens, which ANSI mode turns into a runtime error; the
    # 4-byte form peaks at 255·0x01010101 ≈ 4.3e9.) Signature bit i
    # then tests 2·ones_p >= n (⟺ vote sum 2·ones_p − n >= 0, exact
    # integers) with ones_p unpacked from the lane array once per
    # DOC. Byte counters saturate at 255 tokens, so docs with >= 256
    # tokens take the reference fold — same signature, bounded cost;
    # a NULL token array falls there too and flows NULL exactly as
    # before. shiftrightunsigned keeps the xxhash64 path's sign bit a
    # plain bit.
    lane_mask = 0x01010101
    if hash_fn == "xxhash64":
        hv64 = "hs"  # already one signed 64-bit hash per token

        def mask_pos(i: int) -> int:
            return i
    elif bits <= 32:
        hv64 = "hs"  # < 2^32, non-negative

        def mask_pos(i: int) -> int:
            return 31 - i
    else:
        # two 32-bit md5 masks -> one 64-bit lane value (shiftleft
        # wraps two's-complement; the BIT PATTERN is what lanes read)
        hv64 = "transform(hs, m -> (element_at(m, 1) | shiftleft(element_at(m, 2), 32)))"

        def mask_pos(i: int) -> int:
            return 32 * (i // 32) + (31 - i % 32)

    n_lanes = 16 if bits > 32 or hash_fn == "xxhash64" else 8
    lane_terms = ", ".join(
        f"(shiftrightunsigned(m, {32 * (q // 8) + q % 8}) & {lane_mask})"
        for q in range(n_lanes)
    )
    lanes_sql = (
        f"aggregate({hv64}, array_repeat(cast(0 as bigint), {n_lanes}), "
        f"(acc, m) -> zip_with(acc, array({lane_terms}), (a, b) -> a + b))"
    )
    fast_terms = ["cast(0 as bigint)"]
    for i in range(bits):
        weight = -(2**63) if i == 63 else 2**i
        p = mask_pos(i)
        h, lp = p // 32, p % 32
        q = 8 * h + lp % 8
        ones = f"(shiftrightunsigned(ls[{q}], {8 * (lp // 8)}) & 255)"
        fast_terms.append(
            f"(case when 2 * {ones} >= cardinality(hs) then cast({weight} as bigint)"
            " else cast(0 as bigint) end)"
        )
    tosig_fast_sql = " + ".join(fast_terms)
    # double bind: tokens once, then the hash array once, then the
    # votes/lanes array once (each downstream lambda references its
    # bound variable; a select alias would be re-inlined by
    # CollapseProject).
    sig_sql = (
        f"case when cardinality(hs) < 256 then "
        f"element_at(transform(array({lanes_sql}), ls -> {tosig_fast_sql}), 1) "
        f"else element_at(transform(array({votes_sql}), vs -> {tosig_sql}), 1) end"
    )
    hs_sql = f"element_at(transform(array({split_sql}), tk -> {hs_body}), 1)"
    return F.expr(
        f"element_at(transform(array({hs_sql}), hs -> {sig_sql}), 1)"
    )


def simhash_signatures(
    docs: DataFrame, id_col: str, text_col: str, bits: int = 32, hash_fn: str = "md5"
) -> DataFrame:
    """SimHash (up to 64 bits): signature bit i = sign of the +1/-1
    vote sum over all tokens (with multiplicity) of the token-hash's
    bit i. Output (_id, simhash BIGINT).

    ``hash_fn``: "md5" (engine-portable, the oracle path) or
    "xxhash64" (single JVM hash per token, ~4x faster — the
    production path). See simhash_column."""
    sig = simhash_column(text_col, bits, hash_fn)  # validates args first
    return ensure_min_parallelism(docs).select(F.col(id_col).alias("_id"), sig.alias("simhash"))


def simhash_near_pairs(
    sig: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    band_bits: int = 8,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Candidates via band-LSH on the signature (pigeonhole: distance ≤
    max_hamming over > max_hamming bands ⇒ at least one band equal),
    then exact bit_count verify — never an all-pairs scan. 64-bit
    signatures use shiftrightunsigned so the sign bit bands cleanly.

    ``max_bucket`` bounds band-bucket size — the same upstream bound
    the ngram path gets from max_df (self-join fan-out is
    Σ|bucket|²/2). On a boilerplate-heavy shard one degenerate band
    value can hold millions of ids; buckets over the cap are DROPPED
    (before the join, so the quadratic blowup never materializes) and
    the drop count is logged.
    Recall caveat: a true near-pair is only missed if EVERY band it
    matches on is over the cap — at the default cap that means ~10k
    mutually-near docs, a degenerate cluster better handled by exact
    dedup on the boilerplate. Set max_bucket=None to disable (the
    oracle-exact configuration; the default never triggers at test
    scale)."""
    bands = bits // band_bits
    if bands <= max_hamming:
        raise ValueError(
            f"pigeonhole needs more than max_hamming={max_hamming} bands; "
            f"got {bands} ({bits} bits / {band_bits}-bit bands)"
        )
    mask = (1 << band_bits) - 1
    stack_args = ", ".join(
        f"{b}, cast(shiftrightunsigned(simhash, {b * band_bits}) & {mask} as long)"
        for b in range(bands)
    )
    # The signature rides along (8 bytes/row): the Hamming verify then
    # happens inline in the join output — no join-back to a signature
    # table.
    banded = sig.select(
        "_id", "simhash", F.expr(f"stack({bands}, {stack_args}) as (band, bval)")
    )
    obs = None
    if max_bucket is not None:
        # Bucket sizes as a window count over the banding's own
        # (band, bval) exchange — no separate size-histogram pass over
        # the banded corpus, no semi-join back. (Round 12: the prior
        # shape ran a sizes aggregation + checkpoint + top-5 collect +
        # semi-join per call — two extra jobs and, at 100 TB, a full
        # extra scan of the banded corpus just to apply the cap.) The
        # `_bn > 1` cut also drops singleton buckets, which can emit
        # no pairs, before the join. The drop-log probe rides the same
        # pass as a CollectMetrics observation: the eager checkpoint
        # below materializes it, so the warning still fires at
        # construction time with zero dedicated jobs.
        from uuid import uuid4

        from pyspark.sql import Observation, Window

        obs = Observation(f"simhash_cap_{uuid4().hex}")
        w = Window.partitionBy("band", "bval")
        banded = (
            banded.withColumn("_bn", F.count(F.lit(1)).over(w))
            .observe(
                obs,
                F.max("_bn").alias("max_bucket_seen"),
                F.sum((F.col("_bn") > max_bucket).cast("long")).alias("rows_dropped"),
            )
            .where((F.col("_bn") > 1) & (F.col("_bn") <= max_bucket))
            .drop("_bn")
        )
    # One materialization of the capped banding: the signature
    # expression (or an expensive upstream like the image-decode
    # dHash) computes exactly once, and both self-join sides read the
    # checkpoint — the planner does NOT reliably reuse the banding
    # exchange across the join sides (AQE's broadcast conversion
    # rewrites one side), so without this the whole sig pipeline ran
    # twice.
    banded = banded.localCheckpoint()
    if obs is not None and (obs.get.get("max_bucket_seen") or 0) > max_bucket:
        import logging

        logging.getLogger(__name__).warning(
            "simhash_near_pairs: dropped band buckets over max_bucket=%d "
            "(largest: %d, %d banded rows cut) — near-pairs confined to "
            "dropped buckets are missed",
            max_bucket,
            obs.get["max_bucket_seen"],
            obs.get["rows_dropped"],
        )
    # Candidate pairs as an equi-SELF-JOIN on the band key, not
    # collect_list + array fan-out: higher-order array functions run
    # on Catalyst's interpreted path (no whole-stage codegen), which
    # made the 2M-candidate emission at sf0.1 ~6x slower than the
    # join that produces the identical rows fully codegen'd. The self
    # join also keeps a hot bucket as many ROWS (AQE skew-split
    # handles a degenerate band) instead of one giant array row; both
    # sides read the banding checkpoint above.
    # id_a < id_b orders each pair; the Hamming verify runs inline on
    # the carried signatures BEFORE the distinct, so the only
    # post-join exchange carries true near-pairs, not candidates.
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band", "bval"])
        .where(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_band_index(
    sig: DataFrame, bits: int = 64, band_bits: int = 16, buckets: int | None = None
) -> DataFrame:
    """(band, bval, _id, simhash) — the persistable banded index of a
    simhash-family signature frame (text SimHash or image/video dHash:
    anything packed the _sig_from_votes way), using EXACTLY the band
    split simhash_near_pairs computes inline. Build once over the
    accepted corpus, write to parquet, probe per ingest batch with
    ``incremental_simhash_pairs`` — the signature twin of
    minhash_band_index.

    ``buckets`` (round-13, VERDICT r12 #1 — the LAST index family
    without the hb discipline): adds ``hb = pmod(xxhash64(band, bval),
    buckets)`` plus the self-describing modulus ``nb`` (``bucketize``
    — the same key hash the LSH index uses). Write the index
    ``partitionBy("hb")``; ``incremental_simhash_pairs`` then
    partition-prunes its scan to the buckets the batch's band keys
    land in instead of scanning the full corpus index per batch."""
    bands = bits // band_bits
    mask = (1 << band_bits) - 1
    stack_args = ", ".join(
        f"{b}, cast(shiftrightunsigned(simhash, {b * band_bits}) & {mask} as long)"
        for b in range(bands)
    )
    idx = sig.select(
        "_id", "simhash", F.expr(f"stack({bands}, {stack_args}) as (band, bval)")
    )
    return bucketize(idx, _band_key_hash(), buckets) if buckets else idx


def incremental_simhash_pairs(
    new_sig: DataFrame,
    index: DataFrame,
    max_hamming: int = 3,
    bits: int = 64,
    band_bits: int = 16,
    max_bucket: int = 10_000,
    buckets: int | None = None,
) -> DataFrame:
    """(id_new, id_corpus, hamming) — per-ingest near-dup detection
    for simhash-family signatures against a PERSISTED
    ``simhash_band_index``: the new batch is banded (batch-sized
    work), candidates come from one equi-join on (band, bval) against
    the corpus-sized index, and the exact bit_count verify runs
    inline on the carried signatures. Pigeonhole keeps this exact
    while bands > max_hamming. ``max_bucket`` drops the batch's
    degenerate band buckets before the join (the simhash_near_pairs
    stop-key; a corpus-side hot bucket is the index builder's
    concern). This is the 100-TB ingest shape for perceptual image /
    video-frame dedup: a re-encoded copy of an already-indexed image
    surfaces without ever rescanning the corpus.

    ``buckets`` is the caller's expected modulus of a bucketed index
    (the neardup/span/winnow probes' keyword): an index built with a
    different one raises before the probe reads it."""
    bands = bits // band_bits
    if bands <= max_hamming:
        raise ValueError(
            f"pigeonhole needs more than max_hamming={max_hamming} bands; "
            f"got {bands} ({bits} bits / {band_bits}-bit bands)"
        )
    # Round-12: the cap is a count WINDOW over the batch's banding
    # (the simhash_near_pairs shape) instead of a groupBy-checkpoint +
    # top-5 collect + semi-join — 4 jobs/3 passes down to the one
    # checkpoint job, which for media consumers is the only run of the
    # decode+dHash upstream. Drops are still LOGGED (ADVICE r11) via
    # the same CollectMetrics observation simhash_near_pairs uses; a
    # pair is only missed if EVERY band of a true near-pair is over
    # the cap in this batch. Unlike the self-join cap there is no
    # `_bn > 1` prune: a singleton batch bucket still matches the
    # index.
    banded = simhash_band_index(new_sig, bits, band_bits)
    obs = None
    if max_bucket is not None:
        from uuid import uuid4

        from pyspark.sql import Observation

        obs = Observation(f"inc_simhash_cap_{uuid4().hex}")
        w = Window.partitionBy("band", "bval")
        banded = (
            banded.withColumn("_bn", F.count(F.lit(1)).over(w))
            .observe(
                obs,
                F.max("_bn").alias("max_bucket_seen"),
                F.sum((F.col("_bn") > max_bucket).cast("long")).alias("rows_dropped"),
            )
            .where(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    # Round-13 (VERDICT r12 #1, guide §6/§3.2): when the index
    # self-describes a bucket layout (simhash_band_index's ``buckets``,
    # written partitionBy("hb")), prune the scan to the hash-range
    # buckets the batch's band keys actually land in. The touched
    # collect reads the checkpointed banding. The checkpoint stays
    # EAGER: the cap observation only reports through the
    # checkpoint's own SQL action (a lazy checkpoint truncates the
    # plan, so no later query carries the CollectMetrics node — pinned
    # by the drop-log test); the probe then reads cached blocks.
    banded = banded.localCheckpoint()
    prune_nb = check_layout(index, "simhash band index", buckets)["nb"]
    if prune_nb:
        touched = touched_buckets(banded, _band_key_hash(), prune_nb)
        index = index.where(F.col("hb").isin(touched))
    index = index.drop("hb", "nb")
    if obs is not None and (obs.get.get("max_bucket_seen") or 0) > max_bucket:
        import logging

        logging.getLogger(__name__).warning(
            "incremental_simhash_pairs: dropped batch band buckets over "
            "max_bucket=%d (largest: %d, %d banded rows cut) — near-pairs "
            "whose every band is over the cap are missed this batch",
            max_bucket,
            obs.get["max_bucket_seen"],
            obs.get["rows_dropped"],
        )
    n, i = banded.alias("n"), index.alias("i")
    return (
        n.join(i, ["band", "bval"])
        .where(F.col("n._id") != F.col("i._id"))
        .select(
            F.col("n._id").alias("id_new"),
            F.col("i._id").alias("id_corpus"),
            F.bit_count(
                F.col("n.simhash").bitwiseXOR(F.col("i.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def benchmark_overlap(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    bench_ids: DataFrame | None = None,
    n: int = 4,
    bench_docs: DataFrame | None = None,
) -> DataFrame:
    """Decontamination: flag corpus documents sharing any n-token
    shingle with a benchmark/eval set — the published training-data
    hygiene step (eval-overlap n-gram matching). ``bench_ids`` is a
    one-column (_id) frame naming the benchmark documents; output is
    (doc_id, n_overlap) for every non-benchmark document with ≥ 1
    overlapping shingle. Counts are HASH-KEYED (xxhash64 of the
    shingle, round-12): a 64-bit collision can inflate a doc's
    n_overlap (odds ~2⁻⁶⁴ per corpus shingle) — the report contract
    is hash-keyed, not exact-string, like every hash-keyed operator
    here.

    Scale shape: the benchmark shingle set is bounded by the eval
    corpus (small in practice), the corpus side streams through one
    equi-join keyed on the shingle — no all-pairs anything. The
    bench/corpus split happens on the RAW docs (semi/anti on id)
    BEFORE shingling, so each document is tokenized+shingled exactly
    once on exactly one side — a shared full-corpus shingle frame
    referenced by both branches would be recomputed per branch (two
    full tokenization passes; the r3 bench measured that shape at
    1.5× the steady-state cost). The join carries no hint: AQE
    broadcasts the benchmark side while it is small and degrades to
    shuffle if someone feeds a corpus-sized 'benchmark'.

    ``bench_docs`` (round-13, VERDICT r12 #5): callers that ALREADY
    hold the two sides as frames — e.g. a ``doc_id % 20`` eval
    convention, where each side is a pushed-down scan FILTER — pass
    the benchmark documents here and ``docs`` as the corpus side
    alone; the semi/anti id-joins (and the bench_ids subtree they
    re-evaluate per side) disappear from the plan. Exactly one of
    ``bench_ids`` / ``bench_docs`` must be given; output and the
    tokenize-once-per-side property are identical either way."""
    if (bench_ids is None) == (bench_docs is None):
        raise ValueError(
            "benchmark_overlap needs exactly one of bench_ids (docs ="
            " corpus + benchmark, split by id) or bench_docs (docs ="
            " corpus side only)"
        )
    if bench_docs is not None:
        bench_side = ensure_min_parallelism(bench_docs).select(
            F.col(id_col).alias("_id"), F.col(text_col)
        )
        corpus_side = ensure_min_parallelism(docs).select(
            F.col(id_col).alias("_id"), F.col(text_col)
        )
    else:
        # The bench id list feeds FOUR plan subtrees (semi probe, anti
        # probe, and each join's broadcast build); un-materialized it is
        # recomputed per consumer — when bench_ids derives from the corpus
        # (the common "doc_id % k" eval split) that re-scans the corpus
        # once per consumer. It is small by contract (an eval set), so one
        # localCheckpoint caps that at a single id-only pass.
        # round-12: lazy — the final job materializes it once for all four
        bench = bench_ids.select(
            F.col(bench_ids.columns[0]).alias("_id")
        ).localCheckpoint(eager=False)
        # parallelism-guard ONCE on the scan: guarding inside the shingle
        # call would probe partitions on the join output and make AQE
        # materialize the join as an extra job per side
        ids = ensure_min_parallelism(docs).select(
            F.col(id_col).alias("_id"), F.col(text_col)
        )
        bench_side = ids.join(bench, "_id", "left_semi")
        corpus_side = ids.join(bench, "_id", "left_anti")
    # Join on the shingle's xxhash64, not the string (round-12, guide
    # §2.3 — the shingle_containment treatment): the equi-join only
    # needs identity, and the 8-byte key cuts the shuffled/broadcast
    # bytes of both sides severalfold vs n-token strings. Same 64-bit
    # collision story as every hash-keyed operator here (a collision
    # can only ADD an overlap count, ~2^-64 per corpus shingle).
    bench_grams = (
        explode_col(
            token_shingle_arrays(bench_side, "_id", text_col, n, guard=False),
            "shingles",
            "sh",
        )
        .select(F.xxhash64("sh").alias("h"))
        .distinct()
    )
    corpus = explode_col(
        token_shingle_arrays(corpus_side, "_id", text_col, n, guard=False),
        "shingles",
        "sh",
        "_id",
    ).select("_id", F.xxhash64("sh").alias("h"))
    return (
        corpus.join(bench_grams, "h")
        .groupBy(F.col("_id").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def dedup_keep_list(docs: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """Resolve near-dup pairs to a keep-list: for every pair, the
    larger id is dropped (ids are pre-sorted id_a < id_b in all pair
    producers, so the minimum id of each duplicate cluster survives via
    transitivity of the greedy rule). One anti-join — no iterative
    connected components needed for the keep/drop decision."""
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(drops, id_col, "left_anti")


# ------------------------------------------- duplicate-cluster closure ---


_DRIVER_CC_MAX_EDGES = 200_000  # ~3 MB of (long, long) pair rows


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Exact duplicate CLUSTERS from the near-dup pair graph:
    (doc_id, component) where component = the minimum doc id reachable
    through any chain of pairs. The pairwise keep-list
    (dedup_keep_list) is the cheap one-join policy; this is the
    transitive-closure policy for when a~b, b~c must land in ONE
    group (keeper = component min) even though a and c never paired.

    Min-label propagation: each iteration every node takes the min of
    its own label and its neighbors' labels — one equi-join + one
    groupBy per iteration, all distributed. The driver loop only
    checks a scalar convergence count (no row data ever reaches the
    driver); iterations needed = the pair graph's diameter, which for
    near-dup clusters is tiny (near-dup similarity is
    near-transitive). Frames are localCheckpoint()ed per iteration so
    lineage stays flat. Raises if the cap is hit without convergence
    rather than returning silently-partial clusters.

    Round-12 small-graph fast path: a near-dup pair graph is usually
    FAR smaller than its corpus (it holds only duplicates), and the
    distributed loop costs 2 + iterations jobs of pure scheduling on
    such graphs. When a limit-probe shows at most
    ``_DRIVER_CC_MAX_EDGES`` pair rows (~3 MB of id pairs — the
    codebook bounded-driver-state discipline, NEVER corpus-scale),
    the transitive closure runs as a driver-side union-find with
    min-label resolution — by definition the same
    component = min-reachable-id labeling, pinned by a test against
    the distributed path — in ONE job. Larger graphs take the
    distributed loop unchanged; the probe costs one early-stopping
    limit job.

    Round-13 (ADVICE r12): the pair frame is lazily checkpointed
    BEFORE the probe, so when the graph turns out large the
    distributed loop reuses the probe's computed partitions instead
    of re-executing the upstream pair pipeline (the expensive case
    paid the probe twice).

    A NULL ``id_a``/``id_b`` raises on both paths: the projection
    below fails the job on it, where the distributed equi-joins would
    otherwise drop the edge silently (NULL keys never match)."""

    def non_null(c):
        return F.coalesce(
            F.col(c),
            F.raise_error(
                F.lit(f"connected_components: NULL id in pair column {c!r}")
            ).cast(pairs.schema[c].dataType),
        )

    directed = pairs.select(
        non_null(id_a).alias("src"), non_null(id_b).alias("dst")
    ).localCheckpoint(eager=False)
    probe = directed.limit(_DRIVER_CC_MAX_EDGES + 1).collect()
    if len(probe) <= _DRIVER_CC_MAX_EDGES:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in probe:
            a_, b_ = row[0], row[1]
            if a_ not in parent:
                parent[a_] = a_
            if b_ not in parent:
                parent[b_] = b_
            ra, rb = find(a_), find(b_)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict = {}
        for n in parent:
            r = find(n)
            m = comp_min.get(r)
            if m is None or n < m:
                comp_min[r] = n
        spark = pairs.sparkSession
        from pyspark.sql.types import StructField, StructType

        typ = pairs.schema[id_a].dataType
        schema = StructType(
            [StructField("node", typ), StructField("component", typ)]
        )
        return spark.createDataFrame(
            [(n, comp_min[find(n)]) for n in parent], schema
        )
    edges = (
        directed  # the probe's checkpoint: no second pair-pipeline run
        .union(directed.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)  # round-12: iteration 1's
        # convergence count materializes both seed frames
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iterations):
        neigh = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        # round-12 opt: the convergence probe used to be a separate
        # new-vs-old label JOIN + count job per iteration; the changed
        # flag is computable inline in the same projection that
        # produces the new label, so the probe becomes a count over
        # the already-checkpointed frame — one join and one shuffle
        # fewer per iteration, same fixpoint.
        new_labels = (
            labels.join(neigh, labels.node == neigh.src, "left_outer")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias(
                    "_new_label"
                ),
                "label",
            )
            .select(
                "node",
                F.col("_new_label").alias("label"),
                (F.col("_new_label") != F.col("label")).alias("_chg"),
            )
            .localCheckpoint(eager=False)  # round-12: the count below
            # materializes it -- one job per iteration instead of two
        )
        changed = new_labels.where(F.col("_chg")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            return labels.select(F.col("node"), F.col("label").alias("component"))
    raise RuntimeError(f"connected_components did not converge in {max_iterations} iterations")


def incremental_components(
    labels: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Per-ingest update of a PERSISTED component labeling (round-10
    verdict #4): given the corpus's current (node, component) store —
    ``connected_components`` output, read back from parquet — and the
    batch's NEW near-dup pairs (within-batch ∪ batch-vs-corpus, from
    ``minhash_lsh_dedup`` + ``incremental_neardup``), return the label
    DELTA: one (node, component) row for every node whose label is
    new or changed. The caller folds it into the store
    (``apply_component_delta``); cluster ids stay BYTE-IDENTICAL to a
    full recompute over the union of all pairs ever seen, because
    min-reachable-label is associative: a stored component label IS
    the min of its member set, so merging at the level of component
    REPRESENTATIVES computes the same global min as re-propagating
    over every historical edge.

    Scale shape — nothing corpus-sized moves:
    - the batch's touched labels come from ONE semi-join of the store
      against the broadcast endpoint set (batch-sized result);
    - label propagation runs on the component MERGE graph (one node
      per distinct touched component, one edge per new cross-component
      pair) — bounded by the batch's edge count, never by corpus size
      or historical cluster populations;
    - the delta then relabels only the members of LOSING components
      (one broadcast join of the merge map against the store) — a
      frontier-sized scan the store layout can partition-prune, plus
      the brand-new nodes.
    A corpus-sized recompute (the r9 ``neardup_components`` artifact)
    touches |corpus| rows per batch; this touches |batch edges| +
    |losing-component members|."""
    # Round-12: all three probe checkpoints are LAZY — the rep.take(1)
    # convergence probe below materializes the whole chain in ONE job
    # instead of three dedicated eager jobs (guide §1.2).
    e = new_pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).distinct().localCheckpoint(eager=False)
    touched = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    known = labels.join(F.broadcast(touched), "node", "left_semi").localCheckpoint(
        eager=False
    )
    fresh = touched.join(F.broadcast(known), "node", "left_anti").select(
        "node", F.col("node").alias("component")
    ).localCheckpoint(eager=False)
    cur = known.unionByName(fresh)
    rep = (
        e.join(
            F.broadcast(cur.select(F.col("node").alias("src"), F.col("component").alias("ca"))),
            "src",
        )
        .join(
            F.broadcast(cur.select(F.col("node").alias("dst"), F.col("component").alias("cb"))),
            "dst",
        )
        .where(F.col("ca") != F.col("cb"))
        .select("ca", "cb")
        .distinct()
    )
    if not rep.take(1):
        # every new edge lands inside one existing component; only the
        # brand-new nodes (if any) enter the store — with no
        # cross-component edge a fresh node keeps itself as label
        return fresh.select(
            "node", "component", F.lit(None).cast("long").alias("prev_component")
        )
    cc = connected_components(rep, "ca", "cb", max_iterations)
    merge = cc.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("component"), F.col("component").alias("_new")
    ).localCheckpoint(eager=True)
    relabeled_store = labels.join(F.broadcast(merge), "component").select(
        "node",
        F.col("_new").alias("component"),
        # prev_component lets a component-partitioned store prune its
        # rewrite to exactly the losing components' partitions
        F.col("component").alias("prev_component"),
    )
    fresh_final = (
        fresh.join(F.broadcast(merge), "component", "left")
        .select(
            "node",
            F.coalesce(F.col("_new"), F.col("component")).alias("component"),
            F.lit(None).cast("long").alias("prev_component"),
        )
    )
    return relabeled_store.unionByName(fresh_final)


def apply_component_delta(labels: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold an ``incremental_components`` delta into the label store:
    changed/new rows replace, everything else carries. One anti-join
    on node — at write time a component-partitioned store uses the
    delta's ``prev_component`` column instead, rewriting only the
    touched partitions (see tools/incremental_cc_soak.py for the
    dynamic-partition-overwrite shape)."""
    rows = delta.select("node", "component")
    return labels.join(rows, "node", "left_anti").unionByName(rows)


def dedup_keep_best(
    docs: DataFrame,
    id_col: str,
    pairs: DataFrame,
    score_col: str,
    max_iterations: int = 20,
    components: DataFrame | None = None,
) -> DataFrame:
    """Quality-aware near-dup resolution: keep the BEST-scoring member
    of every duplicate cluster (ties → lower id) instead of the
    lowest-id one — the C4/RefinedWeb "keep the longest/cleanest copy"
    policy, which preserves strictly more signal than keep-first when
    duplicates differ in truncation or boilerplate.

    pairs → connected components (transitive closure, so a~b, b~c
    resolve to ONE keeper even though a and c never paired) → one
    partitioned window per component picks the keeper → survivors =
    non-members ∪ keepers. Cluster membership is a tiny fraction of
    the corpus, so the component join is broadcast-sized in practice
    and the corpus is touched by exactly one anti-join.

    A pair-free corpus short-circuits BEFORE the iterative CC loop
    (one cheap isEmpty probe vs max_iterations joins). Callers that
    already hold the transitive closure (e.g. a pipeline that also
    serves cluster listings) pass it as ``components`` (node,
    component) and skip the CC entirely — both CC passes over one
    pair graph would otherwise be pure waste."""
    if components is None:
        if pairs.isEmpty():
            return docs
        components = connected_components(pairs, max_iterations=max_iterations)
    comp = components.withColumnRenamed("node", id_col)
    members = docs.join(comp, id_col)
    w = Window.partitionBy("component").orderBy(F.col(score_col).desc(), F.col(id_col))
    drops = (
        members.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") > 1)
        .select(id_col)
    )
    return docs.join(drops, id_col, "left_anti")


def substring_contamination(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    needles: DataFrame,
    eval_id_col: str = "eval_id",
    needle_col: str = "needle",
    exclude_same_id: bool = False,
) -> DataFrame:
    """Verbatim-substring decontamination: flag corpus documents that
    contain any eval needle string EXACTLY (the strict complement of
    n-gram-overlap matching in ``benchmark_overlap`` — catches copied
    passages that shingle hashing would also catch, but with zero
    false positives from shared vocabulary, and is the published
    recipe for canary-string / eval-prompt leak scans).

    ``needles`` is a small (eval_id, needle) frame by contract — eval
    prompts/canaries, not a corpus. Output: (id, n_eval_hits,
    first_eval_id) for every corpus doc containing ≥ 1 needle.

    ``exclude_same_id`` is for callers whose needles DERIVE FROM THE
    CORPUS (a held-out doc split): it drops pairs where the corpus id
    equals the eval id so a doc never "contaminates" itself. Leave it
    False for true external eval/canary needles — their id space is
    unrelated to the corpus, and a numeric collision would otherwise
    silently suppress a real hit.

    Scale shape: broadcast nested-loop of corpus x needles with a
    contains() predicate — the RIGHT plan while |needles| is small
    (one corpus scan, |needles| substring probes per doc, perfectly
    parallel, no shuffle before the final tiny agg). Thousands of
    needles would move to one compiled Aho-Corasick automaton per
    executor via mapInPandas; the operator contract (tiny broadcast
    side) is the same either way."""
    cond = F.col(text_col).contains(F.col(needle_col))
    if exclude_same_id:
        cond = cond & (F.col(id_col) != F.col(eval_id_col))
    j = docs.select(id_col, text_col).join(
        F.broadcast(needles.select(eval_id_col, needle_col)), cond
    )
    return j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_eval_hits"),
        F.min(eval_id_col).alias("first_eval_id"),
    )


def shingle_containment(
    probe: DataFrame,
    base: DataFrame | None,
    id_col: str,
    text_col: str,
    n: int = 5,
    index: DataFrame | None = None,
) -> DataFrame:
    """Cross-corpus containment (Broder's C(A,B) = |S(A) ∩ S(B)| /
    |S(A)|, computed EXACTLY): for every probe document, the fraction
    of its distinct n-token shingles that appear anywhere in the base
    corpus — the train/test overlap scan run before trusting an eval
    split, and the asymmetric complement of ``jaccard_pairs`` (a short
    quote inside a long base doc scores ~1.0 here but near 0 on
    Jaccard). Output: (id, n_shingles, n_matched, containment), one
    row per probe doc with >= n tokens.

    Determinism: the ratio is rounded by the integer half-away
    identity (2m*1e6 + t) div (2t) — real shingle counts hit exact
    decimal ties (e.g. 7/128) where float round() diverges across
    engines. Scale shape: per-doc distinct shingles explode in the
    scan; the base side reduces to DISTINCT shingles (map-side
    partial); one shuffle equi-join probe-shingles x base-shingles,
    then a per-doc count — linear in corpus tokens, no pair stage.
    At 100 TB the join key would be xxhash64(shingle) (the span-index
    discipline: 8-byte keys, same collision story as minhash bands);
    the string key here keeps the oracle twin exact.

    ``index`` (round-11, VERDICT r10 #8 — containment at index
    scale): pass a PERSISTED distinct-k-gram hash index built by
    ``span_index(base, ..., k=n, buckets=...)`` instead of ``base``
    (which may then be None) and the base side is never re-shingled:
    the probe's shingles hash to 8-byte xxhash64 keys, the index scan
    PARTITION-PRUNES to the hash-range buckets the probe actually
    touches (the incremental-span discipline — the touched-bucket
    list is one tiny distinct-collect over the batch-sized probe),
    and one left equi-join on ``h`` replaces the corpus-wide
    distinct-shingle build. Results are identical to the direct route
    up to 64-bit hash collisions, which can only ADD a match (~2^-64
    per probe shingle — the same accepted story as every hash-keyed
    operator here). Contract: the index must have been built with
    k = n over the SAME base corpus; a bucketed index self-describes
    its modulus (``nb``) and mixed moduli raise."""
    p = token_shingles(probe, id_col, text_col, n)
    if index is not None:
        # probe shingles feed the touched-bucket collect AND the join:
        # checkpoint so the tokenize+explode runs once (batch-sized).
        # round-12: lazy — the touched-bucket collect materializes it
        ph = p.select("_id", F.xxhash64("sh").alias("h")).localCheckpoint(eager=False)
        nb = check_layout(index, "containment index", k=n)["nb"]
        hits = index
        if nb:
            hits = hits.where(F.col("hb").isin(touched_buckets(ph, "h", nb)))
        # span_index rows are globally distinct h by construction, so
        # the left join cannot fan a probe shingle out.
        j = ph.join(hits.select("h").withColumn("_hit", F.lit(1)), "h", "left")
    else:
        if base is None:
            raise ValueError("shingle_containment: pass base or index")
        # Join on the shingle's xxhash64, not the string (round-12):
        # the equi-join only needs identity, and the 8-byte key cuts
        # the shuffled bytes of BOTH sides severalfold vs n-token
        # strings — the same 64-bit-collision story as the indexed
        # route and every hash-keyed operator here (a collision can
        # only ADD a match, ~2^-64 per probe shingle).
        ph = p.select("_id", F.xxhash64("sh").alias("h"))
        b = (
            token_shingles(base, id_col, text_col, n)
            .select(F.xxhash64("sh").alias("h"))
            .distinct()
        )
        j = ph.join(b.withColumn("_hit", F.lit(1)), "h", "left")
    agg = j.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count("_hit").alias("n_matched"),
    )
    return agg.select(
        F.col("_id").alias(id_col),
        "n_shingles",
        "n_matched",
        (
            F.expr(
                "(2 * n_matched * 1000000 + n_shingles) div (2 * n_shingles)"
            ).cast("double")
            / F.lit(1_000_000.0)
        ).alias("containment"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    salt: str = "winnow",
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    MOSS algorithm): from each sliding window of ``w`` consecutive
    k-gram hashes, keep the minimum (ties to the RIGHTMOST position),
    then dedupe — the fingerprint set with the paper's guarantee that
    any match of length >= w + k - 1 tokens shares at least one
    fingerprint, at ~2/(w+1) the density of the full hash stream.
    Complements ``text.fingerprints``' mod-p sampling, whose density
    is right on average but can miss arbitrarily long matches.
    Output: (id, pos, fp) — one row per selected fingerprint, pos =
    1-based token index of the k-gram's first token.

    Determinism: hash = the sampling module's portable md5-prefix;
    min-with-rightmost-tie is ONE integer min over the packed key
    h * 2^24 + (2^24 - pos) (larger pos => smaller key at equal h),
    decoded after the distinct — both engines run identical integer
    ops. Contract: pos < 2^24 (a 16M-token single document overflows
    the packing; web documents are orders of magnitude below) —
    ENFORCED: an oversized doc raises through raise_error in the key
    expression instead of silently corrupting pos/fp (round-11, the
    repo's loud-failure discipline).

    Scale shape (round-12 opt): selection is MAP-SIDE — per document
    the k-gram keys, the w-window minima and the distinct are all
    array expressions in the scan projection, so the operator has NO
    shuffle at all (the previous shape paid one full-token window
    exchange plus a distinct exchange; a doc's window frame never
    crosses documents, so the shuffle only re-established an order
    the scan already had). Linear in corpus tokens, zero Exchange."""
    sel = _winnow_selected_keys(F.col(text_col), F.col(id_col), k, w, salt)
    return (
        ensure_min_parallelism(docs)
        .select(F.col(id_col).alias("_id"), F.explode(sel).alias("mk"))
        .select(
            F.col("_id").alias(id_col),
            (F.lit(16_777_216) - F.col("mk") % 16_777_216).cast("long").alias("pos"),
            F.expr("mk div 16777216").alias("fp"),
        )
    )


def _winnow_selected_keys(
    text_col: F.Column, id_col: F.Column, k: int, w: int, salt: str
) -> F.Column:
    """ARRAY<LONG> of the DISTINCT winnow-selected packed keys
    (h * 2^24 + (2^24 - pos)) of one document — the per-row core of
    ``winnow_fingerprints``: key stream, w-window minima and distinct
    as array expressions (docs with < w complete windows select
    nothing, matching the window form's full-frame filter). The >=
    2^24-token overflow still fails loudly inside the key lambda."""
    from orestes_spark.operators.sampling import hash_prefix_long

    split_expr = F.split(normalize_text(text_col), r"\s+")

    def keys_of(tk: F.Column) -> F.Column:
        m = F.size(tk)
        return F.when(
            m >= k,
            F.transform(
                F.sequence(F.lit(1), m - (k - 1)),
                lambda i: F.when(
                    i < F.lit(16_777_216),
                    hash_prefix_long(F.array_join(F.slice(tk, i, k), " "), salt)
                    * F.lit(16_777_216)
                    + (F.lit(16_777_216) - i),
                ).otherwise(
                    F.raise_error(
                        F.format_string(
                            "winnow_fingerprints: doc %s has >= 2^24 tokens; "
                            "pos overflows the packed key",
                            id_col.cast("string"),
                        )
                    )
                ),
            ),
        )

    def sel_of(ks: F.Column) -> F.Column:
        n = F.size(ks)
        return F.when(
            n >= w,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n - (w - 1)),
                    lambda j: F.array_min(F.slice(ks, j, w)),
                )
            ),
        )

    return bind(bind(split_expr, keys_of), sel_of)


def winnow_doc_prints(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    salt: str = "winnow",
) -> DataFrame:
    """(_id, fp) — the DISTINCT winnow fingerprint set per document:
    ``winnow_fingerprints`` with positions dropped and the per-doc
    dedupe done in-array (round-12 opt), so the pair/index consumers
    skip the (id, fp) distinct exchange they all used to pay."""
    sel = _winnow_selected_keys(F.col(text_col), F.col(id_col), k, w, salt)
    # keys are non-negative (< 2^56), so the shift IS `div 2^24` —
    # float division would lose mantissa bits at this magnitude
    dfp = bind(
        sel, lambda s: F.array_distinct(F.transform(s, lambda x: F.shiftright(x, 24)))
    )
    return ensure_min_parallelism(docs).select(
        F.col(id_col).alias("_id"), F.explode(dfp).alias("fp")
    )


def winnow_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
    salt: str = "winnow",
) -> DataFrame:
    """(id_a, id_b, n_shared) — document pairs sharing >=
    ``min_shared`` winnowing fingerprints: the MOSS match-detection
    step over ``winnow_fingerprints``. The winnowing guarantee (any
    copied passage of >= w+k-1 tokens shares at least ONE print) only
    turns into a pair-detection guarantee at ``min_shared=1``: the
    default ``min_shared=2`` trades that away to filter single-hash
    coincidences, so a minimal-length copied passage that happens to
    contribute exactly one shared print is (deliberately) dropped.
    Pass ``min_shared=1`` when the hard guarantee matters more than
    coincidence noise; passages long enough to yield 2+ prints
    (roughly >= w+k tokens plus one window) surface at the default.
    The max_df cut below is the other documented exception.

    ``max_df`` drops fingerprints appearing in more than that many
    docs before the self-join — the module's standard stop-key
    discipline (candidate_pairs' max_bucket, ngram_jaccard's max_df):
    a boilerplate print shared by 10k docs would otherwise fan out
    10k^2/2 pairs. Dropped prints are corpus-wide boilerplate, which
    is exactly what a match report should ignore; the trade is
    documented, not silent.

    Scale shape: fingerprint build is linear and shuffle-free
    (winnow_doc_prints — per-doc selection and dedupe are array
    expressions in the scan); df is one groupBy; the pair stage is an
    equi-join on fp with per-fp fan-out bounded by max_df^2 — the
    banded-LSH cost envelope."""
    # Checkpoint: the print set fans out to the df cut AND both self-
    # join sides; the old shuffled form recomputed it behind a reused
    # distinct-exchange, the shuffle-free form has no exchange to
    # reuse, so one explicit materialization replaces 2-3 recomputes
    # (prints are ~2/(w+1) of the token stream — far smaller than the
    # text they index).
    # Round-12: LAZY (one final job materializes it). Round-13 (guide
    # §2.5, VERDICT r12 #2): the df cut is a partial-aggregated
    # over-limit set anti-joined back, NOT a count window. The window
    # put every occurrence of a hot print (licence-header boilerplate
    # in 30% of docs) into ONE WindowExec task and sorted it — an
    # unbounded single-task straggler at corpus scale. The groupBy's
    # map-side partial aggregation squashes a hot fp to one row per
    # map task, the over-limit set is bounded by |prints|/max_df and
    # in practice tiny (only boilerplate exceeds max_df), and the
    # anti-join drops hot occurrences MAP-SIDE (AQE broadcasts the
    # small build) — so no hot fp ever reaches the self-join's
    # exchange at all. Semantics identical: drop fp with df > max_df.
    fps = winnow_doc_prints(docs, id_col, text_col, k=k, w=w, salt=salt).localCheckpoint(
        eager=False
    )
    hot = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > max_df)
        .select("fp")
    )
    kept = fps.join(hot, "fp", "left_anti")
    a = kept.select(F.col("fp"), F.col("_id").alias("id_a"))
    b = kept.select(F.col("fp"), F.col("_id").alias("id_b"))
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def winnow_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    salt: str = "winnow",
    max_df: int | None = 50,
    buckets: int | None = None,
) -> DataFrame:
    """The persisted winnow fingerprint index of a corpus: one
    (fp, _id) row per distinct (fingerprint, document) — the MOSS
    family's analogue of ``minhash_band_index``/``span_index``
    (round-12, VERDICT r11 #2: the one dedup route that had no
    persisted-index incremental form). Built once per corpus (or
    appended per ingest batch), written to parquet;
    ``incremental_winnow_pairs`` then match-checks every NEW batch
    against it with cost ∝ batch fingerprints — the corpus text is
    never re-winnowed per batch. Winnowing selects fingerprints
    PER-DOCUMENT (no cross-doc state), so index construction is
    embarrassingly appendable and the guarantee — any copied passage
    of >= w+k-1 tokens shares at least one print between copy and
    original — holds batch-vs-corpus exactly as it does in-corpus.

    ``max_df`` applies the stop-print cut at BUILD time (prints in
    more than max_df corpus docs are boilerplate — licence headers,
    templating — and would fan the probe join out per print); the cut
    is part of the index's contract and bounds the probe's per-print
    corpus fan-out by construction. Pass None to keep every print
    (the min_shared=1 hard-guarantee configuration).

    Self-describing layout (the nb/kg discipline, extended): the
    index carries its k-gram size ``kg``, window ``wn``, and salt
    ``slt`` as constant columns (parquet-RLE free); a probe whose
    config disagrees on ANY of them raises instead of joining
    disjoint fingerprint spaces and silently reporting zero matches.
    ``buckets`` adds hash-range bucketing on the print (``hb =
    pmod(fp, buckets)`` + modulus ``nb``); write ``partitionBy("hb")``
    and the probe partition-prunes its scan to the buckets the
    batch's prints land in."""
    # one materialization feeds the df cut and the index rows (see
    # winnow_pairs — the shuffle-free print build has no reusable
    # exchange)
    fps = winnow_doc_prints(docs, id_col, text_col, k=k, w=w, salt=salt)
    if max_df is not None:
        # round-13: partial-agg over-limit set + map-side anti-join
        # (see winnow_pairs — the count window sorted every hot
        # print's occurrences in one task); the lazy checkpoint feeds
        # the df sketch and the surviving rows from one print pass
        fps = fps.localCheckpoint(eager=False)
        hot = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_df)
            .select("fp")
        )
        fps = fps.join(hot, "fp", "left_anti")
    idx = (
        fps.withColumn("kg", F.lit(int(k)))
        .withColumn("wn", F.lit(int(w)))
        .withColumn("slt", F.lit(salt))
    )
    # fp is the md5-prefix long (uniform in [0, 2^32)), so it is its
    # own bucket key
    return bucketize(idx, "fp", buckets) if buckets else idx


def incremental_winnow_pairs(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = 50,
    salt: str = "winnow",
    buckets: int | None = None,
) -> DataFrame:
    """(id_new, id_corpus, n_shared) — MOSS match detection of a NEW
    batch against an indexed corpus: every batch document sharing >=
    ``min_shared`` winnowing fingerprints with an already-ingested
    document, without re-winnowing a byte of corpus text (round-12 —
    the incremental shape of ``winnow_pairs``, completing the
    persisted-index probe family: MinHash bands, spans, SimHash/dHash,
    SemDeDup, and now winnowing). The winnowing guarantee carries
    over: a batch doc copying >= w+k-1 tokens from an indexed doc
    shares at least one print with it (detection guaranteed at
    ``min_shared=1``; the default 2 trades the minimal-passage case
    for coincidence filtering, exactly as ``winnow_pairs`` documents).

    Join shape (the incremental_repeated_spans discipline): the
    corpus-sized index is NEVER shuffled — it is equi-joined against
    the BROADCAST batch-print set in one column-pruned map-side scan
    emitting at most |batch prints| x max_df hit rows (the build-time
    stop-print cut bounds per-print corpus fan-out), and the pair
    counts aggregate over that bounded hit frame. With a bucketed
    index (``buckets``/self-described ``nb``) the scan is first
    PARTITION-PRUNED to the hash-range buckets the batch's prints
    touch — the touched-bucket list is one tiny collect over the
    batch-sized print frame. Config safety: the index self-describes
    kg/wn/slt and the probe raises on any disagreement (disjoint
    fingerprint spaces would otherwise report zero matches silently).

    ``max_df`` here is the BATCH-side stop-print cut (prints in more
    than max_df batch docs); the corpus-side cut happened at build.
    Within-batch matches are ``winnow_pairs(new_docs)``'s job — same
    split as every incremental operator in this module. Re-delivered
    ids (batch id already indexed) self-match on every print; the
    id_new != id_corpus guard drops exact self-pairs, mirroring
    incremental_simhash_pairs."""
    prune_nb = check_layout(index, "winnow index", buckets, k=k, w=w, salt=salt)["nb"]
    # ONE winnow pass over the batch text, df cut included, in ONE
    # materialized job (round-12): the shuffle-free print build has no
    # reusable exchange, so any second consumer would re-run it; the
    # batch-side df cut is a count window over the batch-sized print
    # frame (one small shuffle) instead of the old agg + join-back,
    # and the single eager checkpoint then feeds the touched-bucket
    # collect and the pair join with zero replays.
    batch_fps = winnow_doc_prints(new_docs, id_col, text_col, k=k, w=w, salt=salt)
    if max_df is not None:
        wfp = Window.partitionBy("fp")
        batch_fps = (
            batch_fps.withColumn("_df", F.count(F.lit(1)).over(wfp))
            .where(F.col("_df") <= max_df)
            .drop("_df")
        )
    batch_fps = batch_fps.localCheckpoint(eager=False)  # round-12:
    # the touched-bucket collect below materializes it in its own job
    idx = index
    if prune_nb:
        idx = idx.where(F.col("hb").isin(touched_buckets(batch_fps, "fp", prune_nb)))
    # ONE broadcast of the batch-sized print frame into the pruned
    # index scan (round-12: the previous two-step — semi-join the
    # index to batch keys, then broadcast the HIT frame back — built
    # two broadcasts per call, and the hits side it shipped is the
    # larger one: |batch prints| x max_df rows vs |batch prints|).
    return (
        idx.select("fp", F.col("_id").alias("id_corpus"))
        .join(F.broadcast(batch_fps), "fp")
        .where(F.col("_id") != F.col("id_corpus"))
        .groupBy(F.col("_id").alias("id_new"), "id_corpus")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


# --------------------------------------------- span-level exact dedup ---


def _kgram_starts(docs: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(_id, pos, h) — every k-token window start: pos is the 0-based
    token index of the window, h its xxhash64. Built like
    token_shingle_arrays (zip k shifted slices, one pass) but WITHOUT
    array_distinct — span dedup needs every occurrence position, not
    the distinct shingle set. The hash (not the string) is the shuffle
    key: at corpus scale the k-gram strings dominate the shuffle
    payload; a 64-bit collision can only ADD a span candidate
    (vanishingly rare, and harmless for a flag-for-removal pass)."""

    def build(tk: F.Column) -> F.Column:
        m = F.size(tk)
        # CASE guards evaluation: for size < k the sequence bound would
        # be < 1 and throw under ANSI. (round-12 opt: transform over
        # the start sequence replaced the k-deep zip_with chain — see
        # token_shingle_arrays — and the redundant isNotNull filter is
        # gone: non-outer posexplode drops null arrays itself, and the
        # pushed-down filter was re-evaluating the whole gram chain
        # below the exchange.)
        return F.when(
            m >= k,
            F.transform(
                F.sequence(F.lit(1), m - (k - 1)),
                lambda i: F.array_join(F.slice(tk, i, k), " "),
            ),
        )

    split_expr = F.split(normalize_text(F.col(text_col)), r"\s+")
    return (
        ensure_min_parallelism(docs)
        .select(F.col(id_col).alias("_id"), bind(split_expr, build).alias("grams"))
        .select("_id", F.posexplode_outer("grams").alias("pos", "g"))
        .where(F.col("g").isNotNull())  # see explode_col: outer explode
        # + generated-column filter, so InferFiltersFromGenerate cannot
        # re-run the k-gram build twice in a Filter at the 1-task scan
        .select("_id", "pos", F.xxhash64("g").alias("h"))
    )


def _span_hot_default() -> int | None:
    """Scale knob for the span family's hot-key tier (round-13,
    VERDICT r12 #2 / guide §2.5): k-gram hashes with at least this
    many occurrences are counted by a partial-aggregated sketch and
    flagged via a map-side broadcast join instead of riding the count
    window — whose WindowExec otherwise buffers and sorts EVERY
    occurrence of a boilerplate k-gram (a licence header in 30% of a
    100 TB corpus) in one task. None (the local default) keeps the
    r12 single-window plan: at bench scale the hardened path's extra
    k-gram checkpoint + sketch pass cost more than any local skew,
    and the driver's bench must stay comparable; production sets
    ORESTES_SPAN_HOT_THRESHOLD to the occurrence count one task sorts
    comfortably (~100k) — the A/B and the hot-fixture test pin that
    both paths are row-identical."""
    import os

    v = int(os.environ.get("ORESTES_SPAN_HOT_THRESHOLD", "0") or "0")
    return v or None


def _span_flags(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    min_count: int,
    max_count: int | None,
    keep_first: bool,
    hot_threshold: int | None = None,
) -> DataFrame:
    """Duplicated window starts (_id, pos, _canon) for the span-dedup
    family. ``_canon`` is True only under ``keep_first`` and only on
    each duplicated k-gram's CANONICAL occurrence (first by (doc,
    pos)), which ``strip_repeated_spans`` protects from removal and
    ``repeated_spans`` exempts from flagging. See ``repeated_spans``
    for the semantics and scale notes.

    Round-12 shape: the duplicate test is a count (and, under
    keep_first, a min-struct) WINDOW over the k-gram hash, not a
    groupBy + join-back. The old shape tokenized and exploded the
    corpus twice (two Generate subtrees — the planner does not reuse
    the exchange across the self-join's sides) and carried every
    duplicated hash through a join build side: a broadcast at bench
    scale, corpus-proportional at 100 TB. The window computes the
    per-hash count in the one token-scale exchange the flags need
    anyway — one explode, one shuffle, no join, no broadcast; flagged
    and canonical rows ride one frame so consumers that need both
    never re-derive the window.

    ``hot_threshold`` (round-13, VERDICT r12 #2 / guide §2.5 —
    defaults to ``_span_hot_default()``): the window's one weakness
    is that EVERY occurrence of one k-gram lands in ONE WindowExec
    task, which buffers and sorts it — unbounded for corpus-wide
    boilerplate at 100 TB. With a threshold set, a partial-aggregated
    sketch (map-side combine: a hot hash is ~one row per map task on
    the wire) finds hashes with >= hot_threshold occurrences; their
    flags attach MAP-SIDE via a broadcast join of the (tiny, by the
    threshold's own arithmetic: <= corpus_windows/threshold rows) hot
    table, and the window runs only on the remaining occurrences —
    every window partition provably < hot_threshold rows. The k-gram
    stream is lazily checkpointed so the sketch and the flags read
    one tokenize pass. Row-identical to the plain path by
    construction (hot/cold split on whole h-groups; same dup/canon
    arithmetic on both legs — pinned by the hot-fixture test); the
    local default stays None because the checkpoint + sketch pass
    cost more than any skew sf0.1 can produce."""
    if hot_threshold is None:
        hot_threshold = _span_hot_default()
    kg = _kgram_starts(docs, id_col, text_col, k)
    dup_of = lambda c: (  # noqa: E731 - one home for the dup test
        (c >= min_count) & (c <= max_count) if max_count is not None else c >= min_count
    )
    hot_flags = None
    if hot_threshold:
        kg = kg.localCheckpoint(eager=False)
        aggs = [F.count(F.lit(1)).alias("_c")]
        if keep_first:
            aggs.append(F.min(F.struct("_id", "pos")).alias("_first"))
        hot = (
            kg.groupBy("h").agg(*aggs).where(F.col("_c") >= int(hot_threshold))
        )
        hot_occ = kg.join(F.broadcast(hot), "h").where(dup_of(F.col("_c")))
        if keep_first:
            hf = (F.col("_id") == F.col("_first._id")) & (
                F.col("pos") == F.col("_first.pos")
            )
            hot_flags = hot_occ.select("_id", "pos", hf.alias("_canon"))
        else:
            hot_flags = hot_occ.select("_id", "pos", F.lit(False).alias("_canon"))
        kg = kg.join(F.broadcast(hot.select("h")), "h", "left_anti")
    w = Window.partitionBy("h")
    cols = [F.col("_id"), F.col("pos"), F.count(F.lit(1)).over(w).alias("_c")]
    if keep_first:
        cols.append(F.min(F.struct("_id", "pos")).over(w).alias("_first"))
    occ = kg.select(*cols).where(dup_of(F.col("_c")))
    if keep_first:
        is_first = (F.col("_id") == F.col("_first._id")) & (
            F.col("pos") == F.col("_first.pos")
        )
        out = occ.select("_id", "pos", is_first.alias("_canon"))
    else:
        out = occ.select("_id", "pos", F.lit(False).alias("_canon"))
    return out.unionByName(hot_flags) if hot_flags is not None else out


def _merge_flagged_spans(
    flagged: DataFrame, id_col: str, k: int, kind_col: str | None = None
) -> DataFrame:
    """Gaps-and-islands merge of flagged window starts into maximal
    coverage intervals — ONE copy of the logic, shared by the batch
    and incremental span operators (a semantics change here changes
    both paths together, by construction). ``kind_col`` (round-12)
    merges several flag families in one window pass — each kind's
    islands are independent (the kind joins the partition key), so
    the result is row-identical to one merge call per kind, at one
    shuffle instead of one per kind."""
    keys = ["_id"] + ([kind_col] if kind_col else [])
    w = Window.partitionBy(*keys).orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(w.rowsBetween(Window.unboundedPreceding, -1))
    isl = flagged.withColumn(
        "_new", F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
    ).withColumn("_island", F.sum("_new").over(w))
    out = [
        F.col("_id").alias(id_col),
        F.col("_s").cast("long").alias("span_start"),
        F.col("_e").cast("long").alias("span_end"),
        (F.col("_e") - F.col("_s")).cast("long").alias("span_len"),
    ] + ([F.col(kind_col)] if kind_col else [])
    return (
        isl.groupBy(*keys, "_island")
        .agg(F.min("pos").alias("_s"), (F.max("pos") + k).alias("_e"))
        .select(*out)
    )


def repeated_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_count: int = 2,
    max_count: int | None = None,
    keep_first: bool = False,
) -> DataFrame:
    """Span-level exact substring dedup (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    operator): flag every token covered by a >= k-token span that
    appears at least ``min_count`` times verbatim anywhere in the
    corpus. Output: (id, span_start, span_end, span_len) — merged
    half-open token intervals [span_start, span_end) of DUPLICATED
    COVERAGE, one row per maximal run of overlapping-or-adjacent
    duplicated windows.

    Algorithm: every k-token window is hashed with its start
    position; a window is duplicated iff its k-gram occurs >=
    min_count times corpus-wide (a hash groupBy with map-side partial
    aggregation — NO pair join anywhere); flagged windows join back
    by hash (shuffle bounded by |corpus k-grams|, i.e. linear in
    corpus tokens); flagged windows per document merge into coverage
    intervals with one per-document window pass
    (``_merge_flagged_spans``). A repeated span of length L >= k is
    covered by L-k+1 flagged windows, so it always lands inside one
    interval. The converse does NOT hold: a merged interval is the
    union of duplicated windows, which may each repeat in DIFFERENT
    places — span_len is covered-token extent, not a guarantee that
    the interval repeats as one unit (only a suffix array gives that,
    and it is a single-machine construction). Coverage is exactly
    what the removal recipe needs — Lee et al. likewise merge
    overlapping duplicated spans before cutting — and
    ``strip_repeated_spans`` consumes it as such.

    ``max_count`` is the hot-group cap (cf. ``max_bucket`` in the LSH
    paths): k-grams repeated more than max_count times are boilerplate
    (licence headers, templating) a curator may prefer to handle with
    a dedicated rule; capping them also bounds the flagged-row
    fan-out per hash group. Every stage is linear in corpus tokens —
    there is no quadratic candidate stage to cap.

    ``keep_first=True`` exempts each duplicated k-gram's CANONICAL
    occurrence — the first by (doc, position) order — from flagging
    (an aggregate min-struct per hash group, no per-group window).
    NOTE: the reported spans are still the merged coverage of the
    NON-canonical flags, and a flagged window can overlap a canonical
    one — so these intervals alone do not guarantee a surviving copy.
    ``strip_repeated_spans(keep_first=True)`` adds the missing half:
    it PROTECTS every token inside a canonical window from removal,
    which is what actually guarantees the corpus keeps at least one
    intact copy of every duplicated k-gram."""
    occ = _span_flags(docs, id_col, text_col, k, min_count, max_count, keep_first)
    return _merge_flagged_spans(
        occ.where(~F.col("_canon")).select("_id", "pos"), id_col, k
    )


def strip_repeated_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_count: int = 2,
    max_count: int | None = None,
    keep_first: bool = False,
) -> DataFrame:
    """Removal companion to ``repeated_spans``: drop every token
    covered by a duplicated >=k-token span and reassemble the
    document (the Lee et al. training-data cleaning step). With the
    default ``keep_first=False`` ALL occurrences are removed (the
    conservative decontamination stance); ``keep_first=True`` is the
    paper's ExactSubstr recipe — each duplicated k-gram's canonical
    (first by doc, position) occurrence is both exempt from flagging
    AND its tokens are PROTECTED from removal by overlapping flagged
    windows, so the corpus keeps at least one intact copy of every
    duplicated window. Output: (id, n_tokens, n_removed, clean_text)
    for EVERY input document, clean_text == '' when nothing survives.

    The span table is per-document tiny by construction, so it joins
    back as (id -> array<struct>) and the strip is one higher-order
    filter over the token array — no per-token shuffle."""
    occ = _span_flags(docs, id_col, text_col, k, min_count, max_count, keep_first)
    if keep_first:
        # Flagged coverage and canonical protection merge in ONE
        # gaps-and-islands pass (the kind joins the partition key) and
        # collect in ONE per-doc agg — the old two-subtree shape
        # recomputed the k-gram window once per span family.
        merged = _merge_flagged_spans(occ, id_col, k, kind_col="_canon")
        iv = F.struct("span_start", "span_end")
        sp = merged.groupBy(id_col).agg(
            F.collect_list(F.when(~F.col("_canon"), iv)).alias("_spans"),
            F.collect_list(F.when(F.col("_canon"), iv)).alias("_prot"),
        )
    else:
        sp = (
            _merge_flagged_spans(occ.select("_id", "pos"), id_col, k)
            .groupBy(id_col)
            .agg(F.collect_list(F.struct("span_start", "span_end")).alias("_spans"))
        )
    toks_df = docs.select(
        F.col(id_col), F.split(normalize_text(F.col(text_col)), r"\s+").alias("_toks")
    )
    j = toks_df.join(sp, id_col, "left")

    def in_any(col_name: str, i: F.Column) -> F.Column:
        return F.exists(
            F.col(col_name), lambda s: (i >= s["span_start"]) & (i < s["span_end"])
        )

    if keep_first:
        # Canonical-window PROTECTION (the half that makes keep_first's
        # guarantee true): a flagged window can overlap a canonical one
        # — e.g. 'q r s t u v' flagged in the same doc whose 'p q r s
        # t u' is the canonical copy — and coverage alone would strip
        # the canonical tokens, leaving ZERO intact copies corpus-wide.
        # Protected tokens are never removed, so each duplicated
        # k-gram's canonical occurrence survives verbatim.

        def strip_token(i: F.Column) -> F.Column:
            protected = F.when(
                F.col("_prot").isNotNull(), in_any("_prot", i)
            ).otherwise(F.lit(False))
            return in_any("_spans", i) & ~protected

    else:

        def strip_token(i: F.Column) -> F.Column:
            return in_any("_spans", i)

    kept = F.when(F.col("_spans").isNull(), F.col("_toks")).otherwise(
        F.filter(F.col("_toks"), lambda _t, i: ~strip_token(i.cast("long")))
    )

    def out(kt: F.Column) -> F.Column:
        return F.struct(
            (F.size("_toks") - F.size(kt)).cast("long").alias("n_removed"),
            F.concat_ws(" ", kt).alias("clean_text"),
        )

    st = bind(kept, out)
    return j.select(
        id_col,
        F.size("_toks").cast("long").alias("n_tokens"),
        st["n_removed"].alias("n_removed"),
        st["clean_text"].alias("clean_text"),
    )


def span_index(
    docs: DataFrame, id_col: str, text_col: str, k: int = 8, buckets: int | None = None
) -> DataFrame:
    """The persisted span index of a corpus: one (h) row per DISTINCT
    k-gram hash — the span-family analogue of ``minhash_band_index``.
    Built once per corpus (or appended per ingest batch) and written
    to parquet; ``incremental_repeated_spans`` then flags every NEW
    batch against it with cost ∝ batch k-grams + one semi-join. The
    distinct-hash index is the smallest corpus-sized artifact that
    answers "does this window repeat anything already ingested" — at
    100 TB the batch never re-tokenizes the corpus.

    ``buckets`` (round-9, closing the docstring's own "prunable
    further" note): adds a hash-range bucket column ``hb = pmod(h,
    buckets)`` plus the self-describing bucket count ``nb`` (one
    constant int column — free under parquet RLE; the dsir_wq
    codebook's pattern, so a probe can never silently prune with the
    WRONG modulus). Write the index ``partitionBy("hb")``; the
    ``incremental_repeated_spans`` probe then PARTITION-PRUNES the
    index scan to the buckets the batch's k-grams actually land in —
    a small batch touches a few buckets, so per-batch index I/O drops
    from the full index to |touched buckets|/|buckets| of it, instead
    of flat corpus-proportional bytes every batch.

    Config guidance (measured, SCALING.md "bucket_pruning" table): the
    win is real only when a batch touches a FRACTION of the buckets —
    size ``buckets`` well above the k-gram count of a typical batch.
    A batch that touches ~all buckets (e.g. 20% of the corpus in one
    batch at buckets=16) still pays the touched-bucket collect and
    prunes nothing; for that regime leave ``buckets=None``.

    Self-describing ``kg`` (round-12, ADVICE r11): the index carries
    its k-gram size as a constant column (free under parquet RLE,
    like ``nb``), and every probe — ``incremental_repeated_spans``,
    ``shingle_containment``'s indexed route — raises when its k
    disagrees, instead of joining disjoint hash spaces and silently
    reporting zero hits. Pre-kg indexes still validate by docstring
    contract."""
    idx = (
        _kgram_starts(docs, id_col, text_col, k)
        .select("h")
        .distinct()
        .withColumn("kg", F.lit(int(k)))
    )
    return bucketize(idx, "h", buckets) if buckets else idx


def _bloom_positions(h: Column, m: int, hashes: int) -> Column:
    """The ``hashes`` Bloom bit positions of a 64-bit hash, as an
    array column — Kirsch-Mitzenmacher double hashing
    g_j = (h1 + j·h2) mod m with h1 = pmod(h, m) and
    h2 = pmod(h >> 17, m-1) + 1. Every op (pmod, arithmetic shift)
    has identical semantics in Spark SQL, Python ints, and numpy
    int64, so the probe's vectorized membership test computes the
    SAME positions the build set — the no-false-negative property the
    exactness argument rests on."""
    h1 = F.pmod(h, F.lit(m))
    h2 = F.pmod(F.shiftright(h, 17), F.lit(m - 1)) + F.lit(1)
    return F.array(*[F.pmod(h1 + F.lit(j) * h2, F.lit(m)) for j in range(int(hashes))])


def span_bloom(index: DataFrame, bits: int = 1 << 20, hashes: int = 4) -> DataFrame:
    """Per-bucket Bloom sidecar for a persisted span index (round-10):
    one (hb, nb, mbits, kh, blob) row per hash-range bucket, ``blob``
    = ``bits`` Bloom bits over the bucket's distinct k-gram hashes.
    At 100 TB the distinct-hash index is TBs; bucket pruning already
    cuts probe I/O to touched buckets, and the sidecar cuts it again:
    a mostly-NOVEL ingest batch (the common dedup case) has almost no
    Bloom-passing hashes, so the exact semi-join scans only the
    buckets holding genuine repeats (plus the false-positive trickle)
    instead of every touched partition. Exactness is untouched — the
    Bloom is a PRE-filter with no false negatives; the exact semi-join
    still decides every hit.

    Layout self-describes like the index's ``nb``: ``mbits``/``kh``
    ride every row, and the probe validates them against each other
    and against the index modulus before trusting a single skipped
    byte. Sizing: ``bits`` is PER BUCKET — aim for ~10 bits per
    distinct hash in the largest bucket (~1% false positives at
    kh=4); the whole sidecar is nb·bits/8 bytes and the probe only
    collects the touched buckets' blobs.

    Build shape (distributed, bounded): explode each hash into kh bit
    positions, integer bit_or per (hb, word) — output bounded by
    nb·bits/64 rows regardless of corpus size — then per-bucket blob
    assembly over those word rows via applyInPandas."""
    nb = check_layout(index, "span index")["nb"] if "hb" in index.columns else None
    if nb is not None:
        src = index.select("h", "hb")
    else:
        nb = 1  # unbucketed index: one corpus-wide blob
        src = index.select("h", F.lit(0).alias("hb"))
    return _bloom_build(src, nb, bits, hashes)


def _bloom_build(src: DataFrame, nb: int, bits: int, hashes: int) -> DataFrame:
    """Shared Bloom-blob builder for any (h, hb) key frame — span
    k-gram hashes and LSH band keys both route here (round-10). See
    span_bloom for the semantics and sizing guidance."""
    import struct as _struct

    import pandas as pd

    m, kk = int(bits), int(hashes)
    if m % 64 or m < 64:
        raise ValueError(f"bits must be a positive multiple of 64: {m}")
    if not 1 <= kk <= 16:
        raise ValueError(f"hashes must be in [1, 16]: {kk}")
    pos = src.select(
        "hb", F.explode(_bloom_positions(F.col("h"), m, kk)).alias("p")
    )
    words = pos.select(
        "hb",
        F.shiftright(F.col("p"), 6).cast("int").alias("word"),
        F.expr("shiftleft(1L, cast(pmod(p, 64) as int))").alias("mask"),
    ).groupBy("hb", "word").agg(F.bit_or("mask").alias("bits"))

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        blob = bytearray(m // 8)
        for w, b in zip(pdf["word"], pdf["bits"]):
            _struct.pack_into("<q", blob, int(w) * 8, int(b))
        return pd.DataFrame(
            {
                "hb": [int(pdf["hb"].iloc[0])],
                "nb": [nb],
                "mbits": [m],
                "kh": [kk],
                "blob": [bytes(blob)],
            }
        )

    return words.groupBy("hb").applyInPandas(
        assemble, "hb INT, nb INT, mbits LONG, kh INT, blob BINARY"
    )


def _bloom_prefilter(kg_hashes: DataFrame, bloom: DataFrame, expect_nb: int | None):
    """Filter a distinct batch-hash frame through a span_bloom sidecar:
    returns (survivors DataFrame, bnb). Collects ONLY the touched
    buckets' blobs (bounded by nb·mbits/8 bytes, never by batch or
    corpus), broadcasts them, and tests membership with a vectorized
    Arrow-batched kernel — numpy int64 reproduces the build's pmod /
    arithmetic-shift semantics exactly, so a true hit can never be
    filtered (no false negatives). Validates the sidecar's
    self-described layout against the index modulus first."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    spark = kg_hashes.sparkSession
    if expect_nb is not None:
        # Round-12 (guide §1.2 — remove passes): when the index has
        # already established the modulus, layout validation and the
        # touched-blob fetch ride ONE collect — every sidecar row
        # ships its 3 scalar layout columns (bounded by nb, the same
        # bound as the touched list itself), only TOUCHED rows ship
        # their blob. The touched list is computed with the index's
        # modulus; if the sidecar's own nb disagrees we raise before
        # any pruning decision is acted on.
        touched = touched_buckets(kg_hashes, "h", expect_nb)
        rows = bloom.select(
            "nb",
            "mbits",
            "kh",
            "hb",
            F.when(F.col("hb").isin(touched), F.col("blob")).alias("blob"),
        ).collect()
        meta_vals = {(int(r["nb"]), int(r["mbits"]), int(r["kh"])) for r in rows}
        if len(meta_vals) != 1:
            raise ValueError(
                "bloom sidecar mixes layouts (distinct nb/mbits/kh rows) — "
                "rebuild it in one span_bloom pass"
            )
        bnb, m, kk = meta_vals.pop()
        if bnb != expect_nb:
            raise ValueError(
                f"bloom sidecar was built over buckets={bnb} but the index"
                f" has buckets={expect_nb}: a mismatched modulus routes hashes"
                " to the wrong blob and silently drops genuine repeats"
            )
        blobs = {
            int(r["hb"]): bytes(r["blob"]) for r in rows if r["blob"] is not None
        }
    else:
        meta = bloom.select("nb", "mbits", "kh").distinct().collect()
        if len(meta) != 1:
            raise ValueError(
                "bloom sidecar mixes layouts (distinct nb/mbits/kh rows) — "
                "rebuild it in one span_bloom pass"
            )
        bnb, m, kk = int(meta[0]["nb"]), int(meta[0]["mbits"]), int(meta[0]["kh"])
        touched = touched_buckets(kg_hashes, "h", bnb)
        blobs = {
            int(r["hb"]): bytes(r["blob"])
            for r in bloom.where(F.col("hb").isin(touched)).select("hb", "blob").collect()
        }
    blobs_bc = spark.sparkContext.broadcast(blobs)

    # no type hints: the module's `from __future__ import annotations`
    # stringifies them and pyspark's resolver can't see the local
    # pandas import; the explicit returnType carries the contract
    @pandas_udf("boolean")
    def bloom_pass(hs):
        bl = blobs_bc.value
        h = hs.to_numpy(dtype=np.int64)
        hb = np.mod(h, bnb)
        res = np.zeros(len(h), dtype=bool)
        for b in np.unique(hb):
            blob = bl.get(int(b))
            if blob is None:
                continue  # bucket absent from sidecar: no index hash there
            arr = np.frombuffer(blob, dtype=np.uint8)
            idx = np.nonzero(hb == b)[0]
            hh = h[idx]
            h1 = np.mod(hh, m)
            h2 = np.mod(hh >> 17, m - 1) + 1
            ok = np.ones(len(idx), dtype=bool)
            for j in range(kk):
                p = np.mod(h1 + j * h2, m)
                ok &= ((arr[p >> 3] >> (p & 7)) & 1).astype(bool)
            res[idx] = ok
        return pd.Series(res)

    return kg_hashes.where(bloom_pass(F.col("h"))), bnb


def incremental_repeated_spans(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    buckets: int | None = None,
    bloom: DataFrame | None = None,
) -> DataFrame:
    """Per-ingest ExactSubstr decontamination: merged coverage spans
    (id, span_start, span_end, span_len) of every >=k-token window in
    a NEW batch that appears verbatim in the indexed corpus — the
    incremental shape of ``repeated_spans``, mirroring
    ``incremental_neardup`` vs the LSH band index. The corpus is
    touched only through ``index`` (``span_index(...)``, typically
    read back from parquet), in ONE semi-join on the window hash:
    per-batch cost is batch-sized, never corpus-sized. Within-batch
    repeats are ``repeated_spans(new_docs)``'s job — callers run both
    and union the spans, exactly how the streaming corpus gate splits
    in-batch vs batch-vs-index work. Id spaces need not be disjoint:
    the index carries no ids at all.

    Join shape matters (same trick as the streaming re-delivery gate,
    ingest.py): a direct batch-semi-index join would SHUFFLE the
    corpus-sized index on h every batch. Instead the index is
    semi-joined against the BROADCAST batch-hash set — a column-pruned
    map-side scan emitting at most |batch k-grams| hit rows — and the
    batch flags against that broadcast hit set. Per-batch cost: one
    index scan, zero corpus shuffles.

    ``buckets`` (round-9): the probe collects the batch's touched
    hash-range buckets — a driver list bounded by ``buckets``, never
    by batch or corpus size — and filters the index on ``hb IN
    (...)`` with literals, so a partitioned-by-``hb`` parquet index
    is PARTITION-PRUNED at the scan: per-batch index I/O is
    |touched buckets|/|buckets| of the index instead of all of it.
    The modulus is read from the index's self-describing ``nb``
    column; an explicit ``buckets`` that disagrees raises rather than
    silently pruning with the wrong modulus (which would drop genuine
    hits — an under-reporting decontamination gate). The batch k-gram
    stream is checkpointed first so the touched-bucket collect and
    the two semi-joins share ONE tokenize+hash pass.

    ``bloom`` (round-10): a ``span_bloom`` sidecar consulted FIRST —
    the batch hash set is pre-filtered through the touched buckets'
    Bloom blobs before any index byte is read, and the index scan is
    then pruned to the buckets with at least one SURVIVING hash. For
    a mostly-novel batch (the common ingest case) almost nothing
    survives, so the exact semi-join scans near-zero index partitions
    instead of every touched one. Exactness preserved: the Bloom has
    no false negatives (identical position arithmetic on both sides)
    and the exact semi-join still decides every hit; an all-pass or
    absent sidecar degrades to the round-9 behavior, never to a
    wrong answer."""
    kg = _kgram_starts(new_docs, id_col, text_col, k)
    prune_nb = check_layout(index, "span index", buckets, k=k)["nb"]
    index = index.drop("nb")
    if prune_nb or bloom is not None:
        # one tokenize pass feeds the touched-bucket collect AND both
        # joins. Round-12: LAZY — the first collect below materializes
        # it as part of its own job instead of a dedicated eager job
        # (the doc_bpe_trained piggyback discipline, guide §1.2).
        kg = kg.localCheckpoint(eager=False)
    batch_hashes = kg.select("h").distinct()
    if bloom is not None:
        batch_hashes, bnb = _bloom_prefilter(batch_hashes, bloom, prune_nb)
        # the surviving set feeds a bucket re-collect AND the semi-join;
        # lazy again: the re-collect below runs the Bloom-test pass and
        # pins its output in the same job
        batch_hashes = batch_hashes.localCheckpoint(eager=False)
        # prune_nb stays as established from the index/caller only —
        # never adopted from the sidecar (see incremental_neardup)
    if prune_nb:
        index = index.where(F.col("hb").isin(touched_buckets(batch_hashes, "h", prune_nb)))
    hits = index.select("h").join(F.broadcast(batch_hashes), "h", "left_semi")
    flagged = kg.join(F.broadcast(hits), "h", "left_semi").select("_id", "pos")
    return _merge_flagged_spans(flagged, id_col, k)
