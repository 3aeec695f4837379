"""Text-analysis operators: language ID, quality scoring, token
counting, fingerprinting. All pure built-in SQL functions (codegen'd,
no Python in the loop) and engine-portable for oracle checking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orestes_spark.operators.dedup import bind, normalize_text
from orestes_spark.plans.parallelism import ensure_min_parallelism

# Marker stop-words per language for the n-gram/stop-word language-ID
# heuristic. Deliberately small and deterministic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "de": ["der", "die", "das", "und", "nicht", "ist"],
    "fr": ["le", "la", "les", "et", "des", "est"],
    "es": ["el", "los", "las", "y", "es", "una"],
}

STOPWORDS = ["the", "a", "and", "of", "to", "in"]


def _tokens(text_col: F.Column) -> F.Column:
    return F.split(normalize_text(text_col), r"\s+")


def token_count(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return ensure_min_parallelism(docs).select(
        F.col(id_col),
        F.size(_tokens(F.col(text_col))).alias("n_tokens"),
        F.length(text_col).alias("n_chars"),
    )


def quality_scores(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Length / avg-token-length / stopword-ratio heuristics — the gate
    columns an LLM-data pipeline filters on."""
    toks = _tokens(F.col(text_col))
    n_tokens = F.size(toks)
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    return ensure_min_parallelism(docs).select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        F.round(F.length(F.regexp_replace(text_col, " ", "")) * 1.0 / n_tokens, 6).alias("avg_token_len"),
        F.round(F.size(F.filter(toks, lambda x: F.array_contains(stop, x))) * 1.0 / n_tokens, 6).alias(
            "stopword_ratio"
        ),
    )


def _marker_score(toks: F.Column, markers: list[str]) -> F.Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))


def _lang_score_structs(toks: F.Column) -> F.Column:
    """ARRAY<STRUCT<score, nidx, lang>> — one entry per candidate
    language, all computed from ONE bound token array (one tokenization
    per row, one scan of the corpus). ``nidx`` is the negated
    alphabetical index so array_max realizes the (score desc, lang asc)
    tiebreak."""
    langs = sorted(LANG_MARKERS)
    return F.array(
        *[
            F.struct(
                _marker_score(toks, LANG_MARKERS[lang]).alias("score"),
                F.lit(-i).alias("nidx"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(langs)
        ]
    )


def lang_id(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Argmax language with deterministic tiebreak (score desc, lang
    asc). Output (id, pred_lang, score).

    Shuffle-free: the argmax is array_max over the per-language score
    structs computed in the row — no per-document window, no exchange.
    The single-element explode materializes the struct behind a
    Generate boundary so its fields are projected without CollapseProject
    re-inlining (and re-evaluating) the tokenization per field."""
    best = bind(_tokens(F.col(text_col)), lambda t: F.array_max(_lang_score_structs(t)))
    return (
        ensure_min_parallelism(docs).select(F.col(id_col), F.explode(F.array(best)).alias("_b"))
        .select(F.col(id_col), F.col("_b.lang").alias("pred_lang"), F.col("_b.score").alias("score"))
    )


# GPT-2-style pre-tokenizer classes, restricted to constructs that
# behave identically in Java regex (Spark) and RE2 (DuckDB): words,
# digit runs, single non-space symbols.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# PII patterns — same dialect-neutral restriction (no lookaround, no
# backreferences).
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
PHONE_PATTERN = r"\+?[0-9][0-9()\- ]{7,}[0-9]"
# Dialect-safe subset (no \b, no backrefs): identical leftmost
# non-overlapping matching under Java regex and RE2.
IPV4_PATTERN = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
SSN_PATTERN = r"[0-9]{3}-[0-9]{2}-[0-9]{4}"
CARD_PATTERN = r"[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}"


def _luhn_sum(ds: Column, n: int) -> Column:
    """Luhn-weighted digit sum of the first ``n`` digits of a digit
    string: for a 16-digit PAN (check digit at position 16), the
    doubled positions are the ODD 1-indexed ones (even positions from
    the right); a digit doubled past 9 contributes 2d-9. The same
    parity rule applied to n=15 yields the check-digit equation
    ck = (10 - sum15 % 10) % 10 — both the validator (n=16) and the
    fixture synthesizer (n=15) call this one home.
    ``luhn_sum_sql`` is the byte-equivalent DuckDB twin."""
    total = None
    for p in range(1, n + 1):
        d = F.substring(ds, p, 1).cast("int")
        term = F.when(2 * d > 9, 2 * d - 9).otherwise(2 * d) if p % 2 == 1 else d
        total = term if total is None else total + term
    return total


def luhn_sum_sql(var: str, n: int) -> str:
    """DuckDB expression-text twin of ``_luhn_sum`` over ``var``."""
    return " + ".join(
        (
            f"CASE WHEN 2*CAST(substr({var},{p},1) AS INT) > 9"
            f" THEN 2*CAST(substr({var},{p},1) AS INT) - 9"
            f" ELSE 2*CAST(substr({var},{p},1) AS INT) END"
            if p % 2 == 1
            else f"CAST(substr({var},{p},1) AS INT)"
        )
        for p in range(1, n + 1)
    )


def pii_classes(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Multi-class PII detection report — the audit layer above the
    two-class pii_scrub: per doc, counts of email / phone / IPv4 /
    SSN-format / card-format matches plus ``n_luhn`` (card-format
    matches whose 16 digits pass the Luhn mod-10 check — the
    discriminator that separates real PANs from arbitrary digit runs)
    and an ``any_pii`` routing verdict. Pattern-level by design (an
    IPv4 octet may exceed 255, an SSN area may be invalid): the
    counts are a redaction-routing signal, and validity beyond syntax
    is the Luhn column's job for cards only. One map-side projection,
    no shuffle — at 100 TB this is a scan-speed tagger like
    quality_scores."""
    t = F.col(text_col)

    def n_matches(pattern: str) -> Column:
        return F.size(F.regexp_extract_all(t, F.lit(pattern), F.lit(0)))

    cards = F.transform(
        F.regexp_extract_all(t, F.lit(CARD_PATTERN), F.lit(0)),
        lambda s: F.regexp_replace(s, "[ -]", ""),
    )
    luhn_ok = F.size(
        F.filter(
            cards,
            lambda ds: (F.length(ds) == 16) & (_luhn_sum(ds, 16) % 10 == 0),
        )
    )
    counts = {
        "n_emails": n_matches(EMAIL_PATTERN),
        "n_phones": n_matches(PHONE_PATTERN),
        "n_ipv4": n_matches(IPV4_PATTERN),
        "n_ssn": n_matches(SSN_PATTERN),
        "n_cards": F.size(cards),
    }
    out = ensure_min_parallelism(docs).select(
        F.col(id_col),
        *[c.alias(name) for name, c in counts.items()],
        luhn_ok.alias("n_luhn"),
    )
    total = sum(F.col(name) for name in counts)
    return out.withColumn("any_pii", total > 0)


def plant_pii_block(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic PII fixture: append a closed-form contact block
    derived from the doc id (the synthetic corpus contains no natural
    PII, so detection queries would be all-zero evidence without it —
    same discipline as multimodal's synth fixtures, where the oracle
    states the planted payload in closed form). Plants: email at
    id%3=0, SSN at id%5=0, IPv4 at id%7=0, 16-digit card at id%4=0 —
    Luhn-VALID except at id%8=0, where the check digit is off by one
    (the validator must split these). Items are ' | '-separated so
    digit runs never concatenate across classes. Returns (id_col,
    text_col) with the block appended; the DuckDB twin lives in the
    doc_pii_classes oracle."""
    did = F.col(id_col)
    d9 = F.lpad(did.cast("string"), 9, "0")
    ssn = F.concat_ws(
        "-", F.substring(d9, 1, 3), F.substring(d9, 4, 2), F.substring(d9, 6, 4)
    )
    ip = F.concat_ws(
        ".",
        (did % 254 + 1).cast("string"),
        ((did * 7 + 13) % 256).cast("string"),
        ((did * 31 + 7) % 256).cast("string"),
        (did % 200 + 1).cast("string"),
    )
    pan15 = F.concat(
        F.lit("4"), F.lpad((did % 100000000000000).cast("string"), 14, "0")
    )
    staged = docs.select(
        did.alias(id_col),
        F.col(text_col),
        ssn.alias("_ssn"),
        ip.alias("_ip"),
        pan15.alias("_pan15"),
    ).withColumn("_ck", (10 - _luhn_sum(F.col("_pan15"), 15) % 10) % 10)
    pan = F.concat(
        F.col("_pan15"),
        F.when(F.col(id_col) % 8 == 0, (F.col("_ck") + 1) % 10)
        .otherwise(F.col("_ck"))
        .cast("string"),
    )
    block = F.concat(
        F.col(text_col),
        F.when(
            F.col(id_col) % 3 == 0,
            F.concat(
                F.lit(" | contact user"),
                F.col(id_col).cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col(id_col) % 5 == 0, F.concat(F.lit(" | ssn "), F.col("_ssn"))).otherwise(
            F.lit("")
        ),
        F.when(F.col(id_col) % 7 == 0, F.concat(F.lit(" | host "), F.col("_ip"))).otherwise(
            F.lit("")
        ),
        F.when(F.col(id_col) % 4 == 0, F.concat(F.lit(" | card "), pan)).otherwise(
            F.lit("")
        ),
    )
    return staged.select(F.col(id_col), block.alias(text_col))


def bpe_ish_token_count(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Sub-word-ish token counting: whitespace tokens plus a BPE-style
    regex pre-tokenization (words / digit runs / single symbols — the
    GPT-2 pre-tokenizer shape). The regex count is the better proxy for
    LLM token budgets: punctuation and numbers tokenize separately.
    Output (id, n_ws_tokens, n_bpe_tokens)."""
    return ensure_min_parallelism(docs).select(
        F.col(id_col),
        F.size(_tokens(F.col(text_col))).alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), F.lit(0))
        ).alias("n_bpe_tokens"),
    )


def repetition_metrics(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, §A1.1): the
    fraction of all word bigrams taken by the single most frequent
    bigram. Boilerplate and word-salad spam score high; clean prose
    scores low. Output (id, n_bigrams, top_bigram_frac).

    Shape at scale: explode bigrams → two-level partial aggregation
    ((id, bigram) then id). The shuffle carries one row per distinct
    (doc, bigram) — never the corpus cross-product — and the ratio is
    an exact int/int division (no float-rounding divergence risk).
    Documents with < 2 tokens have no bigrams and produce no row."""
    bigrams = bind(
        _tokens(F.col(text_col)),
        lambda t: F.zip_with(
            F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
            F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    )
    exploded = ensure_min_parallelism(docs).select(F.col(id_col).alias("_id"), F.explode(bigrams).alias("bg"))
    per_bigram = exploded.groupBy("_id", "bg").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_bigram.groupBy("_id")
        .agg(F.sum("n").alias("n_bigrams"), F.max("n").alias("_top"))
        .select(
            F.col("_id").alias(id_col),
            "n_bigrams",
            (F.col("_top") / F.col("n_bigrams")).alias("top_bigram_frac"),
        )
    )


def pii_scrub(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII redaction pass: count and mask email addresses and
    phone-number-shaped spans. Output (id, n_emails, n_phones,
    clean_md5) — the md5 of the scrubbed text stands in for the
    (potentially huge) scrubbed body so the result is hashable and the
    scrub itself is oracle-verifiable byte for byte."""
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col(text_col), EMAIL_PATTERN, "<EMAIL>"),
        PHONE_PATTERN,
        "<PHONE>",
    )
    return ensure_min_parallelism(docs).select(
        F.col(id_col),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(EMAIL_PATTERN), F.lit(0))
        ).alias("n_emails"),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(PHONE_PATTERN), F.lit(0))
        ).alias("n_phones"),
        F.md5(scrubbed.cast("binary")).alias("clean_md5"),
    )


def fingerprints(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content fingerprints: md5 of whitespace-normalized text plus the
    min-shingle rolling fingerprint (robust to trailing edits).

    ``norm``/``toks`` are materialized as columns BEFORE the
    higher-order transform: an expression referenced inside a lambda is
    re-evaluated per array element (no common-subexpression elimination
    across the lambda boundary), which made the naive version O(tokens²)
    regex splits — 17× slower at sf0.1."""
    norm = F.regexp_replace(normalize_text(F.col(text_col)), r"\s+", " ")
    staged = ensure_min_parallelism(docs).select(F.col(id_col), norm.alias("_norm"), F.split(norm, " ").alias("_toks"))
    toks = F.col("_toks")
    # min over md5s of 3-token shingles — a 1-hash MinHash
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - 3, F.lit(0)))
    shingle_hashes = F.transform(
        idx,
        lambda i: F.md5(F.concat_ws(" ", toks[i], toks[i + 1], toks[i + 2]).cast("binary")),
    )
    return staged.select(
        F.col(id_col),
        F.md5(F.col("_norm").cast("binary")).alias("fingerprint"),
        F.array_min(shingle_hashes).alias("shingle_fingerprint"),
    )


def rarity_scores(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Vocabulary-rarity quality signal: each document's average
    document-frequency over its distinct tokens (low = rare/specialist
    vocabulary, high = boilerplate). The corpus-statistics twin of a
    unigram-LM perplexity filter, in exact integer arithmetic — df
    counts are integers and the only division is the final rounded
    average, so the oracle matches at every boundary.

    Scale shape: one (token) aggregation for the df table, one join
    that reuses the token partitioning, one (doc) aggregation. Stop
    tokens are huge df groups but tiny rows (token, count) — the
    exploded probe side is skewed on them, which AQE skew-join
    handles; document text itself never shuffles."""
    toks = ensure_min_parallelism(docs).select(
        F.col(id_col),
        F.explode(F.array_distinct(_tokens(F.col(text_col)))).alias("tok"),
    )
    dfs = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return (
        toks.join(dfs, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(F.sum("df").cast("double") / F.count(F.lit(1)), 6).alias("avg_token_df"),
        )
    )


def top_terms(docs: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """TF-IDF-style per-document term extraction, engine-exact: score =
    tf · (N·10⁶ div df) — term frequency times a linearized inverse
    document frequency. Log-idf would rank near-identically but ln()
    is not bit-portable across engines; the integer form is, so the
    oracle can pin exact ranks (ties broken by token).

    Scale shape: ONE corpus tokenization → (doc, token) tf agg,
    localCheckpointed because it feeds two consumers — the df
    aggregation (df = #rows per token in tf, no separate distinct
    pass) and the score join — which would otherwise each recompute
    the explode+shuffle from the raw text (the r3 bench showed that
    double scan as a 2× steady-state regression). Then join back on
    the token partitioning → per-doc top-k window (bounded by
    document vocabulary). The corpus size N arrives as a broadcast
    single-row cross join, not a collected literal."""
    from pyspark.sql import Window

    toks = ensure_min_parallelism(docs).select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("tok")
    )
    tf = (
        toks.groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    dfs = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfs, "tok")
        .crossJoin(F.broadcast(n))
        .withColumn("score", F.expr("tf * ((n_docs * 1000000) div df)"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(id_col, "tok", "tf", "df", "score", "rn")
    )


def rag_chunks(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """RAG-prep chunking: split each document into overlapping
    ``window``-token chunks every ``stride`` tokens (overlap =
    window − stride), emitting (id, chunk_idx, start_token, n_tokens,
    chunk_md5). The retrieval-corpus build step: deterministic offsets
    let chunk embeddings be joined back to source spans, and the md5
    gives chunk-level exact dedup across documents for free.

    Shuffle-free: tokenization + window slicing are per-row array ops
    (one corpus scan, no exchange at all); the explode fans out to
    ~n_tokens/stride rows per doc. Tokens here are whitespace tokens —
    swap in bpe_ish counting upstream when budgeting by subwords."""
    toks = F.col("_toks")
    staged = ensure_min_parallelism(docs).select(
        F.col(id_col), _tokens(F.col(text_col)).alias("_toks")
    )
    # chunk start offsets: 0, stride, 2·stride, … while start < n_tokens
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(stride)),
        lambda s: s < F.size(toks),
    )
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_idx"),
            s.alias("start_token"),
            F.least(F.size(toks) - s, F.lit(window)).alias("n_tokens"),
            F.md5(F.array_join(F.slice(toks, s + 1, window), " ").cast("binary")).alias(
                "chunk_md5"
            ),
        ),
    )
    return staged.select(F.col(id_col), F.explode(chunks).alias("_c")).select(
        F.col(id_col),
        F.col("_c.chunk_idx").cast("int").alias("chunk_idx"),
        F.col("_c.start_token").cast("int").alias("start_token"),
        F.col("_c.n_tokens").cast("int").alias("n_tokens"),
        F.col("_c.chunk_md5").alias("chunk_md5"),
    )


def bigram_rarity(
    docs: DataFrame, id_col: str, text_col: str, rare_max: int = 2
) -> DataFrame:
    """Corpus-trained bigram-rarity quality score — the shape of a
    CCNet/KenLM perplexity filter without an external model: train
    bigram statistics on the corpus itself, then score each document
    by the fraction of its bigrams that are RARE corpus-wide (count ≤
    ``rare_max``). Gibberish, boilerplate mashups, and OCR noise are
    dominated by bigrams the corpus has never otherwise seen;
    fluent prose re-uses common transitions. Output: (id, n_bigrams,
    rare_ratio ∈ [0,1], NULL for docs with <2 alpha tokens).

    Deliberately integer-exact (counts + ONE terminal rounded
    division) rather than a log-prob sum: summing floating-point logs
    is association-order-dependent, which would make the score differ
    between engines/run plans — this score is bit-stable anywhere.

    Scale shape: tokenize map-side ONCE — the exploded doc-bigram
    table feeds both the corpus count aggregation and the per-doc
    score join, so it is persisted DISK_ONLY (un-persisted, the
    dominant tokenize/split/explode subtree would run twice per
    query). persist, not localCheckpoint: it is LAZY (building the
    plan costs nothing until an action runs), evictable, and
    recomputable on executor loss — checkpoint blocks of a
    corpus-VOLUME table would be eagerly materialized at call time
    and unrecoverable when an executor dies, exactly wrong at 100 TB.
    Then one (w1,w2) count shuffle whose cardinality is the corpus
    bigram VOCABULARY (not volume), one shuffle join of doc-bigrams
    against those counts, one per-doc aggregation. No driver state, no
    broadcast of unbounded maps."""
    from pyspark import StorageLevel

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda x: x != ""
    )
    t = ensure_min_parallelism(docs).select(F.col(id_col), toks.alias("_toks"))
    n = F.size(F.col("_toks"))
    pairs = F.arrays_zip(
        F.slice(F.col("_toks"), 1, n - 1).alias("w1"),
        F.slice(F.col("_toks"), 2, n - 1).alias("w2"),
    )
    bg = (
        t.where(n >= 2)
        .select(F.col(id_col), F.explode(pairs).alias("_bg"))
        .select(F.col(id_col), F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
        .persist(StorageLevel.DISK_ONLY)
    )
    counts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_bc"))
    scored = (
        bg.join(counts, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum((F.col("_bc") <= rare_max).cast("long")).alias("_rare"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.round(F.col("_rare") / F.col("n_bigrams"), 6).alias("rare_ratio"),
        )
    )
    # docs with <2 tokens: present with NULLs (a filter would silently
    # drop them from a quality report)
    return (
        t.select(id_col)
        .join(scored, id_col, "left")
        .select(id_col, "n_bigrams", "rare_ratio")
    )


def token_entropy(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document Shannon entropy of the token histogram —
    H = ln(n) − (1/n)·Σ_types c·ln(c) — the classic repetitiveness /
    information-density quality feature (low H = boilerplate or
    keyword stuffing; complements repetition_metrics' n-gram ratios
    and the type-token diversity diagnostics by weighting types by
    FREQUENCY). Output: (id, n_tokens, n_types, entropy).

    First per-row cross-engine transcendental in the text family,
    enabled by detmath (round-9): every ln is the fixed-precision
    IEEE-only series, so Spark and a DuckDB oracle produce
    bit-identical doubles. Float-sum ORDER across types would still
    diverge between engines, so the per-type terms are quantized to
    integer nanos (floor(x·1e9 + 0.5) — exact on both engines; terms
    are >= 0) and summed as exact integers, the DSIR discipline. The
    quantized term stays under 2^53 for per-type counts up to ~6.5e5
    and detln's range covers counts to 2^20 — beyond that the result
    degrades in accuracy, never in determinism.

    Scale shape: one groupBy(id, tok) count, map-side detln
    expressions, one groupBy(id) integer sum — linear, no joins, no
    driver state."""
    from orestes_spark import detmath

    tc = (
        docs.select(F.col(id_col).alias("_id"), F.explode(_tokens(F.col(text_col))).alias("tok"))
        .groupBy("_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("cd", F.col("c").cast("double"))
    )
    tc = detmath.apply_steps_spark(tc, detmath.detln_steps("cd", "lnc"))
    tc = tc.withColumn(
        "term", F.floor(F.col("cd") * F.col("lnc") * 1e9 + 0.5).cast("long")
    )
    agg = tc.groupBy("_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum("term").alias("_s"),
    ).withColumn("nd", F.col("n_tokens").cast("double"))
    agg = detmath.apply_steps_spark(agg, detmath.detln_steps("nd", "lnn"))
    return agg.select(
        F.col("_id").alias(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        F.round(
            F.col("lnn") - (F.col("_s").cast("double") / 1e9) / F.col("nd"), 6
        ).alias("entropy"),
    )


def gopher_rules(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 10,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-style named-rule quality filter (Rae et al. 2021 §A1.1,
    adapted to the whitespace-token world): per-doc boolean verdict
    plus WHICH rules failed — the auditable form a production filter
    needs (quality_scores gives the raw gate columns; this gives the
    decision and its reasons). Rules:

      word_count     min_words <= n <= max_words
      mean_word_len  3 <= total_chars/n <= 10
      symbol_ratio   tokens with no [a-z0-9] are < 10% of tokens
      alpha_frac     tokens containing a letter are >= 80% of tokens
      max_word_len   longest token <= 30 chars (runaway strings)

    Every threshold is compared in INTEGER form (e.g. mean word
    length in [3,10] is ``3n <= chars AND chars <= 10n``), so there
    is no float boundary for engines to disagree on — the verdict
    columns hash-match a SQL twin exactly. One scan, higher-order
    array expressions, no joins or shuffles. Output: (id, n_tokens,
    n_rules_failed, failed_rules CSV — empty when keep, keep)."""
    toks = _tokens(F.col(text_col))

    def verdicts(tk: F.Column) -> F.Column:
        n = F.size(tk)
        chars = F.length(F.concat_ws("", tk))
        n_symbol = F.size(F.filter(tk, lambda x: ~x.rlike("[a-z0-9]")))
        n_alpha = F.size(F.filter(tk, lambda x: x.rlike("[a-z]")))
        max_len = F.array_max(F.transform(tk, F.length))
        fails = F.array(
            F.when((n < min_words) | (n > max_words), F.lit("word_count")),
            F.when((chars < 3 * n) | (chars > 10 * n), F.lit("mean_word_len")),
            F.when(10 * n_symbol >= n, F.lit("symbol_ratio")),
            F.when(5 * n_alpha < 4 * n, F.lit("alpha_frac")),
            F.when(max_len > 30, F.lit("max_word_len")),
        )
        return F.struct(
            n.alias("n"),
            F.filter(fails, lambda x: x.isNotNull()).alias("failed"),
        )

    v = bind(toks, verdicts)
    return ensure_min_parallelism(docs).select(
        F.col(id_col),
        v["n"].cast("long").alias("n_tokens"),
        F.size(v["failed"]).cast("int").alias("n_rules_failed"),
        F.concat_ws(",", v["failed"]).alias("failed_rules"),
        (F.size(v["failed"]) == 0).alias("keep"),
    )


def train_bpe(
    docs: DataFrame, id_col: str, text_col: str, num_merges: int = 12
) -> DataFrame:
    """Train a REAL byte-pair-encoding merge table on the corpus
    (round-10 verdict #6 — ``bpe_ish`` counts token pieces with a
    rank-free regex; mixture planning and packing are denominated in
    tokens, so heuristic counts drift from real tokenizers). Classic
    Sennrich-style training over the word-TYPE table: start from
    per-character symbols, then ``num_merges`` rounds of (count
    adjacent symbol pairs weighted by word frequency → pick the most
    frequent, ties by (left, right) binary order → merge it
    everywhere). Output: (rank, left, right, merged) — the persistable
    tokenizer artifact.

    Scale shape: each round is ONE distributed pair-count aggregation
    over the word-type table (|vocabulary| rows, not corpus tokens —
    types are counted once up front) plus a 1-row argmax collect;
    merge application is a single codegen'd string ``replace`` on the
    padded symbol string. Rounds are bounded by ``num_merges``; the
    type table is localCheckpointed per round so lineage stays flat.

    Determinism across engines, engineered like the rest of the
    module: symbols live in a space-padded string (`` a b c ``), a
    merge applies as ``replace(s, ' l r ', ' lr ')`` — Spark's
    StringReplace and DuckDB's replace share left-to-right
    non-overlapping scan-past-the-replacement semantics, so both
    engines segment identically (this differs from canonical BPE only
    inside symbol RUNS like ``aaaa``, where one round merges the
    first pair then skips the shared neighbor; the planted-case test
    pins the behavior). Pair counts are exploded adjacent pairs
    (overlaps counted, the canonical get_stats rule); the argmax is
    integer counts + binary string order — no float anywhere."""
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1: {num_merges}")
    spark = docs.sparkSession
    types = (
        docs.select(F.explode(_tokens(F.col(text_col))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.concat(F.lit(" "), F.regexp_replace(F.col("w"), "(.)", "$1 ")).alias("s"),
            "cnt",
        )
        # the type table is vocabulary-sized (tiny next to the corpus);
        # 12 rounds × 32 near-empty tasks is pure scheduler overhead,
        # so shrink it once before the round loop
        .coalesce(4)
        .localCheckpoint(eager=False)  # round-12: round 1's pair-count
        # aggregate materializes it (the per-round piggyback below)
    )
    merges: list[tuple[int, str, str, str]] = []
    for rank in range(int(num_merges)):
        toks = types.select("cnt", F.split(F.trim(F.col("s")), " ").alias("t"))
        pairs = toks.select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice(F.col("t"), 1, F.size("t") - 1),
                    F.slice(F.col("t"), 2, F.size("t") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:
            raise ValueError(
                f"corpus exhausted after {rank} merges — every word is a"
                f" single symbol; ask for num_merges <= {rank}"
            )
        l, r = best[0]["l"], best[0]["r"]
        merges.append((rank, l, r, l + r))
        # round-12 opt: LAZY per-round checkpoint. The eager form ran a
        # dedicated materialization job per round (12 extra jobs per
        # training run) just to pin one codegen'd string replace;
        # eager=False keeps the lineage truncation but lets the NEXT
        # round's argmax job materialize the checkpoint as a side
        # effect — one job per round instead of two (measured 4.39 vs
        # 4.75 s min-of-4 under matched low-steal weather). Dropping
        # the checkpoint entirely was measured WORSE (5.3-8.2 s): the
        # growing replace chain re-plans and re-compiles per round.
        types = types.select(
            F.replace(F.col("s"), F.lit(f" {l} {r} "), F.lit(f" {l}{r} ")).alias("s"),
            "cnt",
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges, "rank INT, left STRING, right STRING, merged STRING"
    )


def bpe_segment_counts(
    docs: DataFrame, merges: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Apply a trained merge table (``train_bpe``) and count real BPE
    tokens per document: (id, n_words, n_bpe_tokens). Application is
    the collected merge list (tiny — the tokenizer artifact) chained
    as codegen'd ``replace`` calls over each word's padded symbol
    string — pure JVM expressions per word occurrence, zero joins,
    one final groupBy(id)."""
    rows = sorted(
        ((r["rank"], r["left"], r["right"]) for r in merges.collect()),
    )
    s = F.concat(F.lit(" "), F.regexp_replace(F.col("w"), "(.)", "$1 "))
    for _, l, r in rows:
        s = F.replace(s, F.lit(f" {l} {r} "), F.lit(f" {l}{r} "))
    return (
        docs.select(F.col(id_col).alias("_id"), F.explode(_tokens(F.col(text_col))).alias("w"))
        .where(F.col("w") != "")
        .select("_id", F.size(F.split(F.trim(s), " ")).alias("nsym"))
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("nsym").alias("n_bpe_tokens"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
    )


def train_quality_model(
    docs: DataFrame,
    labels: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str = "label",
    buckets: int = 4096,
    salt: str = "qm",
    bigrams: bool = False,
) -> DataFrame:
    """Train the MODEL-BASED quality classifier — the trained-scorer
    layer every production pretraining pipeline runs on top of the
    heuristic stack (GPT-3 appendix A; DCLM, Li et al. 2024;
    FineWeb-Edu): a Naive-Bayes log-odds model over hashed n-gram
    features, the linear-classifier shape fastText (Joulin et al.
    2016) popularized for reference-vs-crawl filtering. ``labels``
    is the labeled seed — (id, label BOOLEAN), label TRUE =
    reference-quality — typically a curated corpus vs a raw-crawl
    sample; only ids present in ``labels`` train the model.

    Output is a self-describing, persistable model artifact of
    ``buckets`` rows: (bucket, wq, pq, nb, bg, salt) where ``wq`` =
    nano-quantized ln(P(bucket|pos)/P(bucket|neg)) under add-one
    smoothed multinomials (EXACTLY the DSIR codebook —
    ``sampling.dsir_weight_table(pos, neg)`` is reused verbatim, so
    the classifier and the importance sampler share one featurization
    and one cross-engine determinism proof), ``pq`` = the
    nano-quantized class-prior log-odds ln((n_pos+1)/(n_neg+1)), and
    ``nb``/``bg``/``salt`` pin the bucket modulus / feature set /
    hash salt so scoring can never silently featurize differently
    than training (the span index's ``nb`` convention). ~64 KiB at
    the default 4096 buckets — broadcastable anywhere.

    Determinism: every ln runs ONCE on the driver over integer counts
    (CPython libm == DuckDB libm — the proven dsir recipe); all
    distributed work is integer counting. Raises when either class is
    empty — a one-class "classifier" is a constant, not a model."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from orestes_spark.operators.sampling import dsir_weight_table

    lab = labels.select(
        F.col(id_col).alias("_lid"), F.col(label_col).cast("boolean").alias("_lab")
    )
    # one compute for three consumers (two class splits feed
    # dsir_weight_table, plus the class counts — review round-10: the
    # join otherwise re-executes per action)
    seed = docs.join(lab, F.col(id_col) == F.col("_lid")).localCheckpoint(
        eager=False
    )  # round-12: the class-count collect below materializes it
    by_class = {r["_lab"]: r["n"] for r in seed.groupBy("_lab").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_pos, n_neg = by_class.get(True, 0), by_class.get(False, 0)
    if n_pos == 0 or n_neg == 0:
        raise ValueError(
            f"quality model needs BOTH classes in the labeled seed: got"
            f" {n_pos} positive / {n_neg} negative rows after joining"
            f" labels onto docs"
        )
    w = dsir_weight_table(
        seed.where(F.col("_lab")),
        seed.where(~F.col("_lab")),
        id_col,
        text_col,
        buckets=buckets,
        salt=salt,
        bigrams=bigrams,
    )
    pq = int(
        Decimal(math.log((n_pos + 1) / (n_neg + 1)) * 1e9).quantize(
            Decimal(1), rounding=ROUND_HALF_UP
        )
    )
    return w.select(
        "bucket",
        "wq",
        F.lit(pq).cast("long").alias("pq"),
        F.lit(int(buckets)).alias("nb"),
        F.lit(1 if bigrams else 0).alias("bg"),
        F.lit(salt).alias("salt"),
    )


def score_quality_model(docs: DataFrame, model: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Score every document with a trained quality model
    (``train_quality_model``): nb_logodds = prior + Σ_features
    ln-odds(bucket), keep = nb_logodds >= 0 — the per-doc verdict a
    DCLM-style pipeline thresholds on. Featurization (bucket modulus,
    unigram/bigram set, hash salt) is read from the model's
    self-describing columns; a model frame mixing configurations
    raises instead of silently mis-hashing.

    Scale shape: the model is a ``buckets``-row broadcast; scoring is
    one token explode → hash → broadcast join → per-doc INTEGER sum
    (map-side combinable) with one final display round — no ln ever
    evaluates in the distributed plan, so the scores hash-match a SQL
    twin bit-for-bit. keep is decided on the integer sum (no float
    boundary).

    TOTAL over the input (review round-10): every doc in ``docs``
    gets a verdict row. A doc whose tokenization yields no feature
    rows at all (NULL text — an empty string still yields one empty
    token) scores PRIOR-ONLY, the principled Naive-Bayes answer for
    zero evidence; without this, a no-feature doc silently vanished
    from the output and sailed through any gate built on it."""
    from orestes_spark.operators.sampling import _dsir_toks, _hash_bucket

    meta = model.select("nb", "pq", "bg", "salt").distinct().collect()
    if len(meta) != 1:
        raise ValueError(
            f"model frame mixes {len(meta)} featurization configs"
            " (distinct nb/pq/bg/salt rows) — pass exactly one trained model"
        )
    nb, pq, bg, salt = meta[0]["nb"], meta[0]["pq"], meta[0]["bg"], meta[0]["salt"]
    n_col = "n_feats" if bg else "n_tokens"
    # Round-12 opt (guide §2.4): total coverage used to be a distinct
    # id frame LEFT-joined onto the aggregated scores — one extra
    # corpus exchange plus a sort-merge join whose only job was
    # re-attaching prior-only rows. The outer token explode keeps a
    # (id, NULL) row for zero-feature docs, the model join flips to
    # LEFT, and count(wq) reproduces the inner join's row count
    # (model weights are never null) — so ONE groupBy covers every
    # doc and the join-back disappears.
    toks = _dsir_toks(docs, id_col, text_col, bool(bg), total=True).select(
        "_id", _hash_bucket(F.col("tok"), salt, nb).alias("bucket")
    )
    scored = (
        toks.join(F.broadcast(model.select("bucket", "wq")), "bucket", "left")
        .groupBy("_id")
        .agg(F.count("wq").alias(n_col), F.sum("wq").alias("_s"))
    )
    total = F.lit(int(pq)) + F.coalesce(F.col("_s"), F.lit(0))
    return scored.select(
        F.col("_id").alias(id_col),
        F.coalesce(F.col(n_col), F.lit(0)).cast("long").alias(n_col),
        F.round(total.cast("double") / 1e9, 6).alias("nb_logodds"),
        (total >= 0).alias("keep"),
    )


def quality_model_scores(
    docs: DataFrame,
    labels: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str = "label",
    buckets: int = 4096,
    salt: str = "qm",
    bigrams: bool = False,
) -> DataFrame:
    """Train-and-score in one call: the complete model-based quality
    gate (train_quality_model → score_quality_model). Train on the
    labeled seed, score EVERY doc in ``docs`` — including held-out
    ones, which is the point: the model generalizes the seed labels
    to the rest of the corpus through token-distribution similarity."""
    model = train_quality_model(
        docs, labels, id_col, text_col, label_col, buckets, salt, bigrams
    )
    return score_quality_model(docs, model, id_col, text_col)


def quality_model_eval(
    docs: DataFrame,
    labels: DataFrame,
    model: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str = "label",
) -> DataFrame:
    """ONE-row separation report for a trained quality model
    (round-11, VERDICT r10 #9): the confusion matrix and
    precision / recall / accuracy of the model's ``keep`` verdict
    against the labeled fixtures at the deployed threshold
    (integer-sum >= 0) — the number an operator needs before
    trusting the model as ingest gate 5. Output: (n_labeled, tp, fp,
    fn, tn, precision, recall, accuracy); ratios round by the
    integer half-away identity (counts hit exact float-round ties)
    and a zero denominator yields NULL rather than a fabricated 0.

    Scale shape: score only the labeled slice (one broadcast-model
    scoring pass), join verdicts back to labels on the id, then ONE
    global aggregate of four conditional counts — the single-row
    reduce is the only non-map-side step."""
    lab = labels.select(
        F.col(id_col).alias("_eid"), F.col(label_col).cast("boolean").alias("_lab")
    )
    labeled = docs.join(lab, F.col(id_col) == F.col("_eid"), "left_semi")
    scored = score_quality_model(labeled, model, id_col, text_col)
    j = scored.join(lab, F.col(id_col) == F.col("_eid")).select("keep", "_lab")
    cm = j.agg(
        F.count(F.lit(1)).alias("n_labeled"),
        F.sum(F.when(F.col("keep") & F.col("_lab"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("keep") & ~F.col("_lab"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("keep") & F.col("_lab"), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(~F.col("keep") & ~F.col("_lab"), 1).otherwise(0)).alias("tn"),
    )

    def ratio(num: str, den: str) -> F.Column:
        return F.expr(
            f"case when ({den}) = 0 then null else"
            f" ((2 * ({num}) * 1000000 + ({den})) div (2 * ({den}))) / 1e6 end"
        )

    return cm.select(
        F.col("n_labeled").cast("long").alias("n_labeled"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("tn").cast("long").alias("tn"),
        ratio("tp", "tp + fp").alias("precision"),
        ratio("tp", "tp + fn").alias("recall"),
        ratio("tp + tn", "n_labeled").alias("accuracy"),
    )


# ------------------------------------------------ trained bigram LM ---


def _bigram_id_pairs(docs: DataFrame, id_col: str, text_col: str, vocab: dict[str, int]) -> DataFrame:
    """(_id, p, c) — consecutive-token bigrams mapped through the
    vocab (OOV -> id 0): the zip-shift idiom forms the pairs in the
    scan (behind the module's input-parallelism scan guard — a
    compacted single-row-group parquet would otherwise explode every
    token on one partition), the 256-entry literal map resolves ids
    with no join."""
    split_expr = F.split(normalize_text(F.col(text_col)), r"\s+")

    def pairs(tk: F.Column) -> F.Column:
        m = F.size(tk)
        return F.when(
            m >= 2,
            F.zip_with(
                F.slice(tk, 1, m - 1),
                F.slice(tk, 2, m - 1),
                lambda a, c: F.struct(a.alias("pt"), c.alias("ct")),
            ),
        )

    exploded = ensure_min_parallelism(docs).select(
        F.col(id_col).alias("_id"), F.explode(bind(split_expr, pairs)).alias("pr")
    )
    vmap = F.create_map(*[F.lit(x) for kv in vocab.items() for x in kv])
    return exploded.select(
        "_id",
        F.coalesce(vmap[F.col("pr.pt")], F.lit(0)).alias("p"),
        F.coalesce(vmap[F.col("pr.ct")], F.lit(0)).alias("c"),
    )


def train_bigram_lm(
    target: DataFrame, id_col: str, text_col: str, vocab_size: int = 256
):
    """Train a bigram language model on the reference corpus — the
    deterministic stand-in for the KenLM n-gram models CCNet (Wenzek
    et al. 2020) filters crawls with: top-``vocab_size`` unigram vocab
    (count desc, token asc — a total order both engines share; OOV is
    id 0), bigram counts over vocab ids, add-one smoothing over the
    nominal V+1 alphabet, p(c|p) = (cnt(p,c)+1) / (ctx(p)+V+1).

    Returns (vocab, pairs_df, fallback_df): the tok -> id dict, then
    (p, c, wq) for OBSERVED bigrams and (p, fq) for the per-context
    unseen-pair floor, the frames carrying
    nano-quantized ln probabilities computed ONCE on the driver
    (CPython libm == DuckDB libm — the dsir discipline; no
    distributed plan ever evaluates ln). Bounded driver state BY
    CONSTRUCTION, not by corpus size: distinct id pairs can never
    exceed (V+1)^2 = ~66k at the default, however large the training
    corpus — the groupBy reduces corpus tokens to at most that many
    rows before the collect."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    spark = target.sparkSession
    v_rows = (
        ensure_min_parallelism(target).select(
            F.explode(F.split(normalize_text(F.col(text_col)), r"\s+")).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(vocab_size)
        .collect()
    )
    vocab = {r["tok"]: i + 1 for i, r in enumerate(v_rows)}
    counts = {
        (r["p"], r["c"]): r["cc"]
        for r in _bigram_id_pairs(target, id_col, text_col, vocab)
        .groupBy("p", "c")
        .agg(F.count(F.lit(1)).alias("cc"))
        .collect()
    }
    ctx: dict[int, int] = {}
    for (p, _c), cc in counts.items():
        ctx[p] = ctx.get(p, 0) + cc
    denom_add = vocab_size + 1

    def nano_ln(x: float) -> int:
        return int(Decimal(math.log(x) * 1e9).quantize(Decimal(1), rounding=ROUND_HALF_UP))

    pair_rows = [
        (p, c, nano_ln((cc + 1) / (ctx[p] + denom_add))) for (p, c), cc in counts.items()
    ]
    fb_rows = [
        (p, nano_ln(1 / (ctx.get(p, 0) + denom_add))) for p in range(vocab_size + 1)
    ]
    pairs_df = spark.createDataFrame(pair_rows or [(0, 0, 0)], "p INT, c INT, wq LONG")
    if not pair_rows:  # degenerate empty-target model: no observed pairs
        pairs_df = pairs_df.where(F.lit(False))
    fb_df = spark.createDataFrame(fb_rows, "p INT, fq LONG")
    return vocab, pairs_df, fb_df


def bigram_lm_nll(
    docs: DataFrame,
    target: DataFrame | None,
    id_col: str,
    text_col: str,
    vocab_size: int = 256,
    model: tuple | None = None,
) -> DataFrame:
    """Per-document average negative log-likelihood under a bigram LM
    trained on ``target`` — the CCNet perplexity filter's score (low
    avg_nll = fluent/reference-like; high = noise), as a first-class
    corpus operator. Output: (id, n_bigrams, avg_nll) for every doc
    with >= 2 tokens; avg_nll is in nats (log-perplexity — exp is
    monotone, so gating on avg_nll IS gating on perplexity).

    Determinism: token-level work is exact integer sums of the
    nano-quantized driver-side ln codebook (train_bigram_lm); the
    per-doc average rounds by the integer half-away identity — real
    nano sums land on exact half-micro ties where float round()
    diverges across engines. Scale shape: one scan of the corpus
    (bigrams formed in the scan, ids via a literal map), two
    broadcast joins against the <=66k-row codebook, one groupBy(doc)
    — linear, shuffle only on the doc key.

    Pass ``model`` (a train_bigram_lm result) to score against a
    PRETRAINED codebook — the persisted-index shape: the LM is an
    artifact trained once and read by every consumer, not retrained
    per query; ``target`` is ignored (and may be None) then."""
    if model is not None:
        vocab, pairs_df, fb_df = model
    else:
        if target is None:
            raise ValueError(
                "bigram_lm_nll: pass target (to train) or model (pretrained)"
            )
        vocab, pairs_df, fb_df = train_bigram_lm(target, id_col, text_col, vocab_size)
    scored = (
        _bigram_id_pairs(docs, id_col, text_col, vocab)
        .join(F.broadcast(pairs_df), ["p", "c"], "left")
        .join(F.broadcast(fb_df), ["p"])
        .select("_id", F.coalesce(F.col("wq"), F.col("fq")).alias("w"))
    )
    agg = scored.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.sum("w").alias("s")
    )
    return agg.select(
        F.col("_id").alias(id_col),
        "n_bigrams",
        (
            F.expr("(2 * (-s) + n_bigrams * 1000) div (2 * n_bigrams * 1000)").cast(
                "double"
            )
            / F.lit(1_000_000.0)
        ).alias("avg_nll"),
    )
