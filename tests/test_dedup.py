"""Dedup operator tests with planted duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orestes_spark.operators import dedup

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy cat again and again today"
OTHER = "completely different content about spark query engines and shuffles here"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),          # exact dup of 1
        (3, NEAR),          # near dup of 1 (one token changed)
        (4, OTHER),
        (5, "tiny doc"),    # < 3 tokens: no shingles
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_exact_dedup(docs):
    rows = {r["keeper_id"]: r["n_copies"] for r in dedup.exact_dedup(docs, "doc_id", "text").collect()}
    assert rows[1] == 2  # docs 1+2 collapse
    assert rows[3] == 1 and rows[4] == 1


def test_minhash_lsh_finds_planted_pair(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0  # exact dup always survives LSH
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert all(4 not in p and 5 not in p for p in pairs)


def test_ngram_jaccard_finds_planted_pair(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_dedup(docs, "doc_id", "text", threshold=0.7).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs
    assert all(4 not in p for p in pairs)


def test_ngram_max_df_drops_stop_shingles(spark):
    # every doc shares 'aaaaa'; with max_df=1 that shingle can't join
    rows = [(i, "aaaaa unique%d" % i) for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = dedup.ngram_jaccard_dedup(docs, "doc_id", "text", threshold=0.1, max_df=1)
    assert out.count() == 0


def test_simhash_lane_fast_path_matches_reference_model(spark):
    """Round-12: the byte-lane vote fold must reproduce the reference
    SimHash bit for bit — md5 paths (both widths) pinned against an
    independent Python model of the hex-digit-parity votes, on short
    docs (fast path), a 300-token doc (>=256 fallback path), a
    single-token doc, and an empty string; and the xxhash64 path must
    give one signature for exact-dup texts regardless of which fold
    branch ran."""
    import hashlib

    def ref_sig(text, bits):
        import re as _re

        # mirror split(trim(lower(.)), '\s+') exactly: Spark's split
        # of an empty string yields [''], one empty token
        toks = _re.split(r"\s+", text.strip().lower())
        votes = [0] * bits
        for t in toks:
            digits = hashlib.md5(f"sh:{t}".encode()).hexdigest()
            if bits > 32:
                digits += hashlib.md5(f"sh2:{t}".encode()).hexdigest()
            for i in range(bits):
                votes[i] += 1 if int(digits[i], 16) % 2 == 1 else -1
        sig = 0
        for i in range(bits):
            if votes[i] >= 0:
                w = -(2**63) if i == 63 else 2**i
                sig += w
        return sig

    texts = [
        "alpha beta gamma delta epsilon",
        "one",
        " ".join(f"tok{i % 17}" for i in range(300)),  # >=256: slow branch
        "x " * 255,  # 255 tokens: largest fast-branch doc
        "",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    for bits in (32, 64):
        got = {
            r["_id"]: r["simhash"]
            for r in dedup.simhash_signatures(df, "doc_id", "text", bits=bits).collect()
        }
        for i, t in enumerate(texts):
            assert got[i] == ref_sig(t, bits), (bits, i, got[i], ref_sig(t, bits))
    # xxhash64 path: exact dups agree across branch boundary lengths
    long_dup = " ".join(f"w{i % 5}" for i in range(300))
    short_dup = "w0 w1 w2 w3 w4"
    df2 = spark.createDataFrame(
        [(0, long_dup), (1, long_dup), (2, short_dup), (3, short_dup)],
        "doc_id LONG, text STRING",
    )
    xs = {
        r["_id"]: r["simhash"]
        for r in dedup.simhash_signatures(
            df2, "doc_id", "text", bits=64, hash_fn="xxhash64"
        ).collect()
    }
    assert xs[0] == xs[1] and xs[2] == xs[3]


def test_simhash_exact_dup_distance_zero(docs):
    sig = dedup.simhash_signatures(docs, "doc_id", "text")
    sigs = {r["_id"]: r["simhash"] for r in sig.collect()}
    assert sigs[1] == sigs[2]
    assert 0 <= sigs[1] < 2**32
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in dedup.simhash_near_pairs(sig).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3


def test_simhash_64bit_cuts_candidate_volume(spark, docs):
    """Wider signatures: exact dups still collide (hamming 0), and on a
    shared-vocab corpus 64-bit/16-bit bands emit far fewer pairs than
    32-bit/8-bit bands at the same max_hamming."""
    sig64 = dedup.simhash_signatures(docs, "doc_id", "text", bits=64)
    sigs = {r["_id"]: r["simhash"] for r in sig64.collect()}
    assert sigs[1] == sigs[2]  # exact dup → identical 64-bit signature
    pairs64 = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_pairs(sig64, bits=64, band_bits=16).collect()
    }
    assert pairs64[(1, 2)] == 0

    corpus = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", "text")
    )
    n32 = dedup.simhash_near_pairs(
        dedup.simhash_signatures(corpus, "doc_id", "text", bits=32)
    ).count()
    n64 = dedup.simhash_near_pairs(
        dedup.simhash_signatures(corpus, "doc_id", "text", bits=64), bits=64, band_bits=16
    ).count()
    assert n64 < n32


def test_simhash_param_validation():
    with pytest.raises(ValueError):
        dedup.simhash_signatures(None, "doc_id", "text", bits=65)
    with pytest.raises(ValueError):
        dedup.simhash_signatures(None, "doc_id", "text", hash_fn="sha9000")
    with pytest.raises(ValueError):
        dedup.simhash_near_pairs(None, max_hamming=4, bits=32, band_bits=8)


def test_simhash_xxhash_fast_path(docs):
    """The xxhash64 production path: deterministic, exact dups collide,
    near dups stay near."""
    sig = dedup.simhash_signatures(docs, "doc_id", "text", bits=64, hash_fn="xxhash64")
    sigs = {r["_id"]: r["simhash"] for r in sig.collect()}
    again = {r["_id"]: r["simhash"] for r in sig.collect()}
    assert sigs == again
    assert sigs[1] == sigs[2]
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_pairs(sig, bits=64, band_bits=16).collect()
    }
    assert pairs[(1, 2)] == 0


def test_shingles_skip_short_docs(docs):
    sh = dedup.token_shingles(docs, "doc_id", "text")
    assert sh.where("_id = 5").count() == 0


def test_benchmark_overlap_flags_contaminated(spark, docs):
    """Doc 1 is the 'benchmark'; its exact dup (2) and near dup (3)
    share 4-grams with it and must be flagged; OTHER (4) must not."""
    bench = spark.createDataFrame([(1,)], "doc_id LONG")
    hits = {
        r["doc_id"]: r["n_overlap"]
        for r in dedup.benchmark_overlap(docs, "doc_id", "text", bench, n=4).collect()
    }
    assert 2 in hits and hits[2] > 0
    assert 3 in hits and hits[3] > 0  # shares the unchanged prefix 4-grams
    assert 4 not in hits
    assert 1 not in hits  # the benchmark itself is excluded


def test_connected_components_chains_transitively(spark):
    from orestes_spark.operators import dedup

    # a-b, b-c chain + isolated pair (x, y): c must join a's component
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a LONG, id_b LONG"
    )
    got = {r["node"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_long_path_and_cap(spark, monkeypatch):
    from orestes_spark.operators import dedup

    path = spark.createDataFrame([(i, i + 1) for i in range(8)], "id_a LONG, id_b LONG")
    got = {r["node"]: r["component"] for r in dedup.connected_components(path).collect()}
    assert set(got.values()) == {0} and len(got) == 9
    import pytest

    # the convergence cap is the DISTRIBUTED loop's contract (the
    # round-12 driver fast path always converges); force that path
    monkeypatch.setattr(dedup, "_DRIVER_CC_MAX_EDGES", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(path, max_iterations=2)


def test_connected_components_driver_path_matches_distributed(spark, monkeypatch):
    """Round-12: the size-guarded driver union-find must label
    exactly like the distributed min-label loop — chains, merging
    branches, duplicate and reversed edges, self-pairs, isolates."""
    from orestes_spark.operators import dedup

    edges = [
        (5, 2), (2, 9), (9, 5),        # cycle, min 2
        (1, 7), (7, 1), (1, 1),        # dup + reversed + self, min 1
        (20, 21), (22, 21),            # V-merge, min 20
        (30, 31),
    ]
    pairs = spark.createDataFrame(edges, "id_a LONG, id_b LONG")
    fast = {r["node"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    monkeypatch.setattr(dedup, "_DRIVER_CC_MAX_EDGES", 0)
    slow = {r["node"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert fast == slow
    assert fast[9] == 2 and fast[22] == 20 and fast[31] == 30


def test_connected_components_null_edge_raises_on_both_paths(spark, monkeypatch):
    """A NULL id is an error, never a silently dropped edge (the
    distributed loop's equi-joins never match a NULL key): both the
    driver union-find and the distributed path must refuse it."""
    from orestes_spark.operators import dedup

    for edges in ([(1, 2), (2, None)], [(1, 2), (None, 3)]):
        pairs = spark.createDataFrame(edges, "id_a LONG, id_b LONG")
        for cap in (dedup._DRIVER_CC_MAX_EDGES, 0):  # driver, then distributed
            monkeypatch.setattr(dedup, "_DRIVER_CC_MAX_EDGES", cap)
            with pytest.raises(Exception, match="NULL id in pair column"):
                dedup.connected_components(pairs).collect()


def test_simhash_hot_bucket_cap_bounds_pair_fanout(spark):
    from pyspark.sql import functions as F

    from orestes_spark.operators.dedup import simhash_near_pairs

    # 200 identical signatures: every band bucket is pathological-hot.
    sig = spark.range(200).select(
        F.col("id").cast("string").alias("_id"), F.lit(12345).cast("long").alias("simhash")
    )
    capped = simhash_near_pairs(sig, max_hamming=3, bits=32, band_bits=8, max_bucket=50)
    assert capped.count() == 0  # hot buckets dropped, no O(n^2) fan-out
    uncapped = simhash_near_pairs(sig, max_hamming=3, bits=32, band_bits=8, max_bucket=None)
    assert uncapped.count() == 200 * 199 // 2  # oracle-exact configuration

    # a normal-sized bucket still yields its pairs under the cap
    small = spark.range(5).select(
        F.col("id").cast("string").alias("_id"), F.lit(777).cast("long").alias("simhash")
    )
    assert simhash_near_pairs(small, max_bucket=50).count() == 5 * 4 // 2


def test_candidate_pairs_min_cooccur(spark):
    # (1,2) share two buckets, (1,3) share one: min_cooccur=2 keeps
    # only the repeat co-occurrence, the pruning knob the ngram path
    # relies on.
    banded = spark.createDataFrame(
        [("b1", 1), ("b1", 2), ("b2", 1), ("b2", 2), ("b3", 1), ("b3", 3)],
        "bval STRING, _id INT",
    )
    all_pairs = dedup.candidate_pairs(banded, ["bval"])
    assert {(r.id_a, r.id_b) for r in all_pairs.collect()} == {(1, 2), (1, 3)}
    co2 = dedup.candidate_pairs(banded, ["bval"], min_cooccur=2)
    assert {(r.id_a, r.id_b) for r in co2.collect()} == {(1, 2)}


def test_incremental_neardup_against_persisted_index(spark, docs, tmp_path):
    # corpus = {1 BASE, 4 OTHER, 5 tiny}; new batch = {2 exact dup of
    # 1, 3 near dup of 1}. Both new docs must match corpus doc 1;
    # the in-batch pair (2,3) must NOT be reported.
    corpus = docs.where("doc_id in (1, 4, 5)")
    new = docs.where("doc_id in (2, 3)")
    path = str(tmp_path / "bands")
    dedup.minhash_band_index(corpus, "doc_id", "text").write.parquet(path)
    index = spark.read.parquet(path)
    out = {
        (r.id_new, r.id_corpus): r.jaccard
        for r in dedup.incremental_neardup(
            new, corpus, index, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert out[(2, 1)] == 1.0
    assert (3, 1) in out and 0.5 <= out[(3, 1)] < 1.0
    assert all(corpus_id == 1 for _, corpus_id in out)


def test_incremental_neardup_matches_full_dedup_cross_pairs(spark):
    """Equivalence pin: dedup of the new slice against the indexed
    corpus must find exactly the full-corpus LSH pairs that cross the
    corpus/new boundary (same bands, same verify, same threshold)."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    corpus = docs.where("doc_id % 5 != 0")
    new = docs.where("doc_id % 5 = 0")
    index = dedup.minhash_band_index(corpus, "doc_id", "text")
    got = {
        (r.id_new, r.id_corpus): r.jaccard
        for r in dedup.incremental_neardup(
            new, corpus, index, "doc_id", "text"
        ).collect()
    }
    full = dedup.minhash_lsh_dedup(docs, "doc_id", "text").collect()
    want = {}
    for r in full:
        a, b = r.id_a, r.id_b
        if a % 5 == 0 and b % 5 != 0:
            want[(a, b)] = r.jaccard
        elif b % 5 == 0 and a % 5 != 0:
            want[(b, a)] = r.jaccard
    assert got == want and len(want) > 0


def test_chunk_dedup_removes_cross_doc_spans(spark):
    from orestes_spark.operators.dedup import chunk_dedup

    w = [f"w{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [
            (0, " ".join(w[0:20])),   # chunks [w0..w9], [w10..w19]
            (1, " ".join(w[10:30])),  # first chunk duplicates doc0's second
            (2, " ".join(w[0:20])),   # exact copy of doc 0 — nothing survives
            (3, " ".join(w[0:15])),   # ragged tail: 2 chunks (10 + 5 words)
        ],
        "doc_id LONG, text STRING",
    )
    out = {r["doc_id"]: r for r in chunk_dedup(docs, "doc_id", "text", 10).collect()}
    assert out[0]["n_chunks"] == 2 and out[0]["kept_chunks"] == 2
    assert out[0]["clean_text"] == " ".join(w[0:20])
    assert out[1]["n_chunks"] == 2 and out[1]["kept_chunks"] == 1
    assert out[1]["clean_text"] == " ".join(w[20:30])
    assert out[2]["kept_chunks"] == 0 and out[2]["clean_text"] == ""
    # doc 3's 5-word tail chunk "w10 ... w14" ≠ any 10-word chunk
    assert out[3]["n_chunks"] == 2 and out[3]["kept_chunks"] == 1
    assert out[3]["clean_text"] == " ".join(w[10:15])


def test_dedup_keep_best_keeps_longest_per_cluster(spark):
    """Chain a~b, b~c: one cluster, keeper = longest text (not lowest
    id); singletons and non-members untouched."""
    from orestes_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "short", 5), (2, "the longest doc here", 20), (3, "medium doc", 10),
         (4, "unrelated", 9), (5, "also unrelated", 14)],
        "doc_id LONG, text STRING, n_chars LONG",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a LONG, id_b LONG")
    kept = {r["doc_id"] for r in dedup.dedup_keep_best(docs, "doc_id", pairs, "n_chars").collect()}
    assert kept == {2, 4, 5}  # 2 wins its cluster on length; others untouched

    # tie on score -> lower id wins
    docs2 = spark.createDataFrame(
        [(7, "aa", 2), (8, "bb", 2)], "doc_id LONG, text STRING, n_chars LONG"
    )
    pairs2 = spark.createDataFrame([(7, 8)], "id_a LONG, id_b LONG")
    kept2 = {r["doc_id"] for r in dedup.dedup_keep_best(docs2, "doc_id", pairs2, "n_chars").collect()}
    assert kept2 == {7}


def test_substring_contamination_flags_planted_needle(spark):
    from orestes_spark.operators.dedup import substring_contamination

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "prefix CANARY STRING suffix words"),
            (3, "no match here at all"),
            (4, "another CANARY STRING carrier text"),
        ],
        "doc_id LONG, text STRING",
    )
    needles = spark.createDataFrame(
        [(100, "CANARY STRING"), (101, "beta gamma")],
        "eval_id LONG, needle STRING",
    )
    out = {
        r["doc_id"]: r
        for r in substring_contamination(docs, "doc_id", "text", needles).collect()
    }
    assert set(out) == {1, 2, 4}
    assert out[1]["n_eval_hits"] == 1 and out[1]["first_eval_id"] == 101
    assert out[2]["n_eval_hits"] == 1 and out[2]["first_eval_id"] == 100
    assert out[4]["n_eval_hits"] == 1


def test_substring_contamination_same_id_semantics(spark):
    """exclude_same_id=True (corpus-derived needles) drops the
    self-pair; default False (EXTERNAL needles — unrelated id space)
    must flag the doc even when the ids numerically collide."""
    from orestes_spark.operators.dedup import substring_contamination

    docs = spark.createDataFrame([(7, "self match text")], "doc_id LONG, text STRING")
    needles = spark.createDataFrame([(7, "self match")], "eval_id LONG, needle STRING")
    assert (
        substring_contamination(docs, "doc_id", "text", needles, exclude_same_id=True).count()
        == 0
    )
    assert substring_contamination(docs, "doc_id", "text", needles).count() == 1


# ----------------------------------------------- span-level dedup ---


def _span_docs(spark):
    # A 6-token span ("alpha beta gamma delta epsilon zeta") planted
    # verbatim inside two otherwise-unrelated documents, at different
    # offsets; a third document shares nothing >= k tokens long.
    dup = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"one two three {dup} four five six seven"),
        (2, f"{dup} red orange yellow green blue indigo violet"),
        (3, "nothing here repeats for long enough to matter at all ok"),
        (4, "short doc"),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_repeated_spans_flags_planted_span(spark):
    docs = _span_docs(spark)
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.repeated_spans(docs, "doc_id", "text", k=6).collect()
    }
    # doc 1: dup occupies token positions [3, 9); doc 2: [0, 6).
    assert spans == {(1, 3, 9), (2, 0, 6)}


def test_repeated_spans_merges_overlapping_windows(spark):
    # One 8-token repeat with k=6 yields three overlapping flagged
    # windows per occurrence — they must merge to ONE maximal span.
    dup = "a1 a2 a3 a4 a5 a6 a7 a8"
    docs = spark.createDataFrame(
        [(1, f"x y {dup} z"), (2, f"{dup} p q r s t u")],
        "doc_id LONG, text STRING",
    )
    out = dedup.repeated_spans(docs, "doc_id", "text", k=6).collect()
    got = {(r["doc_id"], r["span_start"], r["span_end"], r["span_len"]) for r in out}
    assert got == {(1, 2, 10, 8), (2, 0, 8, 8)}


def test_repeated_spans_max_count_caps_boilerplate(spark):
    # The same k-gram in 4 docs; max_count=3 treats it as boilerplate
    # and emits nothing, max_count=None flags all four occurrences.
    dup = "b1 b2 b3 b4 b5 b6"
    docs = spark.createDataFrame(
        [(i, f"{dup} filler{i} w{i} x{i} y{i} z{i}") for i in range(4)],
        "doc_id LONG, text STRING",
    )
    assert dedup.repeated_spans(docs, "doc_id", "text", k=6).count() == 4
    assert dedup.repeated_spans(docs, "doc_id", "text", k=6, max_count=3).count() == 0


def test_strip_repeated_spans_removes_all_occurrences(spark):
    docs = _span_docs(spark)
    rows = {r["doc_id"]: r for r in dedup.strip_repeated_spans(docs, "doc_id", "text", k=6).collect()}
    assert set(rows) == {1, 2, 3, 4}  # every doc keeps a row
    assert rows[1]["n_removed"] == 6
    assert rows[1]["clean_text"] == "one two three four five six seven"
    assert rows[2]["n_removed"] == 6
    assert rows[2]["clean_text"] == "red orange yellow green blue indigo violet"
    assert rows[3]["n_removed"] == 0 and rows[4]["n_removed"] == 0
    assert rows[3]["n_tokens"] == 11 and rows[4]["n_tokens"] == 2


def test_strip_repeated_spans_empties_fully_duplicated_doc(spark):
    dup = "c1 c2 c3 c4 c5 c6"
    docs = spark.createDataFrame(
        [(1, dup), (2, f"pad {dup} tail end more words here")],
        "doc_id LONG, text STRING",
    )
    rows = {r["doc_id"]: r for r in dedup.strip_repeated_spans(docs, "doc_id", "text", k=6).collect()}
    assert rows[1]["clean_text"] == "" and rows[1]["n_removed"] == 6
    assert rows[2]["clean_text"] == "pad tail end more words here"


def test_strip_keep_first_retains_canonical_occurrence(spark):
    # ExactSubstr semantics: doc 1 holds the canonical (min doc_id,
    # pos) occurrence and must survive intact; doc 2's copy is
    # stripped. Default mode removes BOTH.
    dup = "d1 d2 d3 d4 d5 d6"
    docs = spark.createDataFrame(
        [(1, f"{dup} tail one two three four five"),
         (2, f"head {dup} six seven eight nine ten")],
        "doc_id LONG, text STRING",
    )
    keep = {r["doc_id"]: r for r in
            dedup.strip_repeated_spans(docs, "doc_id", "text", k=6, keep_first=True).collect()}
    assert keep[1]["n_removed"] == 0
    assert keep[1]["clean_text"].startswith("d1 d2 d3")
    assert keep[2]["n_removed"] == 6
    assert keep[2]["clean_text"] == "head six seven eight nine ten"
    both = {r["doc_id"]: r for r in
            dedup.strip_repeated_spans(docs, "doc_id", "text", k=6).collect()}
    assert both[1]["n_removed"] == 6 and both[2]["n_removed"] == 6


def test_strip_keep_first_within_doc_repeats(spark):
    # A span repeated twice INSIDE one doc: first occurrence kept,
    # second stripped — within-doc position is the tie-break.
    dup = "e1 e2 e3 e4 e5 e6"
    docs = spark.createDataFrame(
        [(1, f"{dup} mid {dup} tail")], "doc_id LONG, text STRING"
    )
    row = dedup.strip_repeated_spans(docs, "doc_id", "text", k=6, keep_first=True).first()
    assert row["n_removed"] == 6
    assert row["clean_text"] == f"{dup} mid tail"


def test_incremental_spans_flag_corpus_hits_only(spark):
    # Batch doc 10 repeats a corpus span -> flagged at its offset;
    # batch docs 20+21 share a span ONLY with each other (in-batch
    # dedup is repeated_spans' job) -> NOT flagged here.
    cspan = "c1 c2 c3 c4 c5 c6"
    bspan = "b1 b2 b3 b4 b5 b6"
    corpus = spark.createDataFrame(
        [(1, f"{cspan} corpus filler words here today ok"),
         (2, "entirely unrelated corpus content with nothing shared at all")],
        "doc_id LONG, text STRING",
    )
    batch = spark.createDataFrame(
        [(10, f"lead in {cspan} trailing words"),
         (20, f"{bspan} unique twenty tail words here"),
         (21, f"other prefix {bspan} tail")],
        "doc_id LONG, text STRING",
    )
    idx = dedup.span_index(corpus, "doc_id", "text", k=6)
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.incremental_repeated_spans(batch, idx, "doc_id", "text", k=6).collect()
    }
    assert got == {(10, 2, 8)}
    # round-9 hash-range bucketing: a bucketed index + pruned probe
    # (written/read through parquet so partition pruning is real)
    # flags the identical spans — pruning only skips buckets the
    # batch has no k-grams in.
    import tempfile

    d = tempfile.mkdtemp(prefix="span_idx_test_")
    dedup.span_index(corpus, "doc_id", "text", k=6, buckets=4).write.partitionBy(
        "hb"
    ).parquet(f"{d}/idx")
    bidx = spark.read.parquet(f"{d}/idx")
    got_b = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.incremental_repeated_spans(
            batch, bidx, "doc_id", "text", k=6, buckets=4
        ).collect()
    }
    assert got_b == got


def test_strip_keep_first_protects_canonical_from_overlapping_flags(spark):
    # Round-8 review regression: doc1's canonical copy of 'p1..p6'
    # overlaps a FLAGGED window ('q2..q7', canonical in doc0). Without
    # canonical-window protection the flag's coverage would strip
    # doc1's canonical tokens too, leaving ZERO intact copies of
    # 'p1..p6' corpus-wide. With protection doc1 keeps it verbatim.
    #   doc0: x1 x2 q2 q3 q4 q5 q6 q7 x3          (canonical q-window)
    #   doc1: p1 q2 q3 q4 q5 q6 q7                (p-window = toks 0-5 canonical;
    #                                              q-window = toks 1-6 flagged)
    #   doc2: p1 q2 q3 q4 q5 q6 z1 z2 z3 z4 z5 z6 (p-window flagged)
    docs = spark.createDataFrame(
        [
            (0, "x1 x2 q2 q3 q4 q5 q6 q7 x3"),
            (1, "p1 q2 q3 q4 q5 q6 q7"),
            (2, "p1 q2 q3 q4 q5 q6 z1 z2 z3 z4 z5 z6"),
        ],
        "doc_id LONG, text STRING",
    )
    rows = {
        r["doc_id"]: r
        for r in dedup.strip_repeated_spans(docs, "doc_id", "text", k=6, keep_first=True).collect()
    }
    # doc1: only token 6 ('q7', flagged-covered, outside its canonical
    # window [0,6)) is removed — 'p1 q2 q3 q4 q5 q6' survives INTACT
    assert rows[1]["clean_text"] == "p1 q2 q3 q4 q5 q6"
    assert rows[1]["n_removed"] == 1
    # doc0 keeps everything (its q-window is canonical)
    assert rows[0]["n_removed"] == 0
    # doc2's non-canonical copy is stripped
    assert rows[2]["clean_text"] == "z1 z2 z3 z4 z5 z6"
    # corpus-wide: at least one intact copy of each duplicated window
    kept_texts = " | ".join(rows[d]["clean_text"] for d in rows)
    assert "p1 q2 q3 q4 q5 q6" in kept_texts and "q2 q3 q4 q5 q6 q7" in kept_texts


def test_incremental_spans_mixed_modulus_index_raises(spark):
    """An index assembled from differently-bucketed builds must fail
    loudly: pruning any of it with one arbitrary modulus would
    silently drop genuine repeated spans."""
    import pytest as _pytest

    corpus = spark.createDataFrame(
        [(1, "c1 c2 c3 c4 c5 c6 filler words here")], "doc_id LONG, text STRING"
    )
    batch = spark.createDataFrame(
        [(10, "x c1 c2 c3 c4 c5 c6 y")], "doc_id LONG, text STRING"
    )
    mixed = dedup.span_index(corpus, "doc_id", "text", k=6, buckets=4).unionByName(
        dedup.span_index(corpus, "doc_id", "text", k=6, buckets=8)
    )
    with _pytest.raises(ValueError, match="mixes bucket moduli"):
        dedup.incremental_repeated_spans(batch, mixed, "doc_id", "text", k=6).collect()


def test_span_bloom_prefilter_exact_parity_and_filtering(spark):
    """Round-10 Bloom sidecar: the bloom-assisted probe flags the
    IDENTICAL spans (pre-filter has no false negatives), a mostly-
    novel batch's hash set shrinks to near-nothing before the index
    is touched, and the sidecar layout self-describes."""
    import tempfile

    cspan = "c1 c2 c3 c4 c5 c6"
    corpus = spark.createDataFrame(
        [(1, f"{cspan} corpus filler words here today ok"),
         (2, "entirely unrelated corpus content with nothing shared at all")],
        "doc_id LONG, text STRING",
    )
    batch = spark.createDataFrame(
        [(10, f"lead in {cspan} trailing words"),
         (20, "wholly novel material that matches no corpus window at all today")],
        "doc_id LONG, text STRING",
    )
    d = tempfile.mkdtemp(prefix="span_bloom_test_")
    dedup.span_index(corpus, "doc_id", "text", k=6, buckets=4).write.partitionBy(
        "hb"
    ).parquet(f"{d}/idx")
    idx = spark.read.parquet(f"{d}/idx")
    dedup.span_bloom(idx, bits=1 << 12, hashes=4).write.parquet(f"{d}/bloom")
    bloom = spark.read.parquet(f"{d}/bloom")
    assert {r["mbits"] for r in bloom.select("mbits").distinct().collect()} == {1 << 12}

    plain = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.incremental_repeated_spans(
            batch, idx, "doc_id", "text", k=6, buckets=4
        ).collect()
    }
    with_bloom = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.incremental_repeated_spans(
            batch, idx, "doc_id", "text", k=6, buckets=4, bloom=bloom
        ).collect()
    }
    assert with_bloom == plain == {(10, 2, 8)}

    # direct prefilter check: the true-hit hash survives, and the
    # novel doc's hashes are (almost) all filtered before any join
    from orestes_spark.operators.dedup import _bloom_prefilter, _kgram_starts

    kg = _kgram_starts(batch, "doc_id", "text", 6)
    survivors, bnb = _bloom_prefilter(kg.select("h").distinct(), bloom, 4)
    n_all = kg.select("h").distinct().count()
    n_surv = survivors.count()
    assert bnb == 4
    assert n_surv >= 1  # the genuine repeat is never filtered
    assert n_surv < n_all  # novel hashes dropped pre-join

    # an all-novel batch survives with ~zero hashes -> zero spans
    novel = spark.createDataFrame(
        [(30, "completely fresh words never indexed anywhere in this corpus")],
        "doc_id LONG, text STRING",
    )
    assert (
        dedup.incremental_repeated_spans(
            novel, idx, "doc_id", "text", k=6, buckets=4, bloom=bloom
        ).count()
        == 0
    )


def test_span_bloom_layout_validation(spark):
    import pytest as _pytest

    corpus = spark.createDataFrame(
        [(1, "c1 c2 c3 c4 c5 c6 filler words here")], "doc_id LONG, text STRING"
    )
    batch = spark.createDataFrame(
        [(10, "x c1 c2 c3 c4 c5 c6 y")], "doc_id LONG, text STRING"
    )
    idx4 = dedup.span_index(corpus, "doc_id", "text", k=6, buckets=4)
    idx8 = dedup.span_index(corpus, "doc_id", "text", k=6, buckets=8)
    bloom8 = dedup.span_bloom(idx8, bits=1 << 12)
    # sidecar modulus must match the index modulus
    with _pytest.raises(ValueError, match="mismatched modulus|wrong blob"):
        dedup.incremental_repeated_spans(
            batch, idx4, "doc_id", "text", k=6, bloom=bloom8
        ).collect()
    # mixed-layout sidecar refuses
    mixed = bloom8.unionByName(dedup.span_bloom(idx8, bits=1 << 13))
    with _pytest.raises(ValueError, match="mixes layouts"):
        dedup.incremental_repeated_spans(
            batch, idx8, "doc_id", "text", k=6, bloom=mixed
        ).collect()
    # bits must be a multiple of 64; hashes bounded
    with _pytest.raises(ValueError, match="multiple of 64"):
        dedup.span_bloom(idx4, bits=100)
    # unbucketed index -> one corpus-wide blob, parity preserved
    idx_plain = dedup.span_index(corpus, "doc_id", "text", k=6)
    bloom_plain = dedup.span_bloom(idx_plain, bits=1 << 12)
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.incremental_repeated_spans(
            batch, idx_plain, "doc_id", "text", k=6, bloom=bloom_plain
        ).collect()
    }
    assert got == {(10, 1, 7)}


def _cc_pairs(spark, pairs):
    return spark.createDataFrame(pairs, "id_a LONG, id_b LONG")


def test_incremental_components_matches_full_recompute(spark):
    """Round-10 verdict #4: folding batch deltas into a persisted
    label store yields labels BYTE-IDENTICAL to a full recompute over
    the union of all pairs — including cross-batch chain merges, a
    late-arriving new global minimum, and a batch whose edges land
    entirely inside one existing component."""
    store_pairs = _cc_pairs(spark, [(10, 11), (20, 21), (30, 31)])
    labels = dedup.connected_components(store_pairs)

    # batch 1: chain-merge two existing components through a new node
    b1 = _cc_pairs(spark, [(11, 40), (40, 20)])
    labels = dedup.apply_component_delta(
        labels, dedup.incremental_components(labels, b1)
    ).localCheckpoint()
    # batch 2: a NEW node with a smaller id than every member becomes
    # the component min (late-arriving global minimum)
    b2 = _cc_pairs(spark, [(1, 30)])
    labels = dedup.apply_component_delta(
        labels, dedup.incremental_components(labels, b2)
    ).localCheckpoint()
    # batch 3: edge entirely inside an existing component (no-op) plus
    # a fresh two-node island
    b3 = _cc_pairs(spark, [(10, 21), (50, 51)])
    delta3 = dedup.incremental_components(labels, b3)
    labels = dedup.apply_component_delta(labels, delta3)

    everything = store_pairs.unionByName(b1).unionByName(b2).unionByName(b3)
    full = dedup.connected_components(everything)
    got = {(r["node"], r["component"]) for r in labels.collect()}
    want = {(r["node"], r["component"]) for r in full.collect()}
    assert got == want
    assert (1, 1) in got and (30, 1) in got and (31, 1) in got
    assert (10, 10) in got and (21, 10) in got and (40, 10) in got
    assert (50, 50) in got and (51, 50) in got
    # batch-3 delta carries ONLY the fresh island (the in-component
    # edge relabels nothing)
    assert {(r["node"], r["component"]) for r in delta3.collect()} == {(50, 50), (51, 50)}


def test_incremental_components_all_inside_one_component(spark):
    """The rep-graph-empty path: every new edge joins nodes already
    sharing a component -> empty delta, store unchanged."""
    labels = dedup.connected_components(_cc_pairs(spark, [(5, 6), (6, 7)]))
    delta = dedup.incremental_components(labels, _cc_pairs(spark, [(5, 7)]))
    assert delta.count() == 0
    merged = dedup.apply_component_delta(labels, delta)
    assert {(r["node"], r["component"]) for r in merged.collect()} == {
        (5, 5), (6, 5), (7, 5),
    }


def test_band_index_bucketing_and_bloom_parity(spark):
    """Round-10: the LSH band index gets the span index's two pruning
    tiers. Bucketed+bloomed probe returns IDENTICAL pairs through real
    partitioned parquet; a novel batch yields zero pairs; layout
    mismatches raise."""
    import tempfile

    import pytest as _pytest

    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(1, dup), (2, "totally different corpus text with its own words here now")],
        "doc_id LONG, text STRING",
    )
    batch = spark.createDataFrame(
        [(10, dup), (11, "novel content sharing nothing with anything indexed today")],
        "doc_id LONG, text STRING",
    )
    plain_idx = dedup.minhash_band_index(corpus, "doc_id", "text")
    plain = {
        (r["id_new"], r["id_corpus"])
        for r in dedup.incremental_neardup(batch, corpus, plain_idx, "doc_id", "text").collect()
    }
    assert plain == {(10, 1)}

    d = tempfile.mkdtemp(prefix="band_idx_test_")
    dedup.minhash_band_index(corpus, "doc_id", "text", buckets=8).write.partitionBy(
        "hb"
    ).parquet(f"{d}/idx")
    idx = spark.read.parquet(f"{d}/idx")
    dedup.band_bloom(idx, bits=1 << 12, hashes=4).write.parquet(f"{d}/bloom")
    bloom = spark.read.parquet(f"{d}/bloom")

    pruned = {
        (r["id_new"], r["id_corpus"])
        for r in dedup.incremental_neardup(
            batch, corpus, idx, "doc_id", "text", buckets=8
        ).collect()
    }
    bloomed = {
        (r["id_new"], r["id_corpus"])
        for r in dedup.incremental_neardup(
            batch, corpus, idx, "doc_id", "text", buckets=8, bloom=bloom
        ).collect()
    }
    assert pruned == bloomed == plain

    novel = spark.createDataFrame(
        [(30, "fresh words never seen by the index in any band at all")],
        "doc_id LONG, text STRING",
    )
    assert (
        dedup.incremental_neardup(
            novel, corpus, idx, "doc_id", "text", buckets=8, bloom=bloom
        ).count()
        == 0
    )

    # layout validation: wrong probe modulus, mixed index, wrong sidecar
    with _pytest.raises(ValueError, match="buckets=8"):
        dedup.incremental_neardup(batch, corpus, idx, "doc_id", "text", buckets=4).collect()
    mixed = dedup.minhash_band_index(corpus, "doc_id", "text", buckets=4).unionByName(
        dedup.minhash_band_index(corpus, "doc_id", "text", buckets=8)
    )
    with _pytest.raises(ValueError, match="mixes bucket moduli"):
        dedup.incremental_neardup(batch, corpus, mixed, "doc_id", "text").collect()
    bloom4 = dedup.band_bloom(
        dedup.minhash_band_index(corpus, "doc_id", "text", buckets=4), bits=1 << 12
    )
    with _pytest.raises(ValueError, match="mismatched modulus|wrong blob"):
        dedup.incremental_neardup(
            batch, corpus, idx, "doc_id", "text", buckets=8, bloom=bloom4
        ).collect()


def test_bloom_never_adopts_sidecar_modulus_for_legacy_index(spark):
    """Review round-10 finding: a pre-nb bucketed index (hb, no nb)
    probed with buckets=None plus an nb=1 corpus-wide sidecar must NOT
    adopt the sidecar's modulus for pruning — that would keep only
    hb=0 and silently drop genuine repeated spans. No pruning happens;
    the spans stay complete."""
    cspan = "c1 c2 c3 c4 c5 c6"
    corpus = spark.createDataFrame(
        [(1, f"{cspan} corpus filler words here today ok")],
        "doc_id LONG, text STRING",
    )
    batch = spark.createDataFrame(
        [(10, f"lead in {cspan} trailing words")], "doc_id LONG, text STRING"
    )
    # legacy shape: bucketed hb but no self-describing nb column
    legacy = dedup.span_index(corpus, "doc_id", "text", k=6, buckets=4).drop("nb")
    # sidecar built over the legacy index: span_bloom sees no nb and
    # builds ONE corpus-wide blob (nb=1)
    bloom = dedup.span_bloom(legacy, bits=1 << 12)
    assert bloom.select("nb").distinct().collect()[0][0] == 1
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.incremental_repeated_spans(
            batch, legacy, "doc_id", "text", k=6, bloom=bloom
        ).collect()
    }
    assert got == {(10, 2, 8)}  # nothing pruned away
    # band-side twin of the same rule
    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    bcorpus = spark.createDataFrame([(1, dup)], "doc_id LONG, text STRING")
    bbatch = spark.createDataFrame([(10, dup)], "doc_id LONG, text STRING")
    blegacy = dedup.minhash_band_index(bcorpus, "doc_id", "text", buckets=4).drop("nb")
    bbloom = dedup.band_bloom(blegacy, bits=1 << 12)
    pairs = {
        (r["id_new"], r["id_corpus"])
        for r in dedup.incremental_neardup(
            bbatch, bcorpus, blegacy, "doc_id", "text", bloom=bbloom
        ).collect()
    }
    assert pairs == {(10, 1)}


def test_shingle_containment_planted(spark):
    base_rows = [
        (100, "alpha beta gamma delta epsilon zeta eta theta"),
        (101, "one two three four five six seven eight nine"),
    ]
    probe_rows = [
        # verbatim slice of base doc 100 -> full containment
        (1, "alpha beta gamma delta epsilon zeta"),
        # nothing shared with any base doc
        (2, "red orange yellow green blue indigo violet"),
        # first 5-shingle matches base 101, the rest do not
        (3, "one two three four five banana cherry mango kiwi"),
        (4, "tiny doc"),  # < 5 tokens: no row
    ]
    base = spark.createDataFrame(base_rows, "doc_id LONG, text STRING")
    probe = spark.createDataFrame(probe_rows, "doc_id LONG, text STRING")
    got = {
        r["doc_id"]: r
        for r in dedup.shingle_containment(probe, base, "doc_id", "text", n=5).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1]["containment"] == 1.0 and got[1]["n_matched"] == got[1]["n_shingles"] == 2
    assert got[2]["containment"] == 0.0 and got[2]["n_matched"] == 0
    assert got[3]["n_shingles"] == 5 and got[3]["n_matched"] == 1
    assert got[3]["containment"] == 0.2


def test_shingle_containment_integer_tie_rounding(spark):
    # 3 matched of 128 shingles = 0.0234375 -> exact tie at 6 decimals;
    # the integer identity must round half AWAY (0.023438), on both engines.
    toks = [f"t{i}" for i in range(132)]  # 128 distinct 5-shingles
    probe = spark.createDataFrame(
        [(1, " ".join(toks))], "doc_id LONG, text STRING"
    )
    base = spark.createDataFrame(
        [(50, " ".join(toks[:7]))],  # shares exactly shingles at pos 1..3
        "doc_id LONG, text STRING",
    )
    row = dedup.shingle_containment(probe, base, "doc_id", "text", n=5).collect()[0]
    assert row["n_shingles"] == 128 and row["n_matched"] == 3
    assert row["containment"] == 0.023438


def test_winnowing_guarantee_and_density(spark):
    """The paper's guarantee: any copied passage of >= w+k-1 tokens
    shares at least one fingerprint between the two documents; and
    density is far below the full k-gram stream."""
    import numpy.random as npr

    rng = npr.default_rng(3)
    words = [f"w{i}" for i in range(200)]
    a_toks = [words[rng.integers(0, 200)] for _ in range(60)]
    passage = a_toks[20:40]  # 20 >= w+k-1 = 8 tokens, copied verbatim
    b_toks = [words[rng.integers(0, 200)] for _ in range(15)] + passage + [
        words[rng.integers(0, 200)] for _ in range(15)
    ]
    docs = spark.createDataFrame(
        [(1, " ".join(a_toks)), (2, " ".join(b_toks))], "doc_id LONG, text STRING"
    )
    fps = dedup.winnow_fingerprints(docs, "doc_id", "text", k=5, w=4)
    rows = fps.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
        assert 1 <= r["pos"] <= 60
    assert by_doc[1] & by_doc[2], "copied 20-token passage must share a fingerprint"
    # density: selected fingerprints are a strict sample of the k-gram stream
    assert len(by_doc[1]) < 60 - 5 + 1
    # every doc with >= w full windows yields at least one fingerprint
    assert len(by_doc[1]) >= 1 and len(by_doc[2]) >= 1


def test_winnowing_short_doc_yields_nothing(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f")],  # 2 kgrams at k=5 -> no full w=4 window
        "doc_id LONG, text STRING",
    )
    assert dedup.winnow_fingerprints(docs, "doc_id", "text", k=5, w=4).count() == 0


def test_winnow_pairs_detects_copied_passage(spark):
    import numpy.random as npr

    rng = npr.default_rng(9)
    words = [f"w{i}" for i in range(500)]
    mk = lambda n: [words[rng.integers(0, 500)] for _ in range(n)]
    a = mk(60)
    b = mk(15) + a[10:40] + mk(15)      # 30-token copied passage
    c = mk(60)                           # unrelated
    docs = spark.createDataFrame(
        [(1, " ".join(a)), (2, " ".join(b)), (3, " ".join(c))],
        "doc_id LONG, text STRING",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in dedup.winnow_pairs(docs, "doc_id", "text", min_shared=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_winnow_pairs_max_df_cuts_boilerplate(spark):
    # one identical doc in 6 copies: every print has df 6 > max_df 5
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta iota kappa") for i in range(6)],
        "doc_id LONG, text STRING",
    )
    assert dedup.winnow_pairs(docs, "doc_id", "text", max_df=5).count() == 0
    assert dedup.winnow_pairs(docs, "doc_id", "text", max_df=6).count() == 15


def test_shingle_containment_indexed_matches_direct(spark, tmp_path):
    """Round-11 (VERDICT r10 #8): the indexed containment route —
    probe hashes vs a persisted bucketed distinct-k-gram index —
    returns byte-identical rows to the direct base-corpus route, and
    refuses to run with neither base nor index."""
    import pytest as _pytest

    base_rows = [
        (i, f"base document number {i} with some shared tokens alpha beta gamma delta epsilon")
        for i in range(1, 9)
    ]
    probe_rows = [
        (100, "shared tokens alpha beta gamma delta epsilon plus novel words"),
        (101, "entirely novel vocabulary nothing matches here at all ever once"),
    ]
    ddl = "doc_id LONG, text STRING"
    base = spark.createDataFrame(base_rows, ddl)
    probe = spark.createDataFrame(probe_rows, ddl)
    direct = {
        r["doc_id"]: (r["n_shingles"], r["n_matched"], r["containment"])
        for r in dedup.shingle_containment(probe, base, "doc_id", "text", n=5).collect()
    }
    path = str(tmp_path / "cidx")
    dedup.span_index(base, "doc_id", "text", k=5, buckets=4).write.partitionBy(
        "hb"
    ).parquet(path)
    idx = spark.read.parquet(path)
    indexed = {
        r["doc_id"]: (r["n_shingles"], r["n_matched"], r["containment"])
        for r in dedup.shingle_containment(
            probe, None, "doc_id", "text", n=5, index=idx
        ).collect()
    }
    assert indexed == direct
    assert direct[100][1] > 0 and direct[101][1] == 0
    with _pytest.raises(ValueError, match="base or index"):
        dedup.shingle_containment(probe, None, "doc_id", "text", n=5)


def test_span_index_self_describing_k_mismatch_raises(spark):
    """Round-12 (ADVICE r11): a span/containment index probed with the
    wrong k would join DISJOINT xxhash64 key spaces and silently
    report zero hits — the under-reporting failure a decontamination
    gate must never have. The index now carries its k-gram size
    (``kg``) and every probe raises on disagreement; a pre-kg index
    (column dropped) still works on the docstring contract."""
    corpus = spark.createDataFrame(
        [(1, "c1 c2 c3 c4 c5 c6 filler words here")], "doc_id LONG, text STRING"
    )
    batch = spark.createDataFrame(
        [(10, "x c1 c2 c3 c4 c5 c6 y")], "doc_id LONG, text STRING"
    )
    idx6 = dedup.span_index(corpus, "doc_id", "text", k=6)
    with pytest.raises(ValueError, match="built with k=6"):
        dedup.incremental_repeated_spans(batch, idx6, "doc_id", "text", k=5)
    with pytest.raises(ValueError, match="built with k=6"):
        dedup.shingle_containment(batch, None, "doc_id", "text", n=5, index=idx6)
    # a frame unioned from builds with different k is unusable with ANY k
    mixed = idx6.unionByName(dedup.span_index(corpus, "doc_id", "text", k=5))
    with pytest.raises(ValueError, match="mixes k-gram sizes"):
        dedup.incremental_repeated_spans(batch, mixed, "doc_id", "text", k=6)
    # matching k passes and flags the planted span
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.incremental_repeated_spans(
            batch, idx6, "doc_id", "text", k=6
        ).collect()
    }
    assert got == {(10, 1, 7)}
    # legacy kg-less index: validated by docstring contract as before
    legacy = idx6.drop("kg")
    got_legacy = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.incremental_repeated_spans(
            batch, legacy, "doc_id", "text", k=6
        ).collect()
    }
    assert got_legacy == got


def test_incremental_simhash_pairs_logs_max_bucket_drop(spark, caplog):
    """Round-12 (ADVICE r11): the incremental probe's max_bucket cut
    is logged like simhash_near_pairs' — a dropped degenerate bucket
    is a recall event the operator must see, not a silent one."""
    import logging

    # 4 batch images sharing every band value (identical signature)
    # against an indexed corpus twin: max_bucket=3 drops the bucket.
    sig = spark.createDataFrame(
        [(i, 0x1234567812345678) for i in range(4)], "_id LONG, simhash LONG"
    )
    corpus_sig = spark.createDataFrame(
        [(100, 0x1234567812345678)], "_id LONG, simhash LONG"
    )
    index = dedup.simhash_band_index(corpus_sig, bits=64, band_bits=16)
    with caplog.at_level(logging.WARNING, logger="orestes_spark.operators.dedup"):
        got = dedup.incremental_simhash_pairs(
            sig, index, max_hamming=3, bits=64, band_bits=16, max_bucket=3
        ).collect()
    assert got == []  # every band bucket over the cap -> no candidates
    assert any("incremental_simhash_pairs" in r.message for r in caplog.records)
    # under the default cap the planted match is found and nothing logs
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="orestes_spark.operators.dedup"):
        got = dedup.incremental_simhash_pairs(
            sig, index, max_hamming=3, bits=64, band_bits=16
        ).collect()
    assert {(r["id_new"], r["id_corpus"]) for r in got} == {(i, 100) for i in range(4)}
    assert not caplog.records


def test_incremental_winnow_pairs_against_persisted_index(spark, tmp_path):
    """Round-12 (VERDICT r11 #2): the MOSS family's persisted-index
    incremental probe — a batch doc copying a passage from an indexed
    corpus doc is caught WITHOUT re-winnowing the corpus; unrelated
    batch docs are not; results are identical through parquet with
    bucket pruning; and a mismatched probe config raises instead of
    silently reporting zero."""
    copied = " ".join(f"c{i}" for i in range(12))
    corpus = spark.createDataFrame(
        [
            (1, f"{copied} and some corpus trailing words here"),
            (2, "entirely different corpus content with nothing shared at all"),
        ],
        "doc_id LONG, text STRING",
    )
    batch = spark.createDataFrame(
        [
            (10, f"prefix words then {copied} tail"),
            (20, "wholly novel batch material matching no indexed document"),
        ],
        "doc_id LONG, text STRING",
    )
    idx = dedup.winnow_index(corpus, "doc_id", "text", k=5, w=4)
    got = {
        (r["id_new"], r["id_corpus"])
        for r in dedup.incremental_winnow_pairs(
            batch, idx, "doc_id", "text", k=5, w=4, min_shared=2
        ).collect()
    }
    assert got == {(10, 1)}
    # identical through parquet + partition-pruned probe
    d = str(tmp_path / "widx")
    dedup.winnow_index(corpus, "doc_id", "text", k=5, w=4, buckets=4).write.partitionBy(
        "hb"
    ).parquet(d)
    bidx = spark.read.parquet(d)
    got_b = {
        (r["id_new"], r["id_corpus"])
        for r in dedup.incremental_winnow_pairs(
            batch, bidx, "doc_id", "text", k=5, w=4, min_shared=2, buckets=4
        ).collect()
    }
    assert got_b == got
    # config disagreement raises (disjoint fingerprint spaces)
    with pytest.raises(ValueError, match="built with k=5"):
        dedup.incremental_winnow_pairs(batch, idx, "doc_id", "text", k=6, w=4)
    with pytest.raises(ValueError, match="built with w=4"):
        dedup.incremental_winnow_pairs(batch, idx, "doc_id", "text", k=5, w=6)
    with pytest.raises(ValueError, match="built with salt='winnow'"):
        dedup.incremental_winnow_pairs(
            batch, idx, "doc_id", "text", k=5, w=4, salt="other"
        )
    with pytest.raises(ValueError, match="buckets=4"):
        dedup.incremental_winnow_pairs(
            batch, bidx, "doc_id", "text", k=5, w=4, buckets=8
        )
    # a re-delivered id (batch doc already indexed) never self-pairs
    redeliver = corpus.where(F.col("doc_id") == 1)
    self_pairs = dedup.incremental_winnow_pairs(
        redeliver, idx, "doc_id", "text", k=5, w=4, min_shared=2
    ).collect()
    assert all(r["id_new"] != r["id_corpus"] for r in self_pairs)


def test_winnow_index_build_max_df_cuts_boilerplate(spark):
    """The build-time stop-print cut: a print in > max_df corpus docs
    never enters the index, so the probe cannot fan out on it."""
    boiler = " ".join(f"b{i}" for i in range(10))
    corpus = spark.createDataFrame(
        [(i, f"{boiler} doc {i} specific extra tokens q{i} r{i} s{i}") for i in range(5)],
        "doc_id LONG, text STRING",
    )
    full = dedup.winnow_index(corpus, "doc_id", "text", k=5, w=4, max_df=None)
    cut = dedup.winnow_index(corpus, "doc_id", "text", k=5, w=4, max_df=3)
    full_fps = {r["fp"] for r in full.select("fp").distinct().collect()}
    cut_fps = {r["fp"] for r in cut.select("fp").distinct().collect()}
    assert cut_fps < full_fps  # boilerplate prints dropped
    dfs = {
        r["fp"]: r["c"]
        for r in full.groupBy("fp").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert all(dfs[fp] <= 3 for fp in cut_fps)
    assert any(dfs[fp] > 3 for fp in full_fps - cut_fps)


def test_neardup_recall_probe_caught_subset_of_truth(spark):
    from pyspark.sql import functions as F

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(1, base), (2, base + " extra"), (3, "completely different words here")] + [
        (10 + i, f"filler document number {i} with its own unique tokens {i * 7}")
        for i in range(10)
    ]
    d = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    arrays = dedup.token_shingle_arrays(d, "doc_id", "text", 3)
    sig = dedup.minhash_signatures(arrays, 8)
    cands = dedup.minhash_band_candidates(sig, 8, 2)
    shingles = arrays.select("_id", F.explode("shingles").alias("sh"))
    truth = dedup.jaccard_pairs(shingles, 0.5)
    caught = dedup.verify_jaccard(arrays, cands, 0.5, "shingles")
    truth_set = {(r["id_a"], r["id_b"]) for r in truth.collect()}
    caught_set = {(r["id_a"], r["id_b"]) for r in caught.collect()}
    assert (1, 2) in truth_set
    assert caught_set <= truth_set  # verify can only confirm true pairs
    assert (1, 2) in caught_set  # 8-hash/4-band LSH catches a 0.8-Jaccard pair


@pytest.mark.parametrize(
    "family,key,layout",
    [
        ("minhash", "xxhash64(band, bval)", {}),
        ("simhash", "xxhash64(band, bval)", {}),
        ("unit", "xxhash64(frame_idx, simhash)", {}),
        ("span", "h", {"kg": 6}),
        ("winnow", "fp", {"kg": 5, "wn": 4, "slt": "winnow"}),
    ],
)
def test_bucketed_index_layout_is_pinned(spark, family, key, layout):
    """The on-disk layout of every bucketed index family: each row's
    ``hb`` is ``pmod(<family key>, nb)`` as an INT, ``nb`` is the
    build's modulus and the self-described kg/wn/slt are the build's
    settings. Persisted indexes and streaming stores are probed with
    these values, so a change to any of them would silently re-bucket
    (and under-report against) every stored index."""
    from orestes_spark.operators import multimodal

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(40))) for i in range(8)],
        "doc_id LONG, text STRING",
    )
    build = {
        "minhash": lambda: dedup.minhash_band_index(docs, "doc_id", "text", buckets=8),
        "simhash": lambda: dedup.simhash_band_index(
            spark.createDataFrame(
                [(100 + i, 0x1234567812345678 + (i << 32)) for i in range(8)],
                "_id LONG, simhash LONG",
            ),
            buckets=8,
        ),
        "unit": lambda: multimodal.unit_bucketize(
            spark.createDataFrame(
                [(v, f, (v << 8) | f) for v in range(6) for f in range(4)],
                "media_id LONG, frame_idx INT, simhash LONG",
            ),
            "frame_idx",
            "simhash",
            8,
        ),
        "span": lambda: dedup.span_index(docs, "doc_id", "text", k=6, buckets=8),
        "winnow": lambda: dedup.winnow_index(docs, "doc_id", "text", k=5, w=4, buckets=8),
    }
    idx = build[family]()
    assert dict(idx.dtypes)["hb"] == "int" and dict(idx.dtypes)["nb"] == "int"
    rows = idx.select(
        "hb", "nb", F.expr(f"cast(pmod({key}, 8) as int)").alias("want"),
        *layout,
    ).collect()
    assert rows
    for r in rows:
        assert r["hb"] == r["want"] and r["nb"] == 8
        assert {c: r[c] for c in layout} == layout


def test_incremental_simhash_pairs_bucketized_index_parity(spark, tmp_path):
    """Round-13 (VERDICT r12 #1): a bucketized simhash band index
    (written partitionBy("hb")) returns EXACTLY the plain index's
    pairs — partition pruning is a scan optimization, never a
    semantics change — and the probe's scan carries the hb
    PartitionFilters with only the batch's touched buckets."""
    corpus_sig = spark.createDataFrame(
        [(100 + i, 0x1234567812345678 + (i << 32)) for i in range(8)],
        "_id LONG, simhash LONG",
    )
    # one batch probe: near-dup of corpus id 100 (hamming 1)
    sig = spark.createDataFrame(
        [(1, 0x1234567812345679)], "_id LONG, simhash LONG"
    )
    plain = dedup.simhash_band_index(corpus_sig, bits=64, band_bits=16)
    p = str(tmp_path / "bands")
    dedup.simhash_band_index(
        corpus_sig, bits=64, band_bits=16, buckets=8
    ).write.partitionBy("hb").parquet(p)
    idx = spark.read.parquet(p)
    want = {
        (r["id_new"], r["id_corpus"], r["hamming"])
        for r in dedup.incremental_simhash_pairs(sig, plain).collect()
    }
    got_df = dedup.incremental_simhash_pairs(sig, idx)
    got = {
        (r["id_new"], r["id_corpus"], r["hamming"]) for r in got_df.collect()
    }
    assert want and got == want
    plan = got_df._sc._jvm.PythonSQLUtils.explainString(
        got_df._jdf.queryExecution(), "formatted"
    )
    # a singleton batch touches 4 band keys -> at most 4 of 8 buckets
    import re

    m = re.search(
        r"PartitionFilters: \[hb[^\]]*(?:INSET |IN \()([0-9, ]+)\)?\]", plan
    )
    assert m, plan  # pruned scan, not full index
    assert len(m.group(1).split(",")) <= 4


def test_span_flags_hot_threshold_row_identical(spark, monkeypatch):
    """Round-13 (VERDICT r12 #2, guide §2.5): the span family's
    hot-key tier — a boilerplate k-gram planted in 30% of docs rides
    the broadcast leg instead of the count window, and the output is
    ROW-IDENTICAL to the plain single-window plan for every operator
    flavor; the hardened plan's window input carries the hot-hash
    anti-join so no window partition can reach hot_threshold rows."""
    boiler = "computer program license header tokens alpha beta gamma"
    rows = []
    for i in range(30):
        body = f"unique document {i} content words {i * 11} {i * 13} {i * 17} tail"
        if i % 3 == 0:  # 30%: the hot k-gram
            body = boiler + " " + body
        rows.append((i, body))
    # one genuine duplicated span pair besides the boilerplate
    rows.append((100, "the exact shared span of nine tokens appears right here verbatim"))
    rows.append((101, "the exact shared span of nine tokens appears right here verbatim"))
    d = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    for kf in (False, True):
        for mc in (None, 9):
            plain = dedup._span_flags(d, "doc_id", "text", 8, 2, mc, kf)
            hard = dedup._span_flags(
                d, "doc_id", "text", 8, 2, mc, kf, hot_threshold=5
            )
            key = lambda r: (r["_id"], r["pos"], r["_canon"])
            assert sorted(map(key, plain.collect())) == sorted(
                map(key, hard.collect())
            ), (kf, mc)
    # env wiring: the public operators pick the tier up from the env
    monkeypatch.setenv("ORESTES_SPAN_HOT_THRESHOLD", "5")
    hard_env = dedup.repeated_spans(d, "doc_id", "text", k=8, min_count=2)
    monkeypatch.setenv("ORESTES_SPAN_HOT_THRESHOLD", "")
    plain_env = dedup.repeated_spans(d, "doc_id", "text", k=8, min_count=2)
    key2 = lambda r: tuple(r)
    assert sorted(map(key2, hard_env.collect())) == sorted(
        map(key2, plain_env.collect())
    )
    # plan shape: hardened window sits above the hot-hash anti-join
    hard = dedup._span_flags(d, "doc_id", "text", 8, 2, None, False, hot_threshold=5)
    plan = hard._sc._jvm.PythonSQLUtils.explainString(
        hard._jdf.queryExecution(), "formatted"
    )
    assert "LeftAnti" in plan and "Window" in plan
