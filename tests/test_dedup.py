"""Dedup operators: planted near-duplicates recovered, approximations
bounded by the exact baseline."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from ssg_etl_spark.operators import dedup
from ssg_etl_spark.sources.tables import load_table


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def test_minhash_equals_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = _pairs(dedup.ngram_jaccard_pairs(docs, 0.5))
    approx = _pairs(dedup.minhash_lsh_pairs(docs, 0.5))
    assert approx == exact  # verification removes FPs; LSH recall ~1 here


def test_prefix_filter_equals_plain_exact(spark, sf_dir):
    """Prefix filtering is LOSSLESS: same pairs and same Jaccard values as
    the all-token join, on the testdata corpus and with the df-cap
    disabled (full-universe semantics) on a slice."""
    docs = load_table(spark, sf_dir, "documents")
    exact = _pairs(dedup.ngram_jaccard_pairs(docs, 0.5))
    pref = _pairs(dedup.ngram_jaccard_pairs_prefix(docs, 0.5))
    assert pref == exact

    small = docs.limit(120)
    exact_uncapped = _pairs(
        dedup.ngram_jaccard_pairs(small, 0.5, max_shingle_df=None)
    )
    pref_uncapped = _pairs(
        dedup.ngram_jaccard_pairs_prefix(small, 0.5, max_shingle_df=None)
    )
    assert pref_uncapped == exact_uncapped


def test_prefix_filter_exact_ceil_at_float_hostile_threshold(spark):
    """ceil(t*n) must be exact integer math: in doubles 0.07*100 =
    7.000000000000001 → ceil 8, shortening the prefix by one and dropping
    any qualifying pair whose first shared shingle sits exactly at the
    lemma's boundary rank. Construct that pair: doc A has 100 shingles of
    which exactly the 7 globally-rarest-LAST (df=2) are shared; doc B is
    those 7 shingles alone. J = 7/100 = t, so the pair qualifies, and the
    shared shingles occupy ranks 94..100 of A — rank 94 is inside the
    exact prefix (p = 100 - 7 + 1 = 94) but outside the buggy one (93)."""
    words_a = " ".join(f"a{i:03d}" for i in range(102))  # 100 shingles
    words_b = " ".join(f"a{i:03d}" for i in range(93, 102))  # last 7
    docs = spark.createDataFrame(
        [(1, words_a), (2, words_b)], "doc_id long, text string"
    )
    exact = _pairs(dedup.ngram_jaccard_pairs(docs, 0.07, max_shingle_df=None))
    pref = _pairs(
        dedup.ngram_jaccard_pairs_prefix(docs, 0.07, max_shingle_df=None)
    )
    assert exact == {(1, 2)}
    assert pref == exact


def test_prefix_filter_large_doc_float_repr_threshold(spark):
    """r9 review finding: a float-repr threshold (1/3 → num/den =
    3.3e15/1e16) made the BIGINT ceil product overflow silently (ANSI
    off) for docs past ~2.7k shingles — negative prefix length, empty
    prefix, duplicate pair silently dropped. The DECIMAL(38,0) product
    must keep the pair."""
    words = " ".join(f"w{i:04d}" for i in range(2802))  # 2800 shingles
    docs = spark.createDataFrame(
        [(1, words), (2, words)], "doc_id long, text string"
    )
    pref = _pairs(
        dedup.ngram_jaccard_pairs_prefix(docs, 1 / 3, max_shingle_df=None)
    )
    assert pref == {(1, 2)}


def test_prefix_filter_prunes_template_corpus(spark):
    """The regime the prefix filter exists for: a shared template makes
    every all-token join quadratic in |docs| (df-capping avoids that only
    by APPROXIMATING — dropping hot shingles from the Jaccard universe).
    With rarest-first prefixes, docs whose similarity comes only from the
    template produce ZERO candidates: their prefixes fill up with their
    own unique shingles before any template shingle qualifies — exactness
    and pruning at once."""
    from pyspark.sql import functions as F

    template = " ".join(f"t{i}" for i in range(10))
    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(template + " "),
            F.concat_ws(
                " ",
                *[
                    F.concat(F.lit(f"u{j}_"), F.col("id").cast("string"))
                    for j in range(40)
                ],
            ),
        ).alias("text"),
    )
    # No pair reaches J >= 0.5 (shared shingles are only the template's).
    pref = _pairs(dedup.ngram_jaccard_pairs_prefix(docs, 0.5, max_shingle_df=None))
    assert pref == set()
    # And the candidate join itself is EMPTY, not merely filtered: every
    # doc's 24-shingle prefix is exhausted by its 38 unique (df=1)
    # shingles before any df=300 template shingle can enter.
    raw = dedup.word_shingles(docs)
    df_counts = raw.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    from pyspark.sql.window import Window

    ranked = raw.join(df_counts, "shingle").withColumn(
        "_rk",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("_df", "shingle")),
    )
    sized = ranked.withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    prefix_len = F.col("_n") - F.ceil(F.col("_n") * F.lit(0.5)).cast("int") + 1
    prefix = sized.filter(F.col("_rk") <= prefix_len)
    hot_in_prefix = prefix.filter(F.col("_df") > 1).count()
    assert hot_in_prefix == 0


def test_simhash_no_false_positives_and_decent_recall(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = _pairs(dedup.ngram_jaccard_pairs(docs, 0.5))
    sim = _pairs(dedup.simhash_pairs(docs))
    if exact:
        assert len(sim & exact) / len(exact) >= 0.5  # approximate method
    assert not (sim - exact), "simhash found pairs the exact method rejects"


def test_hot_shingle_cap_bounds_candidates(spark):
    """A ubiquitous stopword trigram must not create quadratic candidates:
    with the df cap, pairs related ONLY through the hot shingle disappear,
    while genuinely similar pairs (sharing many rare shingles) survive."""
    hot = "of the and"
    # 40 docs that all contain the hot trigram but are otherwise disjoint…
    docs = [(i, f"{hot} unique{i}a unique{i}b unique{i}c unique{i}d") for i in range(40)]
    # …plus one planted near-dup pair sharing all its rare shingles.
    docs += [
        (100, "alpha beta gamma delta epsilon zeta eta theta"),
        (101, "alpha beta gamma delta epsilon zeta eta theta iota"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    uncapped = _pairs(dedup.ngram_jaccard_pairs(df, 0.0, max_shingle_df=None))
    capped = _pairs(dedup.ngram_jaccard_pairs(df, 0.0, max_shingle_df=10))
    # Uncapped: every pair of the 40 hot docs meets through "of the and"
    # (plus its 2-shingle window) → ~780 junk pairs. Capped: all gone.
    assert len(uncapped) >= 780
    assert (100, 101) in capped
    assert all(a >= 100 for a, _ in capped), "hot-only pairs must be pruned"

    # MinHash path applies the same corpus-wide cap.
    mh = _pairs(dedup.minhash_lsh_pairs(df, 0.5, max_shingle_df=10))
    assert mh == {(100, 101)}


def test_exact_dedup_counts(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    groups = dedup.exact_dedup_groups(docs)
    total = groups.agg({"n_duplicates": "sum"}).first()[0]
    assert total == docs.count()  # partition of the corpus


def test_chunk_documents_invariants(spark):
    from ssg_etl_spark.operators.text import chunk_documents

    long_text = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, long_text), (2, "short doc"), (3, "")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_words=32, overlap_words=8)
    rows = sorted(
        ((r.doc_id, r.chunk_id, r.chunk_text, r.chunk_words) for r in out.collect())
    )
    by_doc = {}
    for d, c, t, n in rows:
        by_doc.setdefault(d, []).append((c, t, n))

    # Doc 1: chunks step by 24, each ≤32 words, consecutive chunks share
    # the 8-word overlap, and stitching steps reconstructs the document.
    chunks1 = by_doc[1]
    assert [c for c, _, _ in chunks1] == list(range(len(chunks1)))
    assert all(n <= 32 for _, _, n in chunks1)
    stitched = chunks1[0][1].split()
    for _, t, _ in chunks1[1:]:
        w = t.split()
        assert stitched[-8:] == w[:8]  # overlap agrees
        stitched.extend(w[8:])
    assert stitched == long_text.split()
    # Short doc → one whole chunk; empty doc → one chunk of its one token.
    assert by_doc[2] == [(0, "short doc", 2)]
    assert len(by_doc[3]) == 1

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_words=8, overlap_words=8)


def test_tfidf_top_terms_ranks_distinctive_words(spark):
    from ssg_etl_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "common common zebra"),
            (2, "common common yak yak"),
            (3, "common xylophone"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.doc_id, r.term_rank): (r.term, r.tfidf)
        for r in tfidf_top_terms(df, k=2).collect()
    }
    # 'common' appears in every doc → idf = ln(3/3) = 0 → never rank 1.
    assert out[(1, 1)][0] == "zebra"
    assert out[(2, 1)][0] == "yak"
    assert out[(3, 1)][0] == "xylophone"
    assert all(v[1] == 0.0 for k, v in out.items() if v[0] == "common")


def test_hash_split_stability_and_fractions(spark):
    """Split assignment is a pure function of the id (stable under
    repartition and subsetting) and roughly honors the fractions."""
    from ssg_etl_spark.operators.sampling import hash_split

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    full = {r.doc_id: r.split for r in hash_split(df).collect()}
    # Subset + repartition → identical assignments for surviving ids.
    sub = df.filter("doc_id % 3 = 0").repartition(7)
    for r in hash_split(sub).collect():
        assert full[r.doc_id] == r.split
    from collections import Counter

    c = Counter(full.values())
    assert 0.75 <= c["train"] / 2000 <= 0.85
    assert 0.06 <= c["val"] / 2000 <= 0.14
    assert 0.06 <= c["test"] / 2000 <= 0.14

    import pytest as _pytest

    with _pytest.raises(ValueError):
        hash_split(df, train=0.95, val=0.2)


def test_stratified_sample_exact_k_per_stratum(spark):
    from ssg_etl_spark.operators.sampling import stratified_sample

    rows = [(i, "en" if i % 3 else "de") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_sample(df, ["lang"], k=10)
    got = {}
    for r in out.collect():
        got.setdefault(r.lang, []).append(r.sample_rank)
    assert sorted(got["en"]) == list(range(1, 11))
    assert sorted(got["de"]) == list(range(1, 11))
    # Determinism: same sample on re-run over a repartitioned frame.
    again = stratified_sample(df.repartition(13), ["lang"], k=10)
    assert {(r.lang, r.doc_id) for r in again.collect()} == {
        (r.lang, r.doc_id) for r in out.collect()
    }


def test_redact_pii_scrubs_and_counts(spark):
    from ssg_etl_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.org and b@x.io, call +44-123-4567"),
            (2, "no pii here"),
            (3, "half@match@ only"),
            # Phone-shaped run inside an email local part: the email pass
            # consumes it, so n_phones must be 0, not 1 — counts equal the
            # number of [PHONE] substitutions.
            (4, "reach user+1-555-1234@x.com today"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert out[1].clean_text == "mail [EMAIL] and [EMAIL], call [PHONE]"
    assert (out[1].n_emails, out[1].n_phones) == (2, 1)
    assert out[2].clean_text == "no pii here"
    assert (out[2].n_emails, out[2].n_phones) == (0, 0)
    assert out[4].clean_text == "reach [EMAIL] today"
    assert (out[4].n_emails, out[4].n_phones) == (1, 0)


def test_pack_chunks_into_windows_offsets(spark):
    from ssg_etl_spark.operators.text import (
        chunk_documents,
        pack_chunks_into_windows,
    )

    long_text = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, long_text)], "doc_id long, text string")
    chunks = chunk_documents(df, chunk_words=32, overlap_words=8)
    packed = sorted(
        (r.chunk_id, r.word_offset, r.window_id)
        for r in pack_chunks_into_windows(chunks, window_tokens=50).collect()
    )
    # Offsets are the running sum of PRIOR chunk sizes; windows advance
    # every 50 words of packed text.
    offsets = [o for _, o, _ in packed]
    assert offsets[0] == 0
    assert all(b > a for a, b in zip(offsets, offsets[1:]))
    assert [w for _, _, w in packed] == [o // 50 for o in offsets]


def test_duplicate_clusters_components(spark):
    """Chains merge into one component with the min id as canonical;
    disjoint pairs stay separate; docs without pairs don't appear."""
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40),   # one chain → cluster 10
         (100, 200),                      # separate pair → cluster 100
         (7, 300)],                       # min-id propagates over the pair
        "doc_a long, doc_b long",
    )
    out = {r.doc_id: r.cluster_id for r in dedup.duplicate_clusters(pairs).collect()}
    assert out == {10: 10, 20: 10, 30: 10, 40: 10,
                   100: 100, 200: 100, 7: 7, 300: 7}

    # A longer chain than max_iters would leave labels unconverged; the
    # default budget covers any realistic near-dup diameter.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(15)], "doc_a long, doc_b long"
    )
    got = {r.cluster_id for r in dedup.duplicate_clusters(chain).collect()}
    assert got == {0}


def test_duplicate_clusters_deep_path_graph(spark):
    """A 60-hop path (diameter ≫ the old 20-round budget) must still
    resolve to ONE component — pointer jumping makes rounds O(log d), and
    a tight 10-round budget proves the shortcut is actually doing the
    work (pure one-hop propagation would need 60 rounds)."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "doc_a long, doc_b long"
    )
    out = {
        r.doc_id: r.cluster_id
        for r in dedup.duplicate_clusters(chain, max_iters=10).collect()
    }
    assert out == {i: 0 for i in range(61)}


def test_duplicate_clusters_raises_on_nonconvergence(spark):
    """Exhausting the round budget must raise, never silently return
    partial labels (two docs of one component with different cluster
    ids is a wrong answer)."""
    import pytest as _pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_clusters(chain, max_iters=2)


def test_incremental_minhash_equals_full_restricted(spark, sf_dir):
    """Delta-vs-corpus dedup must equal the FULL pair set restricted to
    mixed (delta, base) pairs — the delta×base bucket join loses nothing
    the full self-join would have found between the two sides."""
    from ssg_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter("doc_id % 10 != 0")
    delta = docs.filter("doc_id % 10 = 0")

    full = {
        (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b)): r.jaccard
        for r in dedup.minhash_lsh_pairs(docs, 0.5).collect()
        if (r.doc_a % 10 == 0) != (r.doc_b % 10 == 0)
    }
    inc = {
        (min(r.doc_new, r.doc_base), max(r.doc_new, r.doc_base)): r.jaccard
        for r in dedup.minhash_lsh_pairs_incremental(base, delta, 0.5).collect()
    }
    assert set(inc) == set(full)
    for k in inc:
        assert abs(inc[k] - full[k]) < 1e-12
    # Orientation contract: doc_new is always from the delta batch.
    for r in dedup.minhash_lsh_pairs_incremental(base, delta, 0.5).collect():
        assert r.doc_new % 10 == 0 and r.doc_base % 10 != 0


def test_precomputed_index_equals_recompute_form(spark, sf_dir, tmp_path):
    """The precomputed-index delta path (r4 verdict item 3) must return
    exactly what the recompute form returns — through a PARQUET ROUND-TRIP
    of the index, the operational shape (build once, persist, probe per
    batch). Fixture scale has no shingle at the cap boundary, so the
    pinned-cap semantics coincide with the union cap."""
    from ssg_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter("doc_id % 10 != 0")
    delta = docs.filter("doc_id % 10 = 0")

    idx = dedup.build_minhash_index(base)
    for name, df in idx.items():
        df.write.mode("overwrite").parquet(str(tmp_path / name))
    loaded = {
        name: spark.read.parquet(str(tmp_path / name)) for name in idx
    }

    via_index = {
        (r.doc_new, r.doc_base): r.jaccard
        for r in dedup.minhash_lsh_pairs_vs_index(
            loaded["shingles"], loaded["buckets"], loaded["hot"], delta, 0.5,
            base_hot_buckets=loaded["hot_buckets"],
        ).collect()
    }
    recompute = {
        (r.doc_new, r.doc_base): r.jaccard
        for r in dedup.minhash_lsh_pairs_incremental(base, delta, 0.5).collect()
    }
    assert set(via_index) == set(recompute)
    for k in via_index:
        assert abs(via_index[k] - recompute[k]) < 1e-12


def test_precomputed_index_pinned_cap_semantics(spark):
    """The index pins the df cap at build time: a shingle hot in the BASE
    is dropped from delta probing too (no candidates through it), while a
    delta-only-hot shingle is capped on the delta side."""
    base_rows = [(i, f"w{i} common trigram words") for i in range(1, 5)]
    # Every base doc shares the shingle "common trigram words" → df 4 > cap 3.
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    delta = spark.createDataFrame(
        [(10, "common trigram words only here")],
        "doc_id long, text string",
    )
    idx = dedup.build_minhash_index(base, max_shingle_df=3)
    hot = {r.shingle for r in idx["hot"].collect()}
    assert "common trigram words" in hot
    out = dedup.minhash_lsh_pairs_vs_index(
        idx["shingles"], idx["buckets"], idx["hot"], delta,
        threshold=0.01, max_shingle_df=3,
    ).collect()
    # The only shared shingle is capped out of the universe → no pairs.
    assert out == []


def test_ngram_contamination_catches_planted_leak(spark):
    """A corpus doc embedding a benchmark sentence is flagged against THAT
    benchmark doc; clean docs and sub-threshold overlaps are not."""
    bench = spark.createDataFrame(
        [(1000, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # Leak: the benchmark sentence verbatim inside a longer doc.
            (1, "intro words here the quick brown fox jumps over the lazy dog and more"),
            # Clean: no shared trigrams.
            (2, "completely unrelated content about distributed query engines"),
            # Sub-threshold: shares exactly two trigrams ("the quick brown",
            # "quick brown fox") — below min_shared=3.
            (3, "he saw the quick brown fox sleeping"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.doc_id, r.bench_id): r.n_shared
        for r in dedup.ngram_contamination(corpus, bench, min_shared=3).collect()
    }
    assert set(out) == {(1, 1000)}
    assert out[(1, 1000)] >= 6  # the full 8-word sentence: 6 shared trigrams


def test_token_entropy_orders_prose_above_stuffing(spark):
    """Entropy separates natural-ish prose from repetition at equal
    length; degenerate docs get the documented edge values."""
    import math

    from ssg_etl_spark.operators.text import token_entropy

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),          # 8 distinct → ln(8), norm 1.0
            (2, "buy buy buy buy buy buy buy buy"),  # 1 word → 0, norm NULL
            (3, "a a a a b b c d"),          # mixed
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.entropy, r.norm_entropy) for r in token_entropy(df).collect()}
    assert out[1] == (round(math.log(8), 6), 1.0)
    assert out[2] == (0.0, None)
    assert 0 < out[3][0] < math.log(8)
    ent = math.log(8) - (4 * math.log(4) + 2 * math.log(2)) / 8
    assert out[3][0] == round(ent, 6)
    assert out[3][1] == round(ent / math.log(4), 6)


def test_chunk_dedup_stats_identical_docs_fully_shared(spark):
    """Two identical docs share every chunk; a unique doc shares none;
    a doc with one boilerplate chunk welded on is partially shared."""
    boiler = " ".join(f"b{i}" for i in range(16))
    docs = [
        (1, " ".join(f"w{i}" for i in range(32))),
        (2, " ".join(f"w{i}" for i in range(32))),
        (3, " ".join(f"u{i}" for i in range(32))),
        (4, boiler + " " + " ".join(f"x{i}" for i in range(16))),
        (5, boiler + " " + " ".join(f"y{i}" for i in range(16))),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    stats = {
        r.doc_id: r for r in dedup.chunk_dedup_stats(df, chunk_words=16).collect()
    }
    assert stats[1].n_chunks == 2 and stats[1].shared_chunk_frac == 1.0
    assert stats[2].shared_chunk_frac == 1.0
    assert stats[3].n_shared_chunks == 0
    # docs 4/5: first chunk is the shared boilerplate, second is unique
    assert stats[4].n_shared_chunks == 1 and stats[4].shared_chunk_frac == 0.5
    assert stats[5].n_shared_chunks == 1


def test_boilerplate_chunks_finds_planted_span(spark):
    boiler = " ".join(f"b{i}" for i in range(16))
    docs = [(i, boiler + " " + " ".join(f"u{i}_{j}" for j in range(16)))
            for i in range(5)]
    docs.append((99, " ".join(f"z{j}" for j in range(32))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    top = dedup.boilerplate_chunks(df, chunk_words=16, min_docs=2, k=5).collect()
    assert top, "planted boilerplate not found"
    assert top[0].chunk_text == boiler
    assert top[0].n_docs == 5 and top[0].n_occurrences == 5
    # the unique tails must not appear
    assert all(r.n_docs >= 2 for r in top)


def test_span_dedup_keeps_first_occurrence_only(spark):
    boiler = " ".join(f"b{i}" for i in range(16))
    uniq1 = " ".join(f"x{i}" for i in range(16))
    uniq2 = " ".join(f"y{i}" for i in range(16))
    docs = [
        (1, boiler + " " + uniq1),
        (2, boiler + " " + uniq2),
        (3, boiler),  # nothing but the repeat
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    keep = dedup.chunk_keep_list(df, chunk_words=16).collect()
    kept = {(r.doc_id, r.chunk_id) for r in keep if r.keep}
    # boiler survives once (doc 1 chunk 0); unique chunks always keep
    assert kept == {(1, 0), (1, 1), (2, 1)}
    assert all(r.n_occurrences == 3 for r in keep if r.chunk_text == boiler)

    out = {r.doc_id: r for r in dedup.span_deduped_corpus(df, 16).collect()}
    assert out[1].clean_text == boiler + " " + uniq1
    assert out[2].clean_text == uniq2 and out[2].n_dropped == 1
    assert out[3].clean_text == "" and out[3].n_kept == 0


def test_span_dedup_total_kept_equals_distinct_chunks(spark, sf_dir):
    """Corpus-wide invariant: exactly one occurrence per distinct chunk
    digest survives."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    keep = dedup.chunk_keep_list(docs, chunk_words=16)
    agg = keep.agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept"),
        F.countDistinct("chunk_hash").alias("distinct_hashes"),
    ).collect()[0]
    assert agg.kept == agg.distinct_hashes


def test_plan_token_mixture_hits_budget_proportions(spark):
    """The recipe solver: sampled token mass per source lands near
    budget*weight (exact in expectation — rate = budget*w/total, full
    epochs exact, fractional epoch a hash Bernoulli); validation refuses
    unnormalized weights, missing sources, empty budgets."""
    import pytest as _pytest

    from ssg_etl_spark.operators.sampling import plan_token_mixture

    docs = spark.createDataFrame(
        [
            (i, "a" if i < 200 else "b", 100)
            for i in range(400)
        ],
        "doc_id long, source string, n_tokens long",
    )
    # totals: a=20000, b=20000. budget 30000 at 2/3 vs 1/3:
    # rate_a = 1.0 (exact epoch), rate_b = 0.5 (Bernoulli half).
    out = plan_token_mixture(
        docs, {"a": 2 / 3, "b": 1 / 3}, 30_000
    ).collect()
    tok = {}
    for r in out:
        tok[r.source] = tok.get(r.source, 0) + 100
    assert tok["a"] == 20_000  # exactly one full epoch
    assert 7_000 <= tok["b"] <= 13_000  # ~10k at p=0.5

    with _pytest.raises(ValueError):
        plan_token_mixture(docs, {"a": 0.5, "b": 0.2}, 1000)  # not normalized
    with _pytest.raises(ValueError):
        plan_token_mixture(docs, {"zz": 1.0}, 1000)  # unknown source
    with _pytest.raises(ValueError):
        plan_token_mixture(docs, {"a": 1.0}, 0)


def test_mixture_sample_epochs_and_stability(spark):
    from ssg_etl_spark.operators.sampling import mixture_sample

    docs = spark.createDataFrame(
        [(i, "a" if i < 200 else "b", f"t{i}") for i in range(400)],
        "doc_id long, source string, text string",
    )
    out = mixture_sample(docs, {"a": 2.5, "b": 0.25})
    rows = out.select("doc_id", "source", "epoch").collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    # source a: every doc at epochs 0 and 1, ~half get a third copy
    a_epochs = {}
    for r in by_src["a"]:
        a_epochs.setdefault(r.doc_id, set()).add(r.epoch)
    assert len(a_epochs) == 200
    assert all({0, 1} <= e for e in a_epochs.values())
    n_a2 = sum(1 for e in a_epochs.values() if 2 in e)
    assert 60 <= n_a2 <= 140  # ~100 of 200 at p=0.5
    # source b: all at epoch 0, ~25% of docs
    assert all(r.epoch == 0 for r in by_src["b"])
    assert 25 <= len(by_src["b"]) <= 80  # ~50 of 200 at p=0.25
    assert set(by_src) == {"a", "b"}  # unlisted sources dropped
    # pure row function: identical selection after a repartition
    again = {
        (r.doc_id, r.epoch)
        for r in mixture_sample(docs.repartition(7), {"a": 2.5, "b": 0.25})
        .select("doc_id", "epoch")
        .collect()
    }
    assert again == {(r.doc_id, r.epoch) for r in rows}


def test_vocab_oov_rate_known_split(spark):
    from ssg_etl_spark.operators.text import vocab_oov_rate

    # "common" appears in every doc (top of vocab); rare words are OOV at
    # vocab_size=1.
    docs = [
        (1, "common common rare1"),
        (2, "common rare2 rare3 rare4"),
        (3, "common common common"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in vocab_oov_rate(df, vocab_size=1).collect()}
    assert out[1].n_tokens == 3 and out[1].n_oov == 1
    assert out[2].n_oov == 3 and abs(out[2].oov_rate - 0.75) < 1e-9
    assert out[3].n_oov == 0 and out[3].oov_rate == 0.0


def test_chunk_index_probe_and_merge(spark):
    """Probe keeps only digests absent from the base; merging the delta
    into the index matches a from-scratch rebuild on digests and counts
    (canonicals are first-seen-wins by contract)."""
    boiler = " ".join(f"b{i}" for i in range(16))
    base = spark.createDataFrame(
        [(10, boiler + " " + " ".join(f"p{i}" for i in range(16)))],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [
            (2, boiler),  # base dup (lower doc_id — base still wins)
            (3, " ".join(f"q{i}" for i in range(16))),  # new
            (4, " ".join(f"q{i}" for i in range(16))),  # delta-internal dup
        ],
        "doc_id long, text string",
    )
    index = dedup.build_chunk_index(base, chunk_words=16)
    probe = {
        (r.doc_id, r.chunk_id): r
        for r in dedup.chunk_keep_list_vs_index(delta, index, 16).collect()
    }
    assert probe[(2, 0)].in_base and not probe[(2, 0)].keep
    assert probe[(3, 0)].keep and not probe[(3, 0)].in_base
    assert not probe[(4, 0)].keep  # doc 3 is the within-delta canonical

    merged = dedup.merge_chunk_index(index, delta, 16)
    rebuilt = dedup.build_chunk_index(base.unionByName(delta), 16)
    m = {r.chunk_hash: r for r in merged.collect()}
    rb = {r.chunk_hash: r for r in rebuilt.collect()}
    assert set(m) == set(rb)
    assert all(m[h].n_occurrences == rb[h].n_occurrences for h in m)
    # first-seen-wins: boiler's canonical stays the base doc 10, even
    # though the rebuild would pick delta doc 2
    bh = [h for h in m if m[h].n_occurrences == 2 and m[h].canon_doc_id == 10]
    assert len(bh) == 1 and rb[bh[0]].canon_doc_id == 2


def test_keep_list_longest_prefers_richest_copy(spark, sf_dir):
    """Registry variant: within each near-dup cluster the canonical is the
    longest member, not the minimum id."""
    from ssg_etl_spark.plans.registry import load_all

    spec = load_all(include_extra=True)["dedup_keep_list_longest"]
    rows = {r.doc_id: r for r in spec.builder(spark, sf_dir).collect()}
    docs = {
        r.doc_id: r.n_chars
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    for r in rows.values():
        if r.reason == "near_dup":
            assert docs[r.canonical_doc_id] >= docs[r.doc_id], (
                r.doc_id,
                r.canonical_doc_id,
            )
    assert any(r.reason == "near_dup" for r in rows.values())


def test_bucketed_chunk_index_probe_has_no_index_side_shuffle(spark, sf_dir):
    """build_chunk_index's scale contract: written bucketed on chunk_hash,
    the per-batch probe join reads the index without an Exchange on the
    index side (the delta side still shuffles — it is batch-sized)."""
    from pyspark.sql import functions as F

    from ssg_etl_spark.sources.tables import load_table
    from ssg_etl_spark.sources.sinks import write_bucketed

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter("doc_id % 10 != 0")
    delta = docs.filter("doc_id % 10 = 0")
    spark.sql("DROP TABLE IF EXISTS chunk_idx_bkt")
    write_bucketed(
        dedup.build_chunk_index(base), "chunk_idx_bkt", ["chunk_hash"],
        num_buckets=8,
    )
    try:
        with_conf = [
            ("spark.sql.autoBroadcastJoinThreshold", "-1"),
            ("spark.sql.adaptive.enabled", "false"),
        ]
        old = {k: spark.conf.get(k) for k, _ in with_conf}
        for k, v in with_conf:
            spark.conf.set(k, v)
        try:
            probe = dedup.chunk_keep_list_vs_index(
                delta, spark.table("chunk_idx_bkt")
            )
            plan = probe._jdf.queryExecution().executedPlan().toString()

            # Walk the executed tree: no Exchange may sit on the path from
            # the root down to the bucketed index scan.
            def exchanges_above_bucketed_scan(node, found=False):
                name = node.nodeName()
                if "Exchange" in name:
                    found = True
                if "Scan" in name and "chunk_idx_bkt" in node.toString():
                    return 1 if found else 0
                total = 0
                children = node.children()
                for i in range(children.size()):
                    total += exchanges_above_bucketed_scan(
                        children.apply(i), found
                    )
                return total
            root = probe._jdf.queryExecution().executedPlan()
            assert exchanges_above_bucketed_scan(root) == 0, plan[:3000]
            # and the probe result still matches the unbucketed index
            want = sorted(
                (r.doc_id, r.chunk_id, r.keep)
                for r in dedup.chunk_keep_list_vs_index(
                    delta, dedup.build_chunk_index(base)
                ).collect()
            )
            got = sorted(
                (r.doc_id, r.chunk_id, r.keep) for r in probe.collect()
            )
            assert got == want
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)
    finally:
        spark.sql("DROP TABLE IF EXISTS chunk_idx_bkt")


def test_training_manifest_composition_invariants(spark, sf_dir):
    """The manifest must be exactly: kept ∩ (quality ≥ 0.53), each with
    its hash-split assignment."""
    from pyspark.sql import functions as F

    from ssg_etl_spark.plans.registry import load_all

    specs = load_all(include_extra=True)
    manifest = {r.doc_id: r for r in specs["training_manifest"].builder(
        spark, sf_dir).collect()}
    keep = {r.doc_id: r.reason for r in specs["dedup_keep_list"].builder(
        spark, sf_dir).collect()}
    split = {r.doc_id: r.split for r in specs["train_val_split"].builder(
        spark, sf_dir).collect()}
    assert manifest, "empty manifest"
    for doc_id, r in manifest.items():
        assert keep[doc_id] == "kept"
        assert r.quality_score >= 0.53
        assert r.split == split[doc_id]
    # nothing kept+high-quality is missing
    from ssg_etl_spark.operators.text import text_metrics
    from ssg_etl_spark.sources.tables import load_table

    q = {
        r.doc_id: r.quality_score
        for r in text_metrics(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "quality_score")
        .collect()
    }
    want = {d for d, reason in keep.items()
            if reason == "kept" and q[d] >= 0.53}
    assert set(manifest) == want


def test_cross_source_dup_matrix_counts_pairs(spark, sf_dir):
    """Matrix totals must equal the near-dup pair count, with unordered
    source pairs."""
    from ssg_etl_spark.plans.registry import load_all

    spec = load_all(include_extra=True)["cross_source_dup_matrix"]
    rows = spec.builder(spark, sf_dir).collect()
    assert rows, "fixture has planted near-dups; matrix must be non-empty"
    assert all(r.source_a <= r.source_b for r in rows)
    total = sum(r.n_dup_pairs for r in rows)
    docs = load_table(spark, sf_dir, "documents")
    n_pairs = dedup.ngram_jaccard_pairs(docs, 0.5).count()
    assert total == n_pairs


def test_capped_self_join_star_pairs(spark):
    """Occupancy guard unit: an oversized bucket emits star pairs around
    its min id (count n-1, not n·(n-1)/2); small buckets are untouched."""
    from ssg_etl_spark.operators.lsh import capped_self_join_pairs

    rows = [(i, 0, 99) for i in range(100)]  # one 100-doc bucket
    rows += [(200, 1, 7), (201, 1, 7), (202, 1, 7)]  # one small bucket
    postings = spark.createDataFrame(rows, "doc_id long, band int, bucket long")
    pairs = capped_self_join_pairs(
        postings, ["band", "bucket"], "doc_id", "doc_a", "doc_b", 10
    )
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    star = {(0, i) for i in range(1, 100)}
    small = {(200, 201), (200, 202), (201, 202)}
    assert got == star | small


def test_minhash_bucket_occupancy_guard_bounds_candidates(spark):
    """Planted mega-bucket: a template family of near-identical docs (one
    distinct word each) must produce O(n) candidates through the star
    guard, not O(n²) — and every member still reaches the representative,
    so duplicate clustering is unchanged."""
    base = " ".join(f"w{j}" for j in range(30))
    docs = [(i, f"{base} tail{i}") for i in range(300)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # df-cap off: every shared shingle has df=300 (a template family is
    # exactly the content the shingle cap would otherwise erase); the
    # occupancy guard is the layer under test.
    guarded = _pairs(
        dedup.minhash_lsh_pairs(
            df, 0.5, max_shingle_df=None, max_bucket_occupancy=20
        )
    )
    # Near-identical docs: 28 shared shingles of 31 → jaccard ≈ 0.82, so
    # every star candidate (0, i) verifies. All n-1 star pairs present;
    # non-oversized buckets (docs whose distinct tail shifted a band) may
    # add verified pairs, but the total stays far below the 44 850-pair
    # quadratic blowup the guard exists to prevent.
    star = {(0, i) for i in range(1, 300)}
    assert star <= guarded
    assert len(guarded) < 5000

    clusters = dedup.duplicate_clusters(
        spark.createDataFrame(
            [(a, b) for a, b in guarded], "doc_a long, doc_b long"
        )
    )
    assert {r.cluster_id for r in clusters.collect()} == {0}


def test_simhash_bucket_occupancy_guard(spark):
    base = " ".join(f"w{j}" for j in range(30))
    docs = [(i, f"{base} tail{i}") for i in range(150)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = _pairs(dedup.simhash_pairs(df, max_bucket_occupancy=15))
    assert any(a == 0 for a, _ in got), "star pairs to the rep must exist"
    # Quadratic all-pairs would be 11 175; the guard keeps it to stars
    # plus small-bucket remainders.
    assert len(got) < 2500


def test_url_host_domain_and_blocklist(spark):
    """Host/domain extraction handles subdomains, ports, paths, and
    NULL/relative URLs; the blocklist anti-join drops exactly the listed
    domains."""
    from ssg_etl_spark.operators import web

    rows = [
        (1, "https://www.example.org/a/b?q=1"),
        (2, "http://cdn.assets.example.org:8080/x"),
        (3, "https://other.net/"),
        (4, "not-a-url"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.doc_id: (r.host, r.domain) for r in web.with_url_host(df).collect()}
    assert got[1] == ("www.example.org", "example.org")
    assert got[2] == ("cdn.assets.example.org", "example.org")
    assert got[3] == ("other.net", "other.net")
    assert got[4][0] in (None, "") and got[4][1] is None
    assert got[5] == (None, None)

    blocked = spark.createDataFrame([("example.org",)], "domain string")
    kept = {
        r.doc_id
        for r in web.domain_blocklist_filter(
            web.with_url_host(df), blocked
        ).collect()
    }
    assert 1 not in kept and 2 not in kept and 3 in kept


def test_domain_cap_bounds_and_determinism(spark):
    """The cap keeps exactly min(n, k) docs per domain, and the kept set
    is a pure function of ids (stable under repartition)."""
    from ssg_etl_spark.operators import web

    rows = [(i, f"https://{'big' if i < 80 else 'small'}.site.org/d/{i}")
            for i in range(90)]
    df = web.with_url_host(
        spark.createDataFrame(rows, "doc_id long, url string")
    )
    capped = web.domain_cap(df, 10)
    per_domain = {
        r.domain: r.n for r in
        capped.groupBy("domain").count().withColumnRenamed("count", "n").collect()
    }
    assert per_domain == {"site.org": 10}

    again = {r.doc_id for r in web.domain_cap(df.repartition(7), 10).collect()}
    assert again == {r.doc_id for r in capped.collect()}


def test_bucketed_minhash_index_probe_has_no_index_side_shuffle(spark, sf_dir):
    """build_minhash_index's scale contract (mirrors the chunk-index
    pin): the LSH postings written bucketed on (band, bucket) join the
    delta probe without an Exchange on the index side — the base corpus
    postings are read in place; only the batch-sized delta shuffles."""
    from ssg_etl_spark.sources.sinks import write_bucketed
    from ssg_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter("doc_id % 10 != 0")
    delta = docs.filter("doc_id % 10 = 0")
    idx = dedup.build_minhash_index(base)
    spark.sql("DROP TABLE IF EXISTS mh_buckets_bkt")
    # A crashed earlier run can leave the managed-table location behind
    # with no catalog entry; saveAsTable refuses to reuse it.
    import shutil as _shutil

    _shutil.rmtree(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        + "/mh_buckets_bkt",
        ignore_errors=True,
    )
    write_bucketed(idx["buckets"], "mh_buckets_bkt", ["band", "bucket"],
                   num_buckets=8)
    # Shingles/hot stay plain frames: their joins are candidate-sized and
    # broadcast/AQE-decided; the postings join is the corpus-sized one.
    shingles = idx["shingles"]
    hot = idx["hot"]
    try:
        with_conf = [
            ("spark.sql.autoBroadcastJoinThreshold", "-1"),
            ("spark.sql.adaptive.enabled", "false"),
        ]
        old = {k: spark.conf.get(k) for k, _ in with_conf}
        for k, v in with_conf:
            spark.conf.set(k, v)
        try:
            probe = dedup.minhash_lsh_pairs_vs_index(
                shingles, spark.table("mh_buckets_bkt"), hot, delta, 0.5
            )

            # The index-side contract: between the bucketed parquet scan
            # and the candidate JOIN that consumes it there must be no
            # Exchange (downstream exchanges — candidate distinct,
            # verification joins — shuffle candidate-sized outputs and
            # are expected). The candidate join lives inside the
            # persisted candidates frame, so walk the CACHED plan of the
            # InMemoryTableScan that wraps it.
            def exchanges_between_scan_and_join(node, since_join=False):
                name = node.nodeName()
                if "Join" in name:
                    since_join = False
                elif "Exchange" in name:
                    since_join = True
                if (
                    "Scan" in name
                    and "InMemoryTableScan" not in name
                    and "mh_buckets_bkt" in node.toString()
                ):
                    return 1 if since_join else 0
                total = 0
                children = node.children()
                for i in range(children.size()):
                    total += exchanges_between_scan_and_join(
                        children.apply(i), since_join
                    )
                return total

            def find_cached(node, out):
                if (
                    "InMemoryTableScan" in node.nodeName()
                    and "mh_buckets_bkt" in node.toString()
                ):
                    out.append(node.relation().cachedPlan())
                children = node.children()
                for i in range(children.size()):
                    find_cached(children.apply(i), out)
                return out

            root = probe._jdf.queryExecution().executedPlan()
            cached = find_cached(root, [])
            assert cached, "candidates cache with the bucketed scan not found"
            plan = cached[0].toString()
            assert "mh_buckets_bkt" in plan
            assert exchanges_between_scan_and_join(cached[0]) == 0, plan[:3000]
            # Same pairs as probing the in-memory index.
            want = sorted(
                (r.doc_new, r.doc_base)
                for r in dedup.minhash_lsh_pairs_vs_index(
                    shingles, idx["buckets"], hot, delta, 0.5
                ).collect()
            )
            got = sorted((r.doc_new, r.doc_base) for r in probe.collect())
            assert got == want
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_buckets_bkt")


def test_normalize_url_canonical_forms(spark):
    from ssg_etl_spark.operators import web

    rows = [
        (1, "HTTP://WWW.Example.ORG:80/a/b/?utm_source=x&b=2&a=1#frag"),
        (2, "https://example.org:443/a"),
        (3, "https://example.org:8443/x/?gclid=1&keep=1"),
        (4, "relative/path"),
        (5, "http://example.org/path//"),
        (6, None),
        (7, "http://example.org"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.doc_id: r.url_norm for r in web.normalize_url(df).collect()}
    assert got[1] == "http://www.example.org/a/b?a=1&b=2"
    assert got[2] == "https://example.org/a"
    assert got[3] == "https://example.org:8443/x?keep=1"
    assert got[4] is None
    assert got[5] == "http://example.org/path"
    assert got[6] is None
    assert got[7] == "http://example.org"


def test_incremental_probe_base_occupancy_guard(spark):
    """A degenerate BASE bucket (template family) must meet each delta
    posting through its representative only: candidates stay O(delta),
    and the delta doc still finds its near-dup family via the rep."""
    base_text = " ".join(f"w{j}" for j in range(30))
    base = spark.createDataFrame(
        [(i, f"{base_text} tail{i}") for i in range(1, 201)],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [(1000, f"{base_text} delta0")], "doc_id long, text string"
    )
    got = {
        (r.doc_new, r.doc_base)
        for r in dedup.minhash_lsh_pairs_incremental(
            base, delta, 0.5, max_shingle_df=None, max_bucket_occupancy=20
        ).collect()
    }
    # Guarded: the delta doc pairs with the representative (min base id)
    # plus at most the members of non-oversized buckets — never the full
    # 200-pair fanout per band.
    assert (1000, 1) in got
    assert len(got) < 100

    idx = dedup.build_minhash_index(
        base, max_shingle_df=None, max_bucket_occupancy=20
    )
    via_index = {
        (r.doc_new, r.doc_base)
        for r in dedup.minhash_lsh_pairs_vs_index(
            idx["shingles"], idx["buckets"], idx["hot"], delta, 0.5,
            max_shingle_df=None, base_hot_buckets=idx["hot_buckets"],
        ).collect()
    }
    assert (1000, 1) in via_index
    assert len(via_index) < 100


def test_incremental_exact_dedup_classification(spark):
    """Delta docs resolve to the corpus canonical on normalized-content
    equality (case/whitespace differences collapse); new content is NULL."""
    base = spark.createDataFrame(
        [
            (1, "Alpha  Beta gamma"),
            (2, "unique base content"),
            (3, "alpha beta gamma"),
        ],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [(10, "ALPHA beta   GAMMA"), (11, "brand new content here")],
        "doc_id long, text string",
    )
    out = dedup.incremental_exact_dedup(dedup.exact_dedup_groups(base), delta)
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[10].is_duplicate and rows[10].canonical_doc_id == 1
    assert not rows[11].is_duplicate and rows[11].canonical_doc_id is None


def test_incremental_exact_probe_gets_runtime_bloom_filter(
    spark, sf_dir, tmp_path
):
    """The probe's 100 TB story: Catalyst's runtime bloom-filter injection
    builds a bloom from the DELTA's digests and plants ``might_contain``
    on the corpus-side scan — below the digest groupBy — so corpus rows
    whose digest cannot match any delta digest drop at the scan and never
    enter the shuffle. Injection traces the join key's lineage down to a
    scan column, so the corpus must arrive as a multi-split layout (the
    production case, where ``fan_out`` no-ops); a single-file fixture scan
    triggers fan_out's Repartition, which breaks that lineage — hence the
    multi-file rewrite here. Size thresholds are scaled down to fixture
    size; at corpus scale the defaults fire on their own."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        src = str(tmp_path / "docs_multisplit")
        load_table(spark, sf_dir, "documents").repartition(8).write.parquet(
            src
        )
        docs = spark.read.parquet(src)
        base = docs.filter(F.col("doc_id") % 10 != 0)
        delta = docs.filter(F.col("doc_id") % 10 == 0)
        out = dedup.incremental_exact_dedup(
            dedup.exact_dedup_groups(base), delta
        )
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        # The might_contain filter must sit on the BASE branch (its Filter
        # node carries the base-side NOT(doc_id%10=0) predicate), i.e. the
        # corpus scan is pruned, not the delta.
        hits = [ln for ln in plan.split("\n") if "might_contain" in ln]
        assert hits and all("NOT" in ln for ln in hits), plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_unigram_logprob_orders_common_above_rare(spark):
    """Docs made of corpus-frequent words score higher (closer to 0) than
    docs of corpus-rare words; every score is negative (cf < N)."""
    import math

    from ssg_etl_spark.operators import text as text_ops

    common = "the cat sat on the mat"
    docs = [(i, common) for i in range(10)]
    docs.append((100, "zyx wvu tsr qpo nml kji"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r.doc_id: r for r in text_ops.unigram_logprob(df).collect()}
    assert all(r.mean_logprob < 0 for r in rows.values())
    assert rows[0].mean_logprob > rows[100].mean_logprob
    # Hand-check the rare doc: each of its 6 terms occurs once, N = 66
    # tokens → mean = ln(1) - ln(66) = -ln(66).
    assert math.isclose(rows[100].mean_logprob, -math.log(66), abs_tol=1e-5)
    assert rows[100].n_tokens == 6


def test_clean_lines_rules_and_rebuild(spark):
    """Each C4 rule fires with first-failure precedence; the rebuild keeps
    surviving lines in order and drops fully-cleaned documents."""
    from ssg_etl_spark.operators.text import apply_line_cleaning, clean_lines

    doc1 = "\n".join(
        [
            "This line is long enough and ends well.",
            "too short.",
            "this line has no terminal punctuation at all",
            "Please accept our cookie policy to continue.",
            "Another perfectly fine sentence stands here!",
        ]
    )
    df = spark.createDataFrame(
        [(1, doc1), (2, "junk"), (3, 'A quoted line ends with a quote."')],
        "doc_id long, text string",
    )
    v = clean_lines(df)
    got = {(r.doc_id, r.line_id): (r.kept, r.reason) for r in v.collect()}
    assert got[(1, 0)] == (True, None)
    assert got[(1, 1)] == (False, "short")
    assert got[(1, 2)] == (False, "no_terminal_punct")
    assert got[(1, 3)] == (False, "blocklist")
    assert got[(1, 4)] == (True, None)
    assert got[(2, 0)] == (False, "short")
    assert got[(3, 0)] == (True, None)

    rebuilt = {r.doc_id: r for r in apply_line_cleaning(v).collect()}
    assert rebuilt[1].clean_text == (
        "This line is long enough and ends well.\n"
        "Another perfectly fine sentence stands here!"
    )
    assert rebuilt[1].n_kept_lines == 2
    assert 2 not in rebuilt  # fully-cleaned doc disappears
    assert rebuilt[3].n_kept_lines == 1


def test_quality_model_score_monotone_in_features(spark):
    """Higher stopword density raises the score; punctuation noise lowers
    it — the coefficients act in their documented directions."""
    from ssg_etl_spark.operators.text import quality_model_score

    df = spark.createDataFrame(
        [
            (1, "the and for you that this with have from they"),
            (2, "zxq vbn mlk poi uyt rew qas dfg hjk lzx"),
            (3, "the, and; for: you! that? this. with, have; from: they!"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in quality_model_score(df).collect()}
    assert rows[1].model_score > rows[2].model_score  # stopwords reward
    assert rows[1].model_score > rows[3].model_score  # punctuation penalty
    assert all(0.0 <= r.model_score <= 1.0 for r in rows.values())
    assert rows[1].keep and not rows[2].keep


def test_domain_quality_flags_site_level(spark):
    """A domain whose documents average below threshold is flagged on
    EVERY document — including its one good page."""
    from ssg_etl_spark.operators.web import domain_quality_flags

    rows = [
        (1, "good.org", 0.9),
        (2, "good.org", 0.8),
        (3, "spam.biz", 0.1),
        (4, "spam.biz", 0.2),
        (5, "spam.biz", 0.9),  # good page on a bad site
    ]
    df = spark.createDataFrame(rows, "doc_id long, domain string, quality_score double")
    out = {r.doc_id: r for r in domain_quality_flags(df).collect()}
    assert not out[1].low_quality_domain and not out[2].low_quality_domain
    assert out[3].low_quality_domain and out[5].low_quality_domain
    assert out[5].domain_mean_quality == 0.4
    assert out[1].domain_n_docs == 2


def test_group_split_coherence_and_stability(spark):
    """Every member of a group gets the group's split; assignment is a
    pure function of the group key (stable under repartition/subset)."""
    from ssg_etl_spark.operators.sampling import group_split

    rows = [(i, f"site{i % 7}.org") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    out = group_split(df, "domain")
    by_domain = {}
    for r in out.collect():
        by_domain.setdefault(r.domain, set()).add(r.split)
    assert all(len(s) == 1 for s in by_domain.values())
    sub = {
        (r.doc_id, r.split)
        for r in group_split(
            df.filter("doc_id % 2 = 0").repartition(5), "domain"
        ).collect()
    }
    full = {(r.doc_id, r.split) for r in out.collect()}
    assert sub <= full


def test_token_budget_selection_matches_sequential_scan(spark):
    """The distributed cumsum equals the sequential quality-descending
    scan; the budget cuts exactly at the boundary; NULL scores drop."""
    from ssg_etl_spark.operators.sampling import token_budget_selection

    rows = [
        (1, 0.9, 40),
        (2, 0.9, 30),   # tie with doc 1 → doc_id order
        (3, 0.7, 50),
        (4, 0.5, 100),
        (5, None, 10),  # unrankable
        (6, 0.3, 5),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, quality_score double, n_tokens long"
    )
    out = {r.doc_id: r for r in token_budget_selection(df, 120).collect()}
    assert 5 not in out
    assert [out[i].cum_tokens for i in (1, 2, 3, 4, 6)] == [
        40, 70, 120, 220, 225,
    ]
    assert [out[i].selected for i in (1, 2, 3, 4, 6)] == [
        True, True, True, False, False,
    ]


def test_dedup_intra_doc_lines_first_occurrence(spark):
    """Repeats within one page flag kept=False; the same line in ANOTHER
    document is untouched (the op never looks across documents)."""
    from ssg_etl_spark.operators.text import (
        apply_line_cleaning,
        dedup_intra_doc_lines,
    )

    doc1 = "menu home about\nreal content one\nmenu home about\nreal content two"
    doc2 = "menu home about\nunrelated page"
    df = spark.createDataFrame(
        [(1, doc1), (2, doc2)], "doc_id long, text string"
    )
    out = {(r.doc_id, r.line_id): r.kept for r in dedup_intra_doc_lines(df).collect()}
    assert out[(1, 0)] and not out[(1, 2)]
    assert out[(1, 1)] and out[(1, 3)]
    assert out[(2, 0)]  # cross-document repeat stays
    rebuilt = {r.doc_id: r.clean_text for r in apply_line_cleaning(
        dedup_intra_doc_lines(df)).collect()}
    assert rebuilt[1] == "menu home about\nreal content one\nreal content two"


def test_deterministic_shuffle_dense_unique_and_stable(spark):
    """Ranks are a dense 1..N permutation, reproducible across
    repartitionings, and uncorrelated with id order (it's a shuffle)."""
    from ssg_etl_spark.operators.sampling import deterministic_shuffle

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    out = {r.doc_id: r.shuffle_rank for r in deterministic_shuffle(df).collect()}
    assert sorted(out.values()) == list(range(1, 501))
    again = {
        r.doc_id: r.shuffle_rank
        for r in deterministic_shuffle(df.repartition(13)).collect()
    }
    assert again == out
    # Not the identity/sorted order: at least half the ids moved.
    moved = sum(1 for i in range(500) if out[i] != i + 1)
    assert moved > 250


def test_with_url_host_single_label_host_yields_null_domain(spark):
    """Single-label hosts (localhost, intranet names) get NULL domain —
    never '' (which would merge unrelated hosts into one phantom site)."""
    from ssg_etl_spark.operators.web import with_url_host

    df = spark.createDataFrame(
        [
            (1, "https://localhost/x"),
            (2, "http://intranet:8080/page"),
            (3, "https://www.example.org/a"),
            (4, None),
        ],
        "doc_id long, url string",
    )
    out = {r.doc_id: r for r in with_url_host(df).collect()}
    assert out[1].domain is None and out[2].domain is None
    assert out[3].domain == "example.org"
    assert out[4].domain is None


def test_domain_quality_flags_null_domain_passthrough(spark):
    """NULL-domain documents pass through with NULL reputation instead of
    being dropped by the join-back or lumped into one phantom group."""
    from ssg_etl_spark.operators.web import domain_quality_flags

    df = spark.createDataFrame(
        [(1, "good.org", 0.9), (2, None, 0.2), (3, None, 0.8)],
        "doc_id long, domain string, quality_score double",
    )
    out = {r.doc_id: r for r in domain_quality_flags(df).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2].low_quality_domain is None
    assert out[2].domain_mean_quality is None
    assert out[1].domain_n_docs == 1  # null rows never join a real domain


def test_auto_bits_per_table_scales_with_corpus(spark):
    """Default sign-pattern bucket space grows with the corpus so mean
    occupancy stays ~constant; small corpora keep the fixture floor."""
    from ssg_etl_spark.operators.similarity import auto_bits_per_table

    assert auto_bits_per_table(spark.range(120)) == 3
    assert auto_bits_per_table(spark.range(1000)) == 3
    assert auto_bits_per_table(spark.range(100_000)) == 10
    assert auto_bits_per_table(spark.range(1_000_000)) == 13


def test_bm25_ranks_relevant_above_common(spark):
    """A document sharing the query's RARE terms outranks one sharing
    only corpus-ubiquitous terms (idf does the work), and a longer doc
    with the same matches scores below a shorter one (length norm)."""
    from ssg_etl_spark.operators.text import bm25_topk

    # "the and of" appear in EVERY document (df = N → idf ≈ 0), so a
    # common-only match must lose to any rare-term match.
    corpus = spark.createDataFrame(
        [
            (1, "the and of zebra quagga okapi"),      # rare-term match
            (2, "the and of"),                         # common-only match
            (3, "the and of zebra quagga okapi " + "filler " * 30),
            (4, "the and of something else entirely"),
            (5, "the and of unrelated words here"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(100, "zebra quagga okapi the and of")],
        "query_id long, text string",
    )
    out = {r.doc_id: r for r in bm25_topk(corpus, queries, k=5).collect()}
    assert out[1].rank < out[2].rank          # rare beats common
    assert out[1].bm25 > out[3].bm25          # shorter beats longer
    assert all(r.query_id == 100 for r in out.values())
    assert sorted(r.rank for r in out.values()) == list(range(1, 6))


def test_weighted_sample_exact_set_and_stability(spark):
    """Sequential Poisson sample equals the hashlib-recomputed expected
    set (ξ = u/w smallest-k), is repartition-stable, and excludes NULL
    and non-positive weights."""
    import hashlib

    from ssg_etl_spark.operators.sampling import weighted_sample

    rows = [(i, float(10 + (i * 37) % 90)) for i in range(200)]
    rows += [(900, None), (901, 0.0), (902, -5.0)]
    docs = spark.createDataFrame(rows, "doc_id long, w double")

    def xi(i, w):
        h = hashlib.md5(f"{i}:42".encode()).hexdigest()
        u = (int(h[:12], 16) + 1) / float(1 << 48)
        return u / w

    expected = sorted(
        ((xi(i, w), i) for i, w in rows if w is not None and w > 0)
    )[:25]
    got = weighted_sample(docs, k=25, weight_col="w").collect()
    assert len(got) == 25
    assert {r.doc_id for r in got} == {i for _, i in expected}
    got2 = weighted_sample(docs.repartition(7), k=25, weight_col="w").collect()
    assert {r.doc_id for r in got2} == {i for _, i in expected}


def test_temperature_mixture_rebalances_and_clamps(spark):
    """alpha=0.5 upsamples the rare group (~2.5 epochs) and downsamples
    the dominant one (~0.83); alpha=1 reproduces the natural mix exactly;
    max_rate clamps a degenerate rare-group rate to exactly max_rate
    full epochs."""
    from ssg_etl_spark.operators.sampling import temperature_mixture

    rows = [(i, "big") for i in range(90)] + [
        (100 + i, "small") for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_mixture(docs, alpha=0.5).collect()
    per_doc: dict = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r.epoch)
    # rate_small = 100 / (sqrt(10) * (sqrt(90)+sqrt(10))) ≈ 2.5
    for i in range(10):
        n = len(per_doc.get(100 + i, []))
        assert 2 <= n <= 3, (i, n)
    # rate_big ≈ 0.833 — at most one copy each
    for i in range(90):
        assert len(per_doc.get(i, [])) <= 1
    assert 80 <= len(out) <= 120  # expected size ≈ N

    nat = temperature_mixture(docs, alpha=1.0).collect()
    assert sorted((r.doc_id, r.epoch) for r in nat) == [
        (i, 0) for i, _ in rows
    ]

    rows2 = [(i, "big") for i in range(200)] + [(999, "tiny")]
    docs2 = spark.createDataFrame(rows2, "doc_id long, lang string")
    out2 = temperature_mixture(docs2, alpha=0.5, max_rate=8.0).collect()
    tiny_epochs = sorted(r.epoch for r in out2 if r.doc_id == 999)
    assert tiny_epochs == list(range(8))


def test_simhash_wide_band_parameterization(spark, sf_dir):
    """The n_bands scale lever: 4 bands of 15 bits (guaranteed hd <= 3)
    must find every pair the default banding finds at hamming <= 3, with
    zero pairs beyond the tightened radius — and n_bands <= max_hamming
    is rejected (pigeonhole violated)."""
    import pytest as _pytest

    docs = load_table(spark, sf_dir, "documents")
    wide = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_pairs(
            docs, n_bands=4, max_hamming=3
        ).collect()
    }
    default = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_pairs(docs).collect()
    }
    assert all(h <= 3 for h in wide.values())
    tight_default = {p for p, h in default.items() if h <= 3}
    # Pigeonhole at hd<=3 over 4 bands is exact: same pair set.
    assert set(wide) == tight_default
    with _pytest.raises(AssertionError):
        dedup.simhash_pairs(docs, n_bands=3, max_hamming=3)


def test_bpe_pair_counts_weighted_by_word_frequency(spark):
    """'aaab' twice: within-word pair 'aa' occurs 2x per occurrence ->
    weighted count 4 beats 'ab' (2) and the cross-word space never forms
    a pair (words are the pair universe, not the raw character stream)."""
    from ssg_etl_spark.operators import text

    df = spark.createDataFrame(
        [(1, "aaab aaab"), (2, "zz! 7q")], ["doc_id", "text"]
    )
    rows = {
        r["pair"]: (r["rank"], r["pair_count"])
        for r in text.bpe_pair_counts(df).collect()
    }
    assert rows["aa"] == (1, 4)  # 2 per 'aaab' x freq 2
    assert rows["ab"][1] == 2
    assert rows["zz"][1] == 1  # 'zz!' normalizes to word 'zz'
    assert "7q" not in rows  # digits are boundaries, '7q' -> word 'q' (<2)
    assert "b " not in rows and " a" not in rows  # no cross-word pairs


def test_semantic_decontamination_flags_only_near_benchmark(spark):
    """A corpus vector colinear with a benchmark vector is contaminated
    with that benchmark id; an orthogonal one is clean; output covers the
    whole corpus exactly once."""
    from ssg_etl_spark.operators import similarity
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    dim = 8
    base = [0.0] * dim
    v_hit = list(base)
    v_hit[0] = 1.0
    v_miss = list(base)
    v_miss[5] = 1.0
    corpus_rows = [(i, v_hit if i % 2 else v_miss) for i in range(1, 25)]
    bench_rows = [(100, v_hit)]
    corpus = spark.createDataFrame(corpus_rows, ["vec_id", "embedding"])
    bench = spark.createDataFrame(bench_rows, ["vec_id", "embedding"])

    pairs = similarity.lsh_near_dup_pairs_incremental(
        corpus, bench, 0.5, n_tables=2, bits_per_table=2
    )
    w = Window.partitionBy("vec_base").orderBy(
        F.desc("r_sim"), F.asc("vec_new")
    )
    best = (
        pairs.withColumn("r_sim", F.round("cosine_sim", 6))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    flagged = {r["vec_base"]: r["vec_new"] for r in best.collect()}
    hit_ids = {i for i, v in corpus_rows if v == v_hit}
    assert set(flagged) == hit_ids
    assert all(b == 100 for b in flagged.values())


def test_semdedup_drops_intra_cluster_near_dups_only(spark):
    """SemDeDup keep rule: inside a cluster, the earlier-ranked member of
    a cosine>=tau pair survives and the later one is dropped; dissimilar
    members survive; a zero-norm vector can never pair (cosine undefined)
    but stays in the output; every cluster keeps its representative."""
    from ssg_etl_spark.operators.dedup import semdedup_flags

    rows = [
        (0, [10.0, 0.0, 0.0, 0.0]),   # blob A seed
        (1, [0.0, 10.0, 0.0, 0.0]),   # blob B seed
        (2, [10.1, 0.05, 0.0, 0.0]),  # near-dup of 0 (cos ~ 1)
        (3, [0.0, 9.9, 0.5, 0.0]),    # near-dup of 1 (cos ~ 0.999)
        (4, [0.0, 0.0, 0.0, 0.0]),    # zero vector: unpaired, kept
        (5, [-9.0, 0.1, 0.0, 0.0]),   # anti-aligned with blob A: kept
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r["vec_id"]: (r["cluster_id"], r["is_kept"])
        for r in semdedup_flags(df, k=2, n_iter=2, tau=0.9).collect()
    }
    assert len(out) == len(rows)  # one row per input, nothing lost
    # The near-dup pairs resolve to exactly one survivor each, and the
    # pair really is intra-cluster.
    assert out[0][0] == out[2][0] and out[0][1] != out[2][1]
    assert out[1][0] == out[3][0] and out[1][1] != out[3][1]
    assert out[4][1]  # zero vector kept
    assert out[5][1]  # anti-aligned (cos ~ -1): kept
    for cid in {c for c, _ in out.values()}:
        assert any(k for c, k in out.values() if c == cid)


def test_semdedup_collapsed_cluster_guard_fires(spark):
    """Hostile fixture (r10 verdict): ALL-IDENTICAL embeddings collapse
    k-means into one giant cluster — the Σ|cluster|² promise breaks and
    the pairwise stage would silently go N². max_cluster_size must raise
    BEFORE any pairwise work, naming the measured size; raising the
    bound (or passing None) accepts the quadratic cost explicitly."""
    import pytest

    from ssg_etl_spark.operators.dedup import semdedup_flags

    n = 40
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(n)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    with pytest.raises(ValueError, match=r"40 members.*max_cluster_size=16"):
        semdedup_flags(df, k=4, n_iter=2, tau=0.9, max_cluster_size=16)

    # Explicit opt-out still computes (bounded fixture), and the
    # collapsed cluster resolves to exactly one survivor.
    out = semdedup_flags(
        df, k=4, n_iter=2, tau=0.9, max_cluster_size=None
    ).collect()
    assert len(out) == n
    assert sum(1 for r in out if r["is_kept"]) == 1


# --- tokenizers ≡ plain Python ------------------------------------------
#
# word_shingles, word_pairs (the bigram_logprob token stream) and
# chunk_documents against the str.split(' ') definitions they implement:
# one single-space split, empty tokens kept (double, leading, trailing
# spaces), tabs and newlines inside words, NULL texts.

_TOKENIZER_TEXT = st.text(
    alphabet=st.sampled_from(list("    \t\nabABé")), max_size=30
)
_TOKENIZER_CORPUS = st.lists(st.one_of(st.none(), _TOKENIZER_TEXT), max_size=12)
_CHUNK, _OVERLAP = 3, 1


def _ref_shingles(texts):
    return sorted(
        {
            (i, " ".join(t[j : j + 3]))
            for i, text in enumerate(texts)
            if text is not None
            for t in [text.split(" ")]
            for j in range(len(t) - 2)
        }
    )


def _ref_pairs(texts):
    from collections import Counter

    return Counter(
        (i, t[j], t[j + 1] if j + 1 < len(t) else None)
        for i, text in enumerate(texts)
        if text is not None
        for t in [text.split(" ")]
        for j in range(len(t))
    )


def _ref_chunks(texts):
    step = _CHUNK - _OVERLAP
    rows = []
    for i, text in enumerate(texts):
        if text is None:
            continue  # a NULL text has no chunk, under either ANSI mode
        w = text.split(" ")
        for s in range(0, max(len(w) - _OVERLAP - 1, 0) + 1, step):
            c = w[s : s + _CHUNK]
            rows.append((i, s // step, " ".join(c), len(c)))
    return sorted(rows, key=repr)


@pytest.mark.parametrize("ansi", [False, True], ids=["ansi_off", "ansi_on"])
@given(texts=_TOKENIZER_CORPUS)
@example(
    texts=["", " ", "a b", "a b c", "a b c a b c a b c", " a  b ", "a\tb c\nd é",
           "  ", None, "x y z x y z w"]
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_word_shingles_match_python_reference(spark, ansi, texts):
    from collections import Counter

    from ssg_etl_spark.operators.text import chunk_documents, word_pairs, word_shingles

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", str(ansi).lower())
    try:
        shingles = sorted(tuple(r) for r in word_shingles(df).collect())
        pairs = Counter(tuple(r) for r in word_pairs(df).collect())
        chunks = sorted(
            (tuple(r) for r in chunk_documents(df, _CHUNK, _OVERLAP).collect()),
            key=repr,
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert shingles == _ref_shingles(texts)
    assert pairs == _ref_pairs(texts)
    assert chunks == _ref_chunks(texts)
