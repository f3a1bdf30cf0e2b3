"""Text-analysis operators for large-scale training-data pipelines:
normalization, shingling, token counting, quality scoring, language ID,
fingerprinting (BASELINE.json north-star extensions; not in the reference).

All pure Column expressions — JVM-side, whole-stage codegen, no Python in
the row path. Designed for the ``documents`` table (doc_id, text, lang,
source, n_chars).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ssg_etl_spark.partitioning import fan_out

# Tiny stopword lexicons for the language-ID heuristic. Deliberately small:
# the point is the operator shape (per-language hit scoring + argmax), not
# linguistic accuracy.
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "de": ("der", "die", "das", "und", "zu"),
}

TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

# High-frequency mojibake digraphs/trigraphs: UTF-8 byte sequences of
# common non-ASCII characters mis-decoded as cp1252/Latin-1 (the classic
# double-encoding corruption web corpora carry; the mapping pairs are the
# well-known public core of what ftfy repairs). Ordered longest-first so
# the trigraph forms never get half-eaten by a digraph rule. Each entry
# is (corrupted sequence, intended character).
MOJIBAKE_MAP: tuple[tuple[str, str], ...] = (
    ("â€™", "’"),  # right single quote
    ("â€œ", "“"),  # left double quote
    ("â€“", "–"),  # en dash
    ("â€”", "—"),  # em dash
    ("â€¦", "…"),  # ellipsis
    ("Ã©", "é"),
    ("Ã¨", "è"),
    ("Ã¡", "á"),
    ("Ã­", "í"),
    ("Ã³", "ó"),
    ("Ãº", "ú"),
    ("Ã±", "ñ"),
    ("Ã§", "ç"),
    ("Ã¤", "ä"),
    ("Ã¶", "ö"),
    ("Ã¼", "ü"),
    ("Â«", "«"),
    ("Â»", "»"),
    ("Â°", "°"),
)


def fix_mojibake(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Encoding-quality repair stage: detect and undo the classic
    UTF-8-read-as-cp1252 corruption over :data:`MOJIBAKE_MAP`.

    Output: input columns with ``text_col`` replaced by the repaired
    text, plus ``mojibake_hits`` (total corrupted-sequence occurrences
    in the INPUT text, per-pattern counts summed — overlapping patterns
    are counted per rule, the documented semantics) and ``was_fixed``.
    Pure chained ``replace`` Column expressions — JVM-side, codegen, no
    Python, no shuffle; linear in corpus size, the shape an encoding
    pass must have at 100 TB.
    """
    t = F.col(text_col)
    clean = t
    for bad, good in MOJIBAKE_MAP:
        clean = F.replace(clean, F.lit(bad), F.lit(good))
    hits = None
    for bad, _ in MOJIBAKE_MAP:
        h = (
            (F.length(t) - F.length(F.replace(t, F.lit(bad), F.lit(""))))
            / F.lit(len(bad))
        ).cast("long")
        hits = h if hits is None else hits + h
    others = [c for c in df.columns if c != text_col]
    return df.select(
        *others,
        clean.alias(text_col),
        hits.alias("mojibake_hits"),
        (clean != t).alias("was_fixed"),
    )


def normalize_text(col: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace, trim."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def words(col: Column) -> Column:
    return F.split(col, " ")


def word_pairs(df: DataFrame) -> DataFrame:
    """(doc_id, prev, cur): every word of every document with the word
    that follows it; ``cur`` is NULL at a document's last word, and a NULL
    text has no rows. The token stream and the bigram stream of
    :func:`bigram_logprob` in one explode.

    The text is split once, in a projection below the explode, and the
    pairs are ``arrays_zip(ws, ws[2:])`` — array expressions only, so the
    explode runs in whole-stage codegen and no lambda re-splits the text
    per pair.
    """
    ws = F.col("_ws")
    pairs = F.arrays_zip(ws.alias("prev"), F.slice(ws, 2, F.size(ws)).alias("cur"))
    return (
        fan_out(df)
        .select("doc_id", words(F.col("text")).alias("_ws"))
        .select("doc_id", F.explode(pairs).alias("_p"))
        .select("doc_id", "_p.prev", "_p.cur")
    )


def word_shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """DISTINCT n-word shingles per document (the unit set for Jaccard /
    MinHash); documents shorter than n words, and NULL texts, contribute
    no shingles. Words are the single-space split of the text, empty
    tokens kept.

    Each document is split ONCE, in a projection below the explode, and
    the windows are built with array expressions only:
    ``arrays_zip(ws, ws[2:], ws[3:])`` cut to its first ``size(ws) - 2``
    triples. A ``transform(sequence(...), i -> element_at(ws, i + 1) ...)``
    lambda over ``ws = split(text)`` would make Catalyst inline the split
    into the lambda — three full splits per shingle — and a higher-order
    function keeps the explode out of whole-stage codegen.

    Dedup is ``array_distinct`` BEFORE the explode, not ``.distinct()``
    after it (r13 optimization): the distinct key was (id, shingle), so
    deduplication only ever removes repeats WITHIN one document — exactly
    what ``array_distinct`` does per row with zero data movement — while
    the post-explode ``distinct()`` paid a full shuffle of the exploded
    corpus shingle stream (measured at sf0.1: 61.8 MB exchanged for
    8 MB of distinct output; at 100 TB that exchange is corpus-sized).
    Words never contain a space, so distinct triples and distinct joined
    shingles are the same set. Output rows are identical (pinned by the
    oracle-checked dedup queries and tests/test_dedup.py).
    """
    assert n == 3, "SQL-oracle parity is written for n=3"
    ws = F.col("_ws")
    k = F.size(ws)
    windows = F.when(
        k >= n,
        F.array_distinct(
            F.slice(
                F.arrays_zip(
                    ws.alias("w1"),
                    F.slice(ws, 2, k).alias("w2"),
                    F.slice(ws, 3, k).alias("w3"),
                ),
                1,
                k - 2,
            )
        ),
    )
    # Few-splits sources (single-file fixture parquet) would run the whole
    # explode on one core; no-op at real scale (see partitioning.fan_out).
    return (
        fan_out(df)
        .select(F.col(id_col), words(F.col(text_col)).alias("_ws"))
        .select(F.col(id_col), F.explode(windows).alias("_w"))
        .select(
            F.col(id_col),
            F.concat_ws(" ", "_w.w1", "_w.w2", "_w.w3").alias("shingle"),
        )
    )


def text_metrics(df: DataFrame) -> DataFrame:
    """Per-document quality metrics: length, word stats, punctuation and
    stopword ratios, and a composite quality score (heuristics in the style
    of C4/Gopher quality filters).

    Tokenization is a plain single-space split, mirrored exactly by the
    DuckDB oracle (consecutive spaces yield empty tokens in BOTH engines,
    and 0-length docs null the ratios in both) — run ``normalize_text``
    upstream when the corpus is not single-spaced."""
    df = fan_out(df)  # per-row regex/filter work; rescue few-split scans
    ws = words(F.col("text"))
    n_chars = F.length("text").cast("long")
    n_words = F.size(ws).cast("long")
    # Stopword list shared with lang_id (and the generated oracles) — one
    # point of truth, no drift between stopword_ratio and language scoring.
    en = ", ".join(f"'{w}'" for w in LANG_LEXICONS["en"])
    stop_hits = F.expr(
        f"size(filter(split(text, ' '), w -> array_contains(array({en}), w)))"
    ).cast("long")
    n_punct = F.length(F.regexp_replace("text", r"[^.,;:!?]", "")).cast("long")
    avg_word_len = (n_chars - (n_words - 1)).cast("double") / n_words.cast("double")
    stop_ratio = stop_hits.cast("double") / n_words.cast("double")
    punct_ratio = n_punct.cast("double") / n_chars.cast("double")
    return df.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round(avg_word_len, 6).alias("avg_word_len"),
        stop_hits.alias("stopword_hits"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        n_punct.alias("n_punct"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        # Composite score: reward stopword density, penalize punctuation
        # noise and degenerate word lengths.
        F.round(
            stop_ratio * F.lit(0.5)
            + F.when((avg_word_len >= 3) & (avg_word_len <= 10), 0.3).otherwise(0.0)
            + F.when(punct_ratio <= 0.1, 0.2).otherwise(0.0),
            6,
        ).alias("quality_score"),
    )


def token_counts(df: DataFrame) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens (letters / digits / other)."""
    return fan_out(df).select(
        "doc_id",
        F.size(words(F.col("text"))).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_REGEX), 0))
        .cast("long")
        .alias("regex_tokens"),
    )


def lang_id(df: DataFrame) -> DataFrame:
    """Heuristic language ID: per-language stopword hit counts, argmax with
    lexicographic tie-break, 'und' (undetermined) when nothing hits."""
    df = fan_out(df)  # one array-filter pass per language per row
    scores = {
        lang: F.expr(
            "size(filter(split(text, ' '), w -> array_contains(array("
            + ",".join(f"'{w}'" for w in lex)
            + "), w)))"
        ).cast("long")
        for lang, lex in LANG_LEXICONS.items()
    }
    langs = sorted(scores)  # lexicographic order doubles as the tie-break
    best = F.greatest(*[scores[lg] for lg in langs])
    pred = F.lit("und")
    for lg in reversed(langs):  # earlier langs win ties → apply last
        pred = F.when(scores[lg] == best, F.lit(lg)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    out = df.select(
        "doc_id",
        *[scores[lg].alias(f"score_{lg}") for lg in langs],
        pred.alias("predicted_lang"),
    )
    return out


def fingerprints(df: DataFrame) -> DataFrame:
    """Document fingerprints: content hash of the normalized text and a
    bag-of-words fingerprint (order-insensitive near-exact signature)."""
    norm = normalize_text(F.col("text"))
    bag = F.concat_ws(" ", F.array_sort(F.array_distinct(words(norm))))
    # concat_ws maps a NULL array to '' — without the guard a NULL document
    # would get md5('') and collide with genuinely-empty docs (and diverge
    # from the oracle, where array_to_string(NULL) stays NULL).
    bag_fp = F.when(F.col("text").isNull(), F.lit(None)).otherwise(
        F.md5(bag.cast("binary"))
    )
    return fan_out(df).select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("content_fp"),
        bag_fp.alias("bag_fp"),
    )


def chunk_documents(
    df: DataFrame, chunk_words: int = 64, overlap_words: int = 16
) -> DataFrame:
    """Split documents into overlapping word-window chunks — the standard
    pre-tokenization unit for training-data pipelines (context-window
    packing, per-chunk dedup/quality filtering).

    Chunk i covers words [i*step, i*step + chunk_words) with
    step = chunk_words - overlap_words; the final chunk may be short; a
    document shorter than one chunk yields exactly one chunk, and a NULL
    text yields none. Pure sequence+slice+explode — the chunk explosion is
    JVM-side and the output grows ~n_words/step per doc, independent of
    document count skew.

    The text is split ONCE per document, in a projection below the
    explode, and both the chunk starts and every chunk's slice read that
    array. Splitting in the same ``select`` as the explode would put the
    split above the generator — one full split per CHUNK, work quadratic
    in document length.
    """
    if not (0 <= overlap_words < chunk_words):
        raise ValueError(
            "need 0 <= overlap_words < chunk_words (negative overlap would "
            "silently skip words between chunks)"
        )
    step = chunk_words - overlap_words
    ws = F.col("_ws")
    # Only a non-NULL split explodes: ``greatest`` would clamp a NULL
    # text's size (-1, or NULL under ANSI) to one chunk.
    starts = F.when(
        ws.isNotNull(),
        F.sequence(
            F.lit(0), F.greatest(F.size(ws) - overlap_words - 1, F.lit(0)), F.lit(step)
        ),
    )
    chunk = F.slice(ws, F.col("start") + 1, chunk_words)
    return (
        fan_out(df)  # chunk slicing is CPU-heavy; rescue few-split scans
        .select("doc_id", words(F.col("text")).alias("_ws"))
        .select("doc_id", "_ws", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / step).cast("int").alias("chunk_id"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).alias("chunk_words"),
        )
    )


def repetition_metrics(df: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document: distinct-word ratio,
    top-word mass, and duplicate-3-gram fraction — the filters that catch
    boilerplate, keyword stuffing, and generation loops.

    Computed with explode + two aggregations (the TF shape), NOT per-row
    array lambdas — ``transform(distinct, w -> count(filter(...)))`` is
    O(n·distinct) per document and melts on long documents; the explode
    plan is linear and map-side combinable. Documents shorter than 3 words
    have no 3-grams → NULL dup_3gram_frac (both engines).
    """
    df = fan_out(df)
    terms = df.select("doc_id", F.explode(words(F.col("text"))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    per_doc = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_tf"),
    )
    sh3 = word_shingles(df).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_n3")
    )
    joined = per_doc.join(sh3, "doc_id", "left")
    nw = F.col("n_words").cast("double")
    return joined.select(
        "doc_id",
        "n_words",
        "n_distinct",
        F.round(F.col("n_distinct") / nw, 6).alias("distinct_ratio"),
        F.round(F.col("top_tf") / nw, 6).alias("top_word_frac"),
        F.when(
            F.col("n_words") >= 3,
            F.round(
                1 - F.col("_n3").cast("double") / (nw - 2), 6
            ),
        ).alias("dup_3gram_frac"),
    )


def token_entropy(df: DataFrame) -> DataFrame:
    """Shannon entropy of each document's word distribution (nats) — the
    quality signal that separates natural prose (high entropy) from
    keyword stuffing and templated spam (low entropy at the same length),
    complementing :func:`repetition_metrics`' ratio-based filters.

    Computed as ln(n) − (Σ c·ln c)/n from the TF counts, so it shares the
    explode+aggregate shape (linear, map-side combinable). Also emits the
    normalized form entropy/ln(n_distinct) ∈ [0,1] (NULL when the doc has
    fewer than 2 distinct words — normalization is undefined there).

    The Σ c·ln c partial sum runs on DECIMAL(28,12) intermediates, not
    doubles: double addition is order-dependent and Spark's partial-agg
    order is nondeterministic, so a double sum is not bit-stable run-to-run
    and can flip a round(6) boundary vs the oracle. Ties at scale 12 are
    unrepresentable in binary floats, so both engines round identically.
    """
    terms = fan_out(df).select(
        "doc_id", F.explode(words(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    agg = tf.groupBy("doc_id").agg(
        F.sum("c").alias("_n"),
        F.count(F.lit(1)).alias("_distinct"),
        F.sum(
            (F.col("c") * F.log(F.col("c"))).cast("decimal(28,12)")
        ).cast("double").alias("_clnc"),
    )
    n = F.col("_n").cast("double")
    entropy = F.log(n) - F.col("_clnc") / n
    return agg.select(
        "doc_id",
        F.round(entropy, 6).alias("entropy"),
        F.when(
            F.col("_distinct") >= 2,
            F.round(entropy / F.log(F.col("_distinct").cast("double")), 6),
        ).alias("norm_entropy"),
    )


# Phrases whose presence disqualifies a line under the C4 cleaning rules
# (cookie banners, script fragments, lorem filler). Lowercase substrings.
C4_LINE_BLOCKLIST = ("javascript", "lorem ipsum", "cookie", "{")


def clean_lines(
    df: DataFrame,
    min_words: int = 3,
    require_terminal_punct: bool = True,
    blocklist: tuple[str, ...] = C4_LINE_BLOCKLIST,
    text_col: str = "text",
) -> DataFrame:
    """C4-style line-level cleaning verdicts: split each document on
    newlines and judge every line against the classic rules — minimum
    word count, terminal punctuation (. ! ? "), and a phrase blocklist
    (cookie banners / script fragments / lorem filler). Returns one row
    per line: (doc_id, line_id, line, kept, reason) with reason the FIRST
    failing rule ('short' → 'no_terminal_punct' → 'blocklist') or NULL
    when kept — the audit trail form, so curation can report what each
    rule removed before committing to a rebuilt corpus
    (:func:`apply_line_cleaning`).

    Pure Column expressions over one posexplode — linear, no shuffle at
    all (the explode preserves the scan partitioning).
    """
    lines = fan_out(df).select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_id", "line"),
    )
    trimmed = F.trim(F.col("line"))
    # \s+ split: consecutive spaces must not mint empty-string "words"
    # that inflate the count past min_words (ADVICE r6).
    n_words = F.size(F.split(trimmed, r"\s+"))
    short = (n_words < min_words) | (trimmed == "")
    no_punct = (
        ~trimmed.rlike(r'[.!?"]$')
        if require_terminal_punct
        else F.lit(False)
    )
    low = F.lower(F.col("line"))
    blocked = F.lit(False)
    for phrase in blocklist:
        blocked = blocked | low.contains(phrase.lower())
    reason = (
        F.when(short, F.lit("short"))
        .when(no_punct, F.lit("no_terminal_punct"))
        .when(blocked, F.lit("blocklist"))
    )
    return lines.select(
        "doc_id",
        "line_id",
        "line",
        reason.isNull().alias("kept"),
        reason.alias("reason"),
    )


def dedup_intra_doc_lines(df: DataFrame, text_col: str = "text") -> DataFrame:
    """RefinedWeb-style intra-document line dedup: drop every repeat of a
    line WITHIN its own document, keeping the first occurrence — the
    cleanup for nav menus, footers, and templated headers pasted between
    sections of one page. Cross-document recurrence is
    :func:`ssg_etl_spark.operators.dedup.boilerplate_chunks`' job; this
    op never looks outside the document.

    Returns (doc_id, line_id, line, kept) per line — compose with
    :func:`apply_line_cleaning` to rebuild cleaned text. The first-
    occurrence rank is a window over (doc, line): state is bounded by one
    document's lines, the shuffle key is (doc_id, line), and
    WindowGroupLimit does not apply (we keep all rows, flagged) — but the
    window partition is doc+line-scoped, so a mega-document cannot funnel
    one reducer unless a single line repeats ~partition-size times within
    ONE document, which the line count itself bounds.
    """
    lines = fan_out(df).select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_id", "line"),
    )
    w = Window.partitionBy("doc_id", "line").orderBy("line_id")
    return lines.select(
        "doc_id",
        "line_id",
        "line",
        (F.row_number().over(w) == 1).alias("kept"),
    )


def apply_line_cleaning(verdicts: DataFrame) -> DataFrame:
    """Rebuild cleaned documents from :func:`clean_lines` verdicts: kept
    lines re-joined in order. Documents whose every line was dropped
    disappear (C4 drops empty pages). One doc-keyed aggregation; the
    in-order rebuild is an ``array_sort(collect_list(struct))`` — state is
    bounded by a single document's line count, not a window over the
    corpus."""
    kept = verdicts.filter(F.col("kept"))
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_id", "line"))),
                lambda s: s.line,
            ),
            "\n",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept_lines"),
    )


def unigram_logprob(df: DataFrame) -> DataFrame:
    """CCNet-style language-model quality proxy: mean per-token
    log-probability of each document under the corpus's own unigram
    distribution. Natural prose scores near the corpus mode; OCR noise,
    wrong-language text, and keyword stuffing (mass on rare or on
    over-frequent terms) fall into the tails — threshold or
    decile-stratify downstream exactly like the CCNet perplexity buckets,
    with the corpus itself as the LM (no external model artifact).

    mean_logprob = (Σ_tokens ln cf_term)/n_tokens − ln N, where cf is the
    corpus frequency of the token's term and N the corpus token count.
    Self-scoring means every term has cf ≥ 1 — no OOV, no smoothing knob.

    Scale shape: explode → (doc,term) TF → term-keyed corpus counts →
    join back — all map-side combinable aggregations; the corpus-frequency
    side is one row per DISTINCT term (a dimension next to the TF table)
    so AQE broadcasts it in practice, and the hot-term join ("the" joins
    every document) is 1:1 per TF row, never a fanout. The Σ ln cf partial
    sum runs on DECIMAL(28,12) intermediates for the same
    order-independence reason as :func:`token_entropy`; ln of INTEGER
    counts is bit-identical across engines.
    """
    from ssg_etl_spark.cache import persist_tracked

    terms = fan_out(df).select(
        "doc_id", F.explode(words(F.col("text"))).alias("term")
    )
    # tf feeds three plan branches (corpus frequencies, the total, and the
    # scored join); persist so the explode+groupBy runs once — the same
    # contract as tfidf_top_terms. Consumers release via release_tracked().
    tf = persist_tracked(
        terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    )
    corpus = persist_tracked(
        tf.groupBy("term").agg(F.sum("c").alias("cf"))
    )
    total = corpus.agg(F.sum("cf").alias("_n_total"))
    per_doc = (
        tf.join(corpus, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(
                (F.col("c") * F.log(F.col("cf"))).cast("decimal(28,12)")
            )
            .cast("double")
            .alias("_s"),
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        F.round(
            F.col("_s") / F.col("n_tokens").cast("double")
            - F.log(F.col("_n_total").cast("double")),
            6,
        ).alias("mean_logprob"),
    )


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 retrieval over the corpus: for each query document, the top-k
    most relevant corpus documents — the "more like this" search that
    powers retrieval-based decontamination, topic expansion, and
    relevance-graded curation. ``queries`` is a (query_id, text) frame,
    small next to the corpus by contract.

    Standard Okapi BM25: idf = ln((N − df + 0.5)/(df + 0.5) + 1) per
    term, tf saturation tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)), score =
    Σ matching-term contributions. Self-matches are excluded; ties break
    on ascending doc_id.

    Scale shape: one corpus TF pass (persisted — df table, dl table, and
    the match join all consume it), query terms DISTINCT per (query,
    term) then joined to corpus postings on term — the posting-list join
    of an inverted index, expressed relationally. The query side is
    query-corpus-sized (small), so AQE broadcasts it; the N/avgdl scalars
    ride a broadcast 1-row aggregate. Per-pair score accumulation runs on
    DECIMAL(28,12) intermediates (contributions are doubles computed
    identically in both engines from integer tf/df/dl and the shared
    avgdl; only the ADDITION ORDER is nondeterministic, which the decimal
    partial sums make irrelevant). Ranking is a per-query window with
    rank-limit pushdown.
    """
    from ssg_etl_spark.cache import persist_tracked

    terms = fan_out(corpus).select(
        "doc_id", F.explode(words(F.col("text"))).alias("term")
    )
    tf = persist_tracked(
        terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("_avgdl"),
    )
    qterms = queries.select(
        "query_id", F.explode(words(F.col("text"))).alias("term")
    ).distinct()
    idf = F.log(
        (F.col("_n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    tf_norm = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("_avgdl"))
    )
    # Join order (r13): idf/avgdl attach to the QUERY-TERM side (tiny —
    # df and the corpus scalars fold into a broadcast of query terms),
    # and dl attaches to the postings BEFORE the match join. The matched
    # (doc, term, query) stream — the biggest relation in the plan — then
    # flows straight into the groupBy, whose map-side partial aggregation
    # collapses it to (query, doc) rows before the only exchange it ever
    # crosses. The previous shape shuffled the raw matched stream twice
    # (by term for the df join, by doc for the dl join): 54 MB of
    # exchange at sf0.1 for a 277 KB aggregate; at corpus scale that
    # stream is |postings| × |matching queries|-sized. Same contributions,
    # same DECIMAL partial sums — only the join order changed.
    q_enriched = (
        qterms.join(dfreq, "term")
        .crossJoin(stats)
        .select("query_id", "term", idf.alias("_idf"), "_avgdl")
    )
    tf_dl = tf.join(dl, "doc_id")
    contrib_q = (F.col("_idf") * tf_norm).cast("decimal(28,12)")
    scored = (
        tf_dl.join(F.broadcast(q_enriched), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(contrib_q).cast("double"), 6).alias("bm25"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "bm25")
    )


# Deployed-classifier weights for quality_model_score: stand-ins for a
# trained logistic regression's coefficients (the engine contract is the
# scoring plan, not the fit). (intercept, stopword_ratio, punct_ratio,
# word-len-in-range indicator, ln n_words).
QUALITY_MODEL_WEIGHTS = (-2.0, 6.0, -4.0, 1.0, 0.2)


def quality_model_score(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Model-based quality filtering, the way a trained classifier
    (fastText / logistic regression over handcrafted features) actually
    deploys at corpus scale: featurize with Column expressions, dot the
    feature vector with broadcast-literal coefficients, sigmoid, threshold.
    No Python in the loop — the 'model' is constant-folded into
    whole-stage codegen, so scoring costs one linear scan.

    Features come from :func:`text_metrics`' ROUNDED columns so both
    engines feed bit-identical inputs to exp(); scores round to 6 before
    the keep decision is NOT applied (the keep flag is emitted alongside —
    filtering is the caller's join/filter, keeping this a pure scorer).
    """
    w0, w_stop, w_punct, w_len, w_logn = QUALITY_MODEL_WEIGHTS
    m = text_metrics(df)
    in_range = (
        F.when(
            (F.col("avg_word_len") >= 3) & (F.col("avg_word_len") <= 10),
            1.0,
        ).otherwise(0.0)
    )
    z = (
        F.lit(w0)
        + F.lit(w_stop) * F.col("stopword_ratio")
        + F.lit(w_punct) * F.col("punct_ratio")
        + F.lit(w_len) * in_range
        + F.lit(w_logn) * F.log(F.col("n_words").cast("double"))
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return m.select(
        "doc_id",
        F.round(score, 6).alias("model_score"),
        (F.round(score, 6) >= threshold).alias("keep"),
    )


# PII patterns kept to the Java-regex ∩ RE2 common subset so the DuckDB
# oracle runs the IDENTICAL expressions (no lookbehind, no backrefs).
EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_REGEX = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub emails and phone numbers from a text column — the standard
    pre-training privacy pass. Emails are replaced first; phones are then
    counted AND replaced on the email-redacted text, so ``n_phones`` is
    exactly the number of ``[PHONE]`` substitutions (a phone-shaped run
    inside an email local part — ``user+1-555-1234@x.com`` — is the
    email's, not a phone). Pure regexp columns — JVM-side, no UDF.
    """
    df = fan_out(df)  # four regex passes per row
    t = F.col(text_col)
    emails_gone = F.regexp_replace(t, EMAIL_REGEX, "[EMAIL]")
    n_emails = F.size(F.regexp_extract_all(text_col, F.lit(EMAIL_REGEX), 0)).cast("long")
    n_phones = F.size(F.regexp_extract_all(emails_gone, F.lit(PHONE_REGEX), 0)).cast("long")
    clean = F.regexp_replace(emails_gone, PHONE_REGEX, "[PHONE]")
    return df.select(
        "doc_id",
        clean.alias("clean_text"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
    )


def pack_chunks_into_windows(chunks: DataFrame, window_tokens: int = 128) -> DataFrame:
    """Assign chunks to fixed-size training windows by cumulative word
    offset within each document: ``window_id = floor(offset / budget)``
    where offset is the word count of all preceding chunks of the doc.

    This is the declarative form of context-window packing — sequential
    within a document (one window per ``window_tokens`` words of running
    text), embarrassingly parallel across documents. The window function
    shuffles once on doc_id; nothing is driver-side.
    """
    w = (
        Window.partitionBy("doc_id")
        .orderBy("chunk_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("chunk_words").over(w), F.lit(0)).cast("long")
    return chunks.select(
        "doc_id",
        "chunk_id",
        "chunk_words",
        offset.alias("word_offset"),
        F.floor(offset / window_tokens).cast("int").alias("window_id"),
    )


def tfidf_top_terms(df: DataFrame, k: int = 5) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    TF = term count within the document; IDF = ln(N / df_t) with document
    frequency over DISTINCT (doc, term). Classic corpus-analysis op for
    training-data inspection (what is this document about / near-dup
    clustering features). One explode + two aggregations + a term join
    (idf is vocabulary-sized — AQE picks the strategy); ranking is a
    per-document window (rank-limit pushdown). Ties break
    lexicographically for determinism.
    """
    from ssg_etl_spark.cache import persist_tracked

    terms = fan_out(df).select(
        "doc_id", F.explode(words(F.col("text"))).alias("term")
    )
    # tf feeds two plan branches (the idf aggregation and the scored join);
    # persist so the explode+groupBy runs once, not per branch. Tracked:
    # consumers release via ssg_etl_spark.cache.release_tracked().
    tf = persist_tracked(
        terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    # N stays a lazy one-row aggregate (crossJoin broadcasts it) — a
    # .first() here would run a real job at plan-CONSTRUCTION time.
    n_docs = df.agg(F.countDistinct("doc_id").cast("double").alias("_n"))
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))
        .crossJoin(F.broadcast(n_docs))
        .select("term", F.log(F.col("_n") / F.col("df_t")).alias("idf"))
    )
    scored = tf.join(idf, "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select("doc_id", "term_rank", "term", "tfidf")
    )


def vocab_oov_rate(df: DataFrame, vocab_size: int = 1000) -> DataFrame:
    """Vocabulary coverage: build the corpus top-``vocab_size`` word list
    (by total frequency, ties broken by term for determinism) and score
    each document's out-of-vocabulary token fraction — the pre-tokenizer
    diagnostic for how well a fixed vocab (or a tokenizer's merges) will
    cover a corpus slice.

    The vocab is model-sized (bounded by the parameter, not the corpus),
    so the top-V is a TakeOrderedAndProject and the membership join is a
    broadcast — per-doc scoring never shuffles the corpus a second time;
    the only corpus-wide shuffle is the term-frequency aggregation.
    """
    df = fan_out(df)
    terms = df.select("doc_id", F.explode(words(F.col("text"))).alias("term"))
    vocab = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("_tf"))
        .orderBy(F.desc("_tf"), F.asc("term"))
        .limit(vocab_size)
        .select("term", F.lit(True).alias("_in_vocab"))
    )
    scored = terms.join(F.broadcast(vocab), "term", "left")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens").cast("double"), 6).alias(
                "oov_rate"
            ),
        )
    )


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", top_k: int = 50
) -> DataFrame:
    """First-round BPE (byte-pair-encoding) merge statistics: the top-k
    adjacent character pairs by corpus frequency — the tokenizer-induction
    stage of a training-data pipeline (each BPE merge round picks the most
    frequent pair; this computes the full ranked candidate table).

    Scale shape (the classic BPE trick): the corpus first REDUCES to its
    distinct-word vocabulary with frequencies (one shuffle, map-side
    partial aggregation, output size = |vocab| — sublinear in corpus
    size), and pair extraction explodes only the vocabulary weighted by
    word frequency, never the raw corpus. The final ranking runs over at
    most alphabet² = 676 candidate pairs — bounded by construction, so
    the global rank window is metadata-sized, not corpus-sized.

    Words are lowercased ASCII-letter runs (non-letters become
    boundaries); words shorter than 2 characters contribute no pairs.
    Deterministic total order (count DESC, pair ASC) makes top-k
    reproducible under any partitioning.
    """
    df = fan_out(df)
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z]+", " ")),
        " ",
    )
    vocab = (
        df.select(F.explode(toks).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = vocab.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.substring(F.col("word"), i, F.lit(2)),
            )
        ).alias("pair"),
        "freq",
    )
    agg = pairs.groupBy("pair").agg(F.sum("freq").alias("pair_count"))
    # Although <= 676 rows reach the ranking (bounded by the alphabet, not
    # the data), the rank still routes through the distributed
    # histogram-offset machinery — the engine ships zero unpartitioned
    # WindowExecs, bounded or not (plan-audit contract). count DESC ==
    # negated count ASC; arithmetic shiftright keeps the coarse buckets
    # order-aligned for negatives (floor division by 1024).
    from ssg_etl_spark.cache import persist_tracked
    from ssg_etl_spark.operators.analytics import global_row_number

    # Persisted (r13): the rank machinery consumes its input twice, and
    # this input's lineage is the whole vocabulary reduction — stage
    # metrics showed the corpus word-explode aggregation running twice.
    # ≤ alphabet² rows.
    agg = persist_tracked(agg)
    ranked = global_row_number(
        agg.withColumn("_neg", -F.col("pair_count")),
        "_neg",
        ["pair"],
        out_col="rank",
        coarse_fn=lambda c: F.shiftright(F.col(c).cast("bigint"), 10),
    )
    return (
        ranked.filter(F.col("rank") <= top_k)
        .select("rank", "pair", "pair_count")
    )


def hashed_tf(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hashing-trick featurization (the classic feature-hashing / hashed
    term-frequency vectorizer): every token hashes to one of ``dim``
    cells (md5 — engine-portable), cell counts are the document's sparse
    TF vector, L2-normalized. No vocabulary, no fit pass, no model state
    — the property that makes the featurizer embarrassingly parallel at
    100 TB (one scan, one (doc, cell)-keyed map-side-combined count).

    Returns SPARSE rows ``(id, cell int, tf bigint, weight double)`` —
    only occupied cells. ``weight = tf / sqrt(Σ tf²)``; the norm is a
    sqrt of an exact integer, and IEEE sqrt/division are correctly
    rounded, so weights replay bit-identically in any engine.

    Tokens are lowercased ASCII-letter runs (the corpus-wide convention
    of :func:`bpe_pair_counts`)."""
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z]+", " ")),
        " ",
    )
    cell = (
        F.conv(F.substring(F.md5(F.col("_w").cast("binary")), 1, 2), 16, 10)
        .cast("int")
        % dim
    )
    tf = (
        fan_out(df)
        .select(F.col(id_col), F.explode(toks).alias("_w"))
        .filter(F.length("_w") >= 1)
        .groupBy(id_col, cell.alias("cell"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    norm = Window.partitionBy(id_col)
    return tf.withColumn(
        "weight",
        F.col("tf")
        / F.sqrt(F.sum(F.col("tf") * F.col("tf")).over(norm).cast("double")),
    )


def hashed_tf_dense(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dense ``array<double>`` form of :func:`hashed_tf` — the bridge from
    raw text into the embedding operators (k-means, ANN, near-dup):
    ``(id, vec)`` with unoccupied cells 0.0. Pure placement (map build +
    indexed lookup), so the dense values equal the sparse weights
    exactly."""
    sparse = hashed_tf(df, dim, text_col, id_col)
    m = sparse.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("cell"), F.col("weight")))
        ).alias("_m")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(F.col("_m"), i.cast("int")), F.lit(0.0)),
    )
    return m.select(F.col(id_col), vec.alias("vec"))


def bigram_logprob(df: DataFrame, lam: float = 0.75) -> DataFrame:
    """Interpolated bigram LM quality score — the perplexity-filter
    upgrade of :func:`unigram_logprob`: mean per-position
    ``ln(λ·P(w|prev) + (1−λ)·P(w))`` under the corpus's own counts.
    Self-scoring keeps every bigram in-vocabulary (cf ≥ 1), so the
    interpolation needs no unseen-mass smoothing knob; ``λ`` mixes in the
    unigram so rare-context bigrams are not over-trusted. Repetitive
    boilerplate scores high, shuffled/OCR text scores low — threshold or
    decile-stratify exactly like CCNet perplexity buckets.

    Scale shape mirrors the unigram: one explode into per-doc bigram TF
    (persisted), corpus bigram counts and their prefix-context sums are
    term-dimension tables joined back 1:1 per TF row (AQE broadcasts
    them), the Σ ln partial sum runs on DECIMAL(28,12) intermediates.
    All probability inputs are ratios of exact integers, so the mixed
    term is bit-identical cross-engine before the final rounding.

    Bigrams and unigram tokens both come from :func:`word_pairs`: each
    text is split once below a lambda-free, codegen'd explode. A
    ``transform(sequence(1, n - 1), i -> (element_at(ws, i), ...))`` over
    ``ws = split(text)`` would inline the split into the lambda, re-splitting
    the whole text twice per bigram, and keep the explode out of
    whole-stage codegen.

    Documents with fewer than 2 tokens have no bigrams and drop out.
    """
    from ssg_etl_spark.cache import persist_tracked

    stream = word_pairs(df)
    tfb = persist_tracked(
        stream.filter(F.col("cur").isNotNull())
        .groupBy("doc_id", "prev", "cur")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    corpus_bi = persist_tracked(
        tfb.groupBy("prev", "cur").agg(F.sum("c").alias("cfb"))
    )
    ctx = corpus_bi.groupBy("prev").agg(F.sum("cfb").alias("cfp"))

    terms = stream.select("doc_id", F.col("prev").alias("term"))
    uni = persist_tracked(
        terms.groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
    )
    total = uni.agg(F.sum("cf").alias("_n_total"))

    mix = F.lit(lam) * (
        F.col("cfb").cast("double") / F.col("cfp").cast("double")
    ) + F.lit(1.0 - lam) * (
        F.col("cf").cast("double") / F.col("_n_total").cast("double")
    )
    per_doc = (
        tfb.join(corpus_bi, ["prev", "cur"])
        .join(ctx, "prev")
        .join(uni, F.col("cur") == F.col("term"))
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum((F.col("c") * F.log(mix)).cast("decimal(28,12)"))
            .cast("double")
            .alias("_s"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        F.round(
            F.col("_s") / F.col("n_bigrams").cast("double"), 6
        ).alias("mean_logprob"),
    )


def lm_quality_cut(df: DataFrame, keep_frac: float = 0.2) -> DataFrame:
    """Percentile-threshold quality curation: score every document with
    the corpus-self unigram LM (:func:`unigram_logprob`) and keep the top
    ``keep_frac`` of the corpus — the CCNet-style "keep the head of the
    perplexity distribution" cut, with the threshold derived FROM the
    corpus instead of hand-tuned.

    Returns every document with its score, the corpus-wide threshold it
    was judged against, and the keep decision — the auditable form (the
    kept subset is a trivial filter). The threshold is one exact
    ``percentile`` aggregate (linear interpolation — bit-identical to
    DuckDB ``quantile_cont``) broadcast back over the scores: two
    model-sized shuffles beyond the LM itself, nothing corpus-sized
    converges anywhere.
    """
    if not 0.0 < keep_frac < 1.0:
        raise ValueError("keep_frac must be in (0, 1)")
    from ssg_etl_spark.cache import persist_tracked

    # Persisted (r13): the threshold aggregate and the final projection
    # both consume the scores; unpersisted, the LM scoring joins ran
    # twice. Doc-sized (id, n_tokens, score) rows.
    scores = persist_tracked(unigram_logprob(df))
    thr = scores.agg(
        F.expr(
            f"percentile(mean_logprob, {1.0 - keep_frac!r})"
        ).alias("_thr")
    )
    return scores.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "mean_logprob",
        F.round("_thr", 6).alias("threshold"),
        (F.col("mean_logprob") >= F.col("_thr")).alias("kept"),
    )
