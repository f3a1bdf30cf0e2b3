"""Property-based invariants (hypothesis) for the merge/dedup algebra."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ssg_etl_spark.operators import merge as M

KEYS = st.integers(min_value=0, max_value=9)
VALS = st.one_of(st.none(), st.text(alphabet="abc", max_size=2))
ROWS = st.dictionaries(KEYS, VALS, max_size=8)  # key -> value, unique keys

_SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, d):
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(d.items())] or [], "k int, v string"
    )


@given(target=ROWS, source=ROWS)
@_SETTINGS
def test_merge_upsert_is_dict_union(spark, target, source):
    """merge(target, source) == {**target, **source} (source wins per key)."""
    out = {
        r.k: r.v
        for r in M.merge_upsert(_df(spark, target), _df(spark, source), ["k"]).collect()
    }
    assert out == {**target, **source}


@given(target=ROWS, source=ROWS)
@_SETTINGS
def test_detect_changes_partition(spark, target, source):
    """Change classes partition the source: insert ∪ update ∪ unchanged."""
    rows = M.detect_changes(_df(spark, target), _df(spark, source), ["k"]).collect()
    inserts = {r.k for r in rows if r.change_type == "insert"}
    updates = {r.k for r in rows if r.change_type == "update"}
    assert inserts == {k for k in source if k not in target}
    assert updates == {k for k in source if k in target and target[k] != source[k]}
    assert not inserts & updates


# --- CDC batch apply ≡ sequential replay --------------------------------
#
# Random VALID change streams (inserts of absent keys, updates/renames of
# present keys, deletes of present keys — the only sequences a database
# trigger can emit) generated as a program over a state machine; the
# batch-apply algebra (per-final-key winners + old-key retirement +
# move-supersede) must equal replaying the events one by one.

_PROG = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 97), VALS), max_size=10
)
_KEYSPACE = 14


@given(target=ROWS, prog=_PROG)
@_SETTINGS
def test_apply_cdc_batch_equals_sequential_replay(spark, target, prog):
    from ssg_etl_spark.streaming.cdc import apply_cdc_batch

    state = dict(target)
    events = []
    seq = 0
    for choice, pick, val in prog:
        present = sorted(state)
        absent = [k for k in range(_KEYSPACE) if k not in state]
        if choice == 0 and absent:  # INSERT a currently-absent key
            k = absent[pick % len(absent)]
            seq += 1
            events.append(("INSERT", None, (k, val), seq))
            state[k] = val
        elif choice == 1 and present:  # UPDATE, sometimes renaming the key
            k = present[pick % len(present)]
            nk = absent[pick % len(absent)] if absent and pick % 2 == 0 else k
            seq += 1
            events.append(("UPDATE", (k, state[k]), (nk, val), seq))
            del state[k]
            state[nk] = val
        elif choice == 2 and present:  # DELETE a present key
            k = present[pick % len(present)]
            seq += 1
            events.append(("DELETE", (k, state[k]), None, seq))
            del state[k]

    schema = (
        "operation string, old struct<k:int,v:string>, "
        "new struct<k:int,v:string>, seq int"
    )
    changes = spark.createDataFrame(events, schema)
    out = {
        r.k: r.v
        for r in apply_cdc_batch(
            _df(spark, target), changes, ["k"], seq_col="seq"
        ).collect()
    }
    assert out == state


# --- SCD2 expire-and-insert ≡ dictionary model ---------------------------

_HIST_KEYS = st.lists(KEYS, max_size=4)


@given(live=ROWS, hist_keys=_HIST_KEYS, updates=ROWS)
@_SETTINGS
def test_scd2_apply_matches_model(spark, live, hist_keys, updates):
    import datetime as dt

    eff = "2024-01-01"
    d2020, d2018, d2019 = dt.date(2020, 1, 1), dt.date(2018, 1, 1), dt.date(2019, 1, 1)
    deff = dt.date(2024, 1, 1)

    cur_rows = [(k, v, d2020, None, True) for k, v in sorted(live.items())]
    cur_rows += [(k, "h", d2018, d2019, False) for k in hist_keys]
    current = spark.createDataFrame(
        cur_rows or [],
        "k int, v string, valid_from date, valid_to date, is_current boolean",
    )
    upd = _df(spark, updates)

    expected = [(k, "h", d2018, d2019, False) for k in hist_keys]
    for k, v in live.items():
        if k in updates and updates[k] != v:  # null-safe: None==None is no-op
            expected.append((k, v, d2020, deff, False))
            expected.append((k, updates[k], deff, None, True))
        else:
            expected.append((k, v, d2020, None, True))
    for k, v in updates.items():
        if k not in live:
            expected.append((k, v, deff, None, True))

    out = M.scd2_apply(current, upd, ["k"], ["v"], eff)
    got = [
        (r.k, r.v, r.valid_from, r.valid_to, r.is_current) for r in out.collect()
    ]
    assert sorted(got, key=repr) == sorted(expected, key=repr)


# --- round-3 operators: chunking/packing and split algebra ---------------


@given(
    n_words=st.integers(min_value=0, max_value=120),
    chunk=st.integers(min_value=2, max_value=40),
    overlap=st.integers(min_value=0, max_value=39),
)
@_SETTINGS
def test_chunking_covers_document_and_packing_is_monotone(
    spark, n_words, chunk, overlap
):
    """Every word of a document lands in at least one chunk, chunk ids are
    dense from 0, and window ids from packing are monotone non-decreasing
    starting at 0."""
    from hypothesis import assume

    from ssg_etl_spark.operators.text import (
        chunk_documents,
        pack_chunks_into_windows,
    )

    assume(overlap < chunk)
    text = " ".join(f"w{i}" for i in range(n_words))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    chunks = chunk_documents(df, chunk_words=chunk, overlap_words=overlap)
    rows = sorted((r.chunk_id, r.chunk_words) for r in chunks.collect())
    assert [c for c, _ in rows] == list(range(len(rows)))
    step = chunk - overlap
    covered = []
    for c, n in rows:
        # chunk_words counts slice tokens (the empty doc's one '' token
        # included — str.split(' ') semantics in both engines).
        assert n <= chunk
        covered.extend(range(c * step, c * step + n))
    # Empty doc splits to [''] — one 1-token chunk — mirroring split(';','')
    expect = max(n_words, 1)
    assert set(covered) == set(range(expect))

    packed = sorted(
        (r.chunk_id, r.window_id)
        for r in pack_chunks_into_windows(chunks, window_tokens=chunk).collect()
    )
    wids = [w for _, w in packed]
    assert wids[0] == 0
    assert all(b >= a for a, b in zip(wids, wids[1:]))


@given(ids=st.sets(st.integers(min_value=0, max_value=10**9), max_size=40))
@_SETTINGS
def test_hash_split_partitions_input(spark, ids):
    """Every id gets exactly one split; assignment is independent of the
    rest of the dataset (pure function of the id)."""
    from ssg_etl_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(i,) for i in sorted(ids)] or [], "doc_id long")
    rows = hash_split(df).collect()
    assert {r.doc_id for r in rows} == ids
    assert all(r.split in ("train", "val", "test") for r in rows)
    if ids:
        one = min(ids)
        solo = hash_split(
            spark.createDataFrame([(one,)], "doc_id long")
        ).first()
        full = {r.doc_id: r.split for r in rows}
        assert solo.split == full[one]


EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=14),
        st.integers(min_value=0, max_value=14),
    ).filter(lambda e: e[0] != e[1]),
    max_size=12,
)


@given(edges=EDGES)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_duplicate_clusters_equals_union_find(spark, edges):
    """Pointer-jumping min-label propagation == plain union-find on random
    small graphs: every node labeled with its component's minimum id."""
    from ssg_etl_spark.operators.dedup import duplicate_clusters

    if not edges:
        return
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster_id for r in duplicate_clusters(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=40
        ),
        min_size=1,
        max_size=8,
    ),
    chunk=st.integers(min_value=2, max_value=8),
)
@_SETTINGS
def test_span_dedup_invariants(spark, docs, chunk):
    """(1) Exactly one occurrence of every distinct chunk digest keeps;
    (2) a document none of whose chunks appear anywhere else reassembles
    to its original text; (3) kept+dropped == total chunks per doc."""
    from ssg_etl_spark.operators.dedup import (
        chunk_keep_list,
        span_deduped_corpus,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    keep = chunk_keep_list(df, chunk_words=chunk).collect()
    per_hash = {}
    for r in keep:
        per_hash.setdefault(r.chunk_hash, []).append(r.keep)
    assert all(sum(ks) == 1 for ks in per_hash.values())

    out = {r.doc_id: r for r in span_deduped_corpus(df, chunk).collect()}
    n_chunks = {}
    for r in keep:
        n_chunks[r.doc_id] = n_chunks.get(r.doc_id, 0) + 1
    shared = {
        r.doc_id
        for r in keep
        if len(per_hash[r.chunk_hash]) > 1
    }
    for doc_id, text in rows:
        assert out[doc_id].n_kept + out[doc_id].n_dropped == n_chunks[doc_id]
        if doc_id not in shared:
            assert out[doc_id].clean_text == text


@given(
    k=st.integers(min_value=1, max_value=4),
    frac_kind=st.sampled_from([0.0, 0.25, 0.5, 0.75]),
    n_docs=st.integers(min_value=1, max_value=30),
)
@_SETTINGS
def test_mixture_sample_integer_part_is_exact(spark, k, frac_kind, n_docs):
    """rate = k + f ⇒ every row appears at least k times (epochs 0..k-1
    exactly), at most k+1; the fractional epoch count is binomial-bounded;
    and with f = 0 the count is exactly k per document."""
    from ssg_etl_spark.operators.sampling import mixture_sample

    docs = spark.createDataFrame(
        [(i, "s", f"t{i}") for i in range(n_docs)],
        "doc_id long, source string, text string",
    )
    rate = k + frac_kind
    rows = mixture_sample(docs, {"s": rate}).select("doc_id", "epoch").collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, set()).add(r.epoch)
    assert set(per_doc) == set(range(n_docs))
    for epochs in per_doc.values():
        assert set(range(k)) <= epochs
        assert epochs <= set(range(k + 1))
        if frac_kind == 0.0:
            assert epochs == set(range(k))


# ------------------------------------------------------------- log-bucket

_MONEY = st.one_of(
    st.decimals(
        min_value=-10**9, max_value=10**9, places=2, allow_nan=False,
        allow_infinity=False,
    ).map(float),
    st.sampled_from([0.0, -0.01, 0.01, 999999.0, -999999.99]),
)
_MONEY_LISTS = st.lists(_MONEY, min_size=1, max_size=40)
_QS = st.lists(
    st.sampled_from([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]),
    min_size=1, max_size=4, unique=True,
)


@given(vals=_MONEY_LISTS, qs=_QS)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_logbucket_quantiles_match_reference_on_random_money(spark, vals, qs):
    """Property: for any finite money-scale column and any quantile set,
    the distributed log-bucket sketch reproduces the pure-Python replay
    of its documented arithmetic exactly (the same claim the SQL oracle
    makes cross-engine), and every estimate obeys the relative-error
    contract against the true order statistic of the fixed-point domain."""
    import math
    from fractions import Fraction

    from ssg_etl_spark.operators import sketches
    from tests.test_logbucket import _ref_quantiles

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    sk = sketches.logbucket_sketch(df, "x")
    got = {
        r["q"]: r["value_est"]
        for r in sketches.logbucket_quantiles(sk, tuple(sorted(qs))).collect()
    }
    assert got == _ref_quantiles(vals, tuple(sorted(qs)))

    fixed = sorted(math.floor(v * 100 + 0.5) / 100.0 for v in vals)
    for q in qs:
        fq = Fraction(str(q))
        true = fixed[max(1, -((-fq.numerator * len(fixed)) // fq.denominator)) - 1]
        assert abs(got[q] - true) <= 0.005 * abs(true) + 0.005


# --------------------------------------------------------------- bottom-k

_KEYSETS = st.lists(
    st.one_of(st.integers(min_value=0, max_value=60), st.none()),
    min_size=1,
    max_size=80,
)


@given(keys=_KEYSETS, k=st.sampled_from([1, 4, 16]))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bottomk_matches_brute_on_random_multisets(spark, keys, k):
    """Property: for any key multiset (duplicates, NULLs) and any k, the
    sketch equals the brute-force bottom-k of the distinct non-null
    keys — regardless of which build regime (fast path or dup-heavy
    fallback) the input lands in."""
    from ssg_etl_spark.operators import sketches
    from tests.test_bottomk import _brute_bottomk

    df = spark.createDataFrame([(x,) for x in keys], "k bigint")
    got = sorted(
        (r["h"], r["k"])
        for r in sketches.bottomk_sketch(df, "k", k=k, oversample=2,
                                         max_rounds=2).collect()
    )
    assert got == _brute_bottomk(keys, k)


@given(
    a=st.sets(st.integers(min_value=0, max_value=400), min_size=1, max_size=60),
    b=st.sets(st.integers(min_value=0, max_value=400), min_size=1, max_size=60),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_kmv_set_estimates_exact_in_exhaustive_regime(spark, a, b):
    """Property: whenever both sketches hold their whole key set (k above
    both cardinalities), the set-algebra estimates ARE the exact union /
    intersection / Jaccard — no estimator error leaks into the
    exhaustive regime."""
    from ssg_etl_spark.operators import sketches

    k = 64  # > max_size of either set
    ska = sketches.bottomk_sketch(
        spark.createDataFrame([(x,) for x in sorted(a)], "k bigint"), "k", k=k
    )
    skb = sketches.bottomk_sketch(
        spark.createDataFrame([(x,) for x in sorted(b)], "k bigint"), "k", k=k
    )
    row = sketches.kmv_set_estimates(ska, skb, k=k).collect()[0]
    u, i = len(a | b), len(a & b)
    assert row["union_est"] == float(u)
    assert row["intersection_est"] == float(i)
    assert row["n_window"] == u
    # Same shortest-repr HALF_UP rounding the implementation uses —
    # Python's round() is banker's and differs at exact 4-decimal ties.
    from decimal import ROUND_HALF_UP, Decimal

    want = float(
        Decimal(repr(i / u)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
    )
    assert row["jaccard_est"] == want


# ------------------------------------------------------ PNG codec (r11)
# Pure-Python properties — no SparkSession involved, so hypothesis can
# run many examples cheaply.

_DIMS = st.integers(min_value=1, max_value=9)


@given(
    w=_DIMS,
    h=_DIMS,
    seed=st.integers(min_value=0, max_value=2**32 - 1),
    a=st.integers(min_value=1, max_value=255),
    b=st.integers(min_value=0, max_value=255),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_is_lossless(w, h, seed, a, b):
    """decode(encode(pixels)) == pixels for arbitrary dims and an LCG
    byte stream — the DEFLATE round-trip may not lose or reorder a
    single byte."""
    from ssg_etl_spark.operators import multimodal as mm

    n = 3 * w * h
    x, out = seed, bytearray()
    for _ in range(n):
        x = (x * 1103515245 + 12345) % (2**31)
        out.append((x >> 7 + (a % 3)) * a + b & 0xFF)
    pixels = bytes(out)
    assert mm.decode_png(mm.encode_png(w, h, pixels)) == (w, h, pixels)


@given(
    w=_DIMS,
    h=_DIMS,
    seed=st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=30, deadline=None)
def test_png_and_ppm_resample_agree(w, h, seed):
    """On any source raster, the PNG resample's decoded pixels equal the
    PPM resample's — one arithmetic, two containers."""
    from ssg_etl_spark.operators import multimodal as mm

    n = 3 * w * h
    x, out = seed, bytearray()
    for _ in range(n):
        x = (x * 48271) % 2147483647
        out.append(x & 0xFF)
    pixels = bytes(out)
    tw, th = max(1, w // 2), h
    png_out = mm._png_resize(mm.encode_png(w, h, pixels), tw, th)
    ppm_out = mm._ppm_resize(mm.encode_ppm(w, h, pixels), tw, th)
    assert mm.decode_png(png_out)[2] == mm.decode_ppm(ppm_out)[3]


@given(
    bidxs=st.lists(st.integers(min_value=1, max_value=14), min_size=1, max_size=12),
    sidx=st.integers(min_value=0, max_value=2),
    id3=st.booleans(),
    xing=st.booleans(),
)
@settings(max_examples=50, deadline=None)
def test_mp3_header_scan_matches_frame_arithmetic(bidxs, sidx, id3, xing):
    """Any valid MPEG1-L3 frame chain (random per-frame bitrates,
    optional ID3v2 prefix, optional Xing first frame) scans to exactly
    the spec arithmetic: media frame count, floor-mean bitrate, and
    1152-samples-per-frame duration — with the tag frame excluded."""
    from ssg_etl_spark.operators import multimodal as mm

    frames = [mm.mp3_frame_bytes(b, sidx) for b in bidxs]
    payload = b"".join(frames)
    if xing:
        tag = bytearray(mm.mp3_frame_bytes(9, sidx))
        tag[21:25] = b"Xing"
        tag[25:29] = (1).to_bytes(4, "big")
        tag[29:33] = len(bidxs).to_bytes(4, "big")
        payload = bytes(tag) + payload
    if id3:
        payload = b"ID3\x04\x00\x00\x00\x00\x00\x05" + bytes(5) + payload

    rate = (44100, 48000, 32000)[sidx]
    kbps = [(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)[b - 1]
            for b in bidxs]
    m = mm.mp3_header_scan(payload)
    assert m["n_frames"] == len(bidxs)
    assert m["bitrate_kbps"] == sum(k * 1000 for k in kbps) // (1000 * len(kbps))
    assert m["duration_ms"] == len(bidxs) * 1152 * 1000 // rate
    assert m["sample_rate"] == rate
    assert m["payload_bytes"] == len(payload)
    assert m["vbr_tag"] == ("xing" if xing else None)


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    seed=st.integers(min_value=0, max_value=10**6),
    flip=st.integers(min_value=0, max_value=32),
)
@settings(max_examples=50, deadline=None)
def test_png_header_scan_dims_and_header_tamper_detection(w, h, seed, flip):
    """png_header_scan reads exactly encode_png's dims at header cost,
    agrees with the full decoder, and NO single-byte corruption in the
    first 33 bytes (signature + IHDR chunk) survives: every flip breaks
    the signature, the first-chunk rule, the declared length, or the
    CRC — a tampered header can never triage as healthy."""
    import random

    import pytest as _p

    from ssg_etl_spark.operators import multimodal as mm

    raster = bytes(random.Random(seed).randrange(256) for _ in range(3 * w * h))
    png = mm.encode_png(w, h, raster)
    meta = mm.png_header_scan(png)
    assert (meta["width"], meta["height"]) == (w, h)
    assert mm.decode_png(png)[:2] == (w, h)

    bad = bytearray(png)
    bad[flip] ^= 0x5A
    with _p.raises(ValueError):
        mm.png_header_scan(bytes(bad))


@given(
    w=st.integers(min_value=1, max_value=4096),
    h=st.integers(min_value=1, max_value=4096),
    dur=st.integers(min_value=0, max_value=10**7),
    ts=st.integers(min_value=1, max_value=10**6),
    audio=st.booleans(),
)
@settings(max_examples=50, deadline=None)
def test_mp4_header_scan_roundtrips_container_fields(w, h, dur, ts, audio):
    """mp4_header_scan inverts mp4_container_bytes exactly for any
    geometry/timescale/duration/track mix — the integer duration_ms is
    the 14496-12 units*1000//timescale conversion."""
    from ssg_etl_spark.operators import multimodal as mm

    m = mm.mp4_header_scan(
        mm.mp4_container_bytes(w, h, dur, timescale=ts, with_audio=audio)
    )
    assert (m["width"], m["height"]) == (w, h)
    assert m["timescale"] == ts
    assert m["duration_ms"] == dur * 1000 // ts
    assert m["n_tracks"] == (2 if audio else 1)
    assert m["audio_codec"] == ("mp4a" if audio else None)


# --- Degenerate dedup inputs ---------------------------------------------
#
# Random tiny corpora over a 4-word vocabulary, so documents share 3-word
# shingles often and sometimes share none. At threshold 0 every verified
# path must still emit only pairs that share a shingle, with the exact
# Jaccard of their shingle sets; the prefix path is exact, the LSH paths
# are subsets.

_DOCS = st.lists(
    st.lists(st.sampled_from("abcd"), min_size=3, max_size=7).map(" ".join),
    min_size=2,
    max_size=8,
)


def _py_shingles(text):
    w = text.split(" ")
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def _py_jaccard(a, b):
    return len(a & b) / len(a | b)


def _docs_df(spark, texts, first_id=0):
    return spark.createDataFrame(
        list(enumerate(texts, start=first_id)), "doc_id long, text string"
    )


@given(texts=_DOCS)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_threshold_zero_emits_only_pairs_sharing_a_shingle(spark, texts):
    from ssg_etl_spark.cache import release_tracked
    from ssg_etl_spark.operators import dedup

    sh = {i: _py_shingles(t) for i, t in enumerate(texts)}
    want = {
        (a, b): _py_jaccard(sh[a], sh[b])
        for a in sh for b in sh if a < b and sh[a] & sh[b]
    }
    docs = _docs_df(spark, texts)
    try:
        prefix = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs_prefix(
                docs, 0.0, max_shingle_df=None
            ).collect()
        }
        assert prefix == want
        mh = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in dedup.minhash_lsh_pairs(
                docs, 0.0, max_shingle_df=None
            ).collect()
        }
        assert all(want.get(p) == j for p, j in mh.items())
        # vs-index: odd ids are the batch, even ids the index.
        idx = dedup.build_minhash_index(
            docs.filter("doc_id % 2 = 0"), max_shingle_df=None
        )
        probe = dedup.minhash_lsh_pairs_vs_index(
            idx["shingles"], idx["buckets"], idx["hot"],
            docs.filter("doc_id % 2 = 1"), 0.0, max_shingle_df=None,
            base_hot_buckets=idx["hot_buckets"],
        ).collect()
        for r in probe:
            pair = (min(r.doc_new, r.doc_base), max(r.doc_new, r.doc_base))
            assert want.get(pair) == r.jaccard
    finally:
        release_tracked()


def _py_capped_pairs(texts, cap, threshold):
    """The df-capped exact-Jaccard contract in Python: distinct 3-word
    shingles per document, shingles held by more than ``cap`` documents
    dropped from every set, then the pairs sharing a kept shingle whose
    Jaccard over the capped sets reaches ``threshold``."""
    from collections import Counter

    sh = {i: _py_shingles(t) for i, t in enumerate(texts)}
    if cap is not None:
        df = Counter(g for s in sh.values() for g in s)
        sh = {i: {g for g in s if df[g] <= cap} for i, s in sh.items()}
    out = {}
    for a in sh:
        for b in sh:
            if a < b and sh[a] & sh[b]:
                j = _py_jaccard(sh[a], sh[b])
                if j >= threshold:
                    out[(a, b)] = j
    return out


@pytest.mark.parametrize("cap", [None, 1, 2])
@given(texts=_DOCS)
@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_exact_jaccard_paths_match_the_capped_reference(spark, cap, texts):
    """``ngram_jaccard_pairs`` and the prefix path return exactly the
    cap-aware reference's pairs and Jaccard values, at thresholds 0, 0.5
    and 1 (a cap of 1 drops every shared shingle, so there are no pairs)."""
    from ssg_etl_spark.cache import release_tracked
    from ssg_etl_spark.operators import dedup

    docs = _docs_df(spark, texts)
    try:
        for threshold in (0.0, 0.5, 1.0):
            want = _py_capped_pairs(texts, cap, threshold)
            for op in (dedup.ngram_jaccard_pairs, dedup.ngram_jaccard_pairs_prefix):
                got = {
                    (r.doc_a, r.doc_b): r.jaccard
                    for r in op(docs, threshold, max_shingle_df=cap).collect()
                }
                assert got == want, (op.__name__, threshold)
    finally:
        release_tracked()


def test_exact_jaccard_all_identical_docs_capped_out(spark):
    """Every document the same text and a cap below the document count:
    every shingle is capped out, so both exact paths return no pairs
    (and raise nothing); under the cap they return every pair at 1.0."""
    from ssg_etl_spark.cache import release_tracked
    from ssg_etl_spark.operators import dedup

    docs = _docs_df(spark, ["a b c d e f"] * 4)
    every_pair = {(a, b): 1.0 for a in range(4) for b in range(a + 1, 4)}
    try:
        for op in (dedup.ngram_jaccard_pairs, dedup.ngram_jaccard_pairs_prefix):
            for threshold in (0.0, 1.0):
                assert op(docs, threshold, max_shingle_df=3).collect() == []
                got = {
                    (r.doc_a, r.doc_b): r.jaccard
                    for r in op(docs, threshold, max_shingle_df=4).collect()
                }
                assert got == every_pair
    finally:
        release_tracked()


def test_pair_jaccard_drops_candidates_without_a_shared_shingle(spark):
    """The verifier itself: a candidate pair with disjoint shingle sets
    has Jaccard 0, which a threshold of 0 would otherwise pass."""
    from ssg_etl_spark.operators import dedup

    shingles = spark.createDataFrame(
        [(1, "a b c"), (2, "x y z"), (3, "a b c")], "doc_id long, shingle string"
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "doc_a long, doc_b long")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup._pair_jaccard(pairs, shingles, 0.0).collect()
    }
    assert got == {(1, 3): 1.0}


def test_vs_index_doc_in_both_sides_uses_delta_shingles(spark):
    """A doc_id present in the index and in the batch is verified with
    the batch's shingle set on the batch side (|A| of the new text), not
    a merge of both texts."""
    from ssg_etl_spark.cache import release_tracked
    from ssg_etl_spark.operators import dedup

    base_texts = {1: "a b c d e f g h i j", 2: "a b c d x y"}
    delta_texts = {1: "a b c d x y z"}
    base = spark.createDataFrame(
        sorted(base_texts.items()), "doc_id long, text string"
    )
    delta = spark.createDataFrame(
        sorted(delta_texts.items()), "doc_id long, text string"
    )
    try:
        idx = dedup.build_minhash_index(base, max_shingle_df=None)
        got = {
            (r.doc_new, r.doc_base): r.jaccard
            for r in dedup.minhash_lsh_pairs_vs_index(
                idx["shingles"], idx["buckets"], idx["hot"], delta, 0.0,
                max_shingle_df=None,
            ).collect()
        }
    finally:
        release_tracked()
    assert got[(1, 2)] == 0.8
    for (new, old), j in got.items():
        assert j == _py_jaccard(
            _py_shingles(delta_texts[new]), _py_shingles(base_texts[old])
        )


def test_incremental_precomputed_same_values_with_aqe_and_broadcast_off(
    spark, sf_dir
):
    """`dedup_incremental_precomputed` under an embedder's session with
    AQE and broadcast joins off returns the same rows as under the
    engine defaults (the union of a persisted index side and a shuffled
    batch side once failed there with a partition-count zip error)."""
    import hashlib

    from ssg_etl_spark.cache import release_tracked
    from ssg_etl_spark.plans.registry import load_all

    spec = load_all(include_extra=True)["dedup_incremental_precomputed"]

    def value_hash():
        try:
            df = spec.builder(spark, sf_dir)
            cols = sorted(df.columns)
            lines = sorted(
                "|".join(repr(r[c]) for c in cols)
                for r in df.select(*cols).collect()
            )
        finally:
            release_tracked()
        assert lines, "empty result"
        return hashlib.sha256("\n".join(lines).encode()).hexdigest()

    base = value_hash()
    off = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in off}
    try:
        for k, v in off.items():
            spark.conf.set(k, v)
        assert value_hash() == base
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
