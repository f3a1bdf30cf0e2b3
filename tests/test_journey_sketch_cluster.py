"""Operator-level tests for the round-7 additions: k-means clustering,
the deterministic HLL sketch (incl. the merge law), and the user-journey
operators (funnel, cohort retention)."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from ssg_etl_spark.operators import clustering, sketches
from ssg_etl_spark.operators.funnel import cohort_retention, funnel_steps


# ---------------------------------------------------------------- k-means


def _vec_df(spark, rows):
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_kmeans_separates_two_obvious_blobs(spark):
    """Points near (0,0) and near (10,10) split into the two seed-derived
    clusters regardless of id interleaving."""
    low = [[0.0 + i * 0.1, 0.0] for i in range(5)]
    high = [[10.0 + i * 0.1, 10.0] for i in range(5)]
    rows = []
    for i in range(5):  # interleave ids so seeding picks one of each
        rows.append((2 * i, low[i]))
        rows.append((2 * i + 1, high[i]))
    out = clustering.kmeans_assign(_vec_df(spark, rows), k=2, n_iter=3)
    got = {r["vec_id"]: r["cluster_id"] for r in out.collect()}
    assert {got[i] for i in (0, 2, 4, 6, 8)} == {0}  # low blob = seed 0
    assert {got[i] for i in (1, 3, 5, 7, 9)} == {1}
    assert len(got) == 10


def test_kmeans_singleton_cluster_has_zero_distance(spark):
    """A cluster that converges to a single point reports d2 exactly 0.0
    (the -0.0 normalization contract)."""
    rows = [(0, [0.0, 0.0]), (1, [100.0, 100.0]), (2, [0.2, 0.0])]
    out = clustering.kmeans_assign(_vec_df(spark, rows), k=2, n_iter=2)
    d2 = {r["vec_id"]: r["d2"] for r in out.collect()}
    assert d2[1] == 0.0 and math.copysign(1.0, d2[1]) == 1.0


def test_kmeans_profile_counts_and_inertia(spark):
    rows = [(i, [float(i % 2) * 10.0, 0.0]) for i in range(8)]
    prof = clustering.kmeans_profile(_vec_df(spark, rows), k=2, n_iter=2)
    got = {r["cluster_id"]: r for r in prof.collect()}
    assert got[0]["n_points"] == 4 and got[1]["n_points"] == 4
    assert got[0]["inertia"] == 0.0  # both blobs collapse onto a centroid
    assert got[1]["inertia"] == 0.0


def test_kmeans_rejects_k_larger_than_corpus(spark):
    with pytest.raises(ValueError, match="exceeds corpus"):
        clustering.kmeans_assign(_vec_df(spark, [(0, [1.0])]), k=2, n_iter=1)


def test_kmeans_assign_evaluates_argmin_once(spark):
    """The k-dot argmin (array_sort over the per-centroid distance
    structs) must appear exactly ONCE in the executed plan: extracting
    cluster_id and d2 straight off the expression duplicated the whole
    per-row distance computation per output column (r13 fix — the
    intermediate `_best` projection pins single evaluation)."""
    rows = [(i, [float(i), 1.0]) for i in range(6)]
    out = clustering.kmeans_assign(_vec_df(spark, rows), k=2, n_iter=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("array_sort") == 1


def test_fan_out_size_aware_width(spark):
    """fan_out(bytes_per_task=...) derives the fan width from the plan's
    size estimate: a tiny input is NOT shredded to default parallelism
    (the r13 small-corpus fix), while a tiny bytes_per_task still caps
    at the session parallelism; the blanket form fans regardless, cached
    or not."""
    from ssg_etl_spark.partitioning import fan_out

    one = spark.range(100).coalesce(1)
    target = spark.sparkContext.defaultParallelism
    assert fan_out(one).rdd.getNumPartitions() == target
    assert fan_out(one, bytes_per_task=1 << 30).rdd.getNumPartitions() == 1
    assert fan_out(one, bytes_per_task=1).rdd.getNumPartitions() == target
    # A cached single-partition frame is still a bare plan: it fans too.
    cached = spark.range(100).coalesce(1).cache()
    try:
        assert fan_out(cached).rdd.getNumPartitions() == target
    finally:
        cached.unpersist()


def test_fan_out_leaves_shuffled_input_unchanged(spark):
    """Below a shuffle the width is the shuffle's: both forms return a
    shuffled input as it is — cached or not, however small its size
    estimate — and without starting a Spark job (under AQE, asking a
    shuffled plan for its partition count runs its stages)."""
    from ssg_etl_spark.partitioning import fan_out

    wide = spark.range(100).repartition(8)
    agg = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
    cached = agg.cache()
    sc = spark.sparkContext
    group = "fan-out-shuffled"
    sc.setJobGroup(group, "fan_out")
    try:
        for df in (wide, agg, cached):
            assert fan_out(df) is df
            assert fan_out(df, bytes_per_task=1 << 30) is df
            assert fan_out(df, bytes_per_task=1) is df
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        cached.unpersist()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("where", ["column", "directory"])
def test_fan_out_reads_the_plan_not_its_text(spark, tmp_path, where):
    """A single-file scan fans to the default parallelism even when a
    column or a directory of its path is named ``Exchange…``: the
    decision reads plan nodes, not the plan's printed text."""
    from ssg_etl_spark.partitioning import fan_out

    col = "ExchangeRate" if where == "column" else "rate"
    path = str(tmp_path / ("Exchange_dir" if where == "directory" else "t") / "p")
    spark.range(100).selectExpr("id", f"id * 1.5 AS {col}").coalesce(1).write.parquet(path)
    df = spark.read.parquet(path).select(col)
    assert df.rdd.getNumPartitions() == 1
    target = spark.sparkContext.defaultParallelism
    assert fan_out(df).rdd.getNumPartitions() == target


# ------------------------------------------------------------ HLL sketch


def _ids_df(spark, ids, tag="t"):
    return spark.createDataFrame([(tag, i) for i in ids], ["g", "v"])


def test_hll_merge_law_equals_sketch_of_union(spark):
    """register-wise MAX of two sketches == the sketch of the union,
    EXACTLY (the property that makes it a rollup)."""
    a = sketches.hll_registers(_ids_df(spark, range(0, 600)), ["g"], "v")
    b = sketches.hll_registers(_ids_df(spark, range(400, 1000)), ["g"], "v")
    u = sketches.hll_registers(_ids_df(spark, range(0, 1000)), ["g"], "v")
    merged = sketches.hll_merge([a, b], ["g"])
    assert {
        (r["g"], r["reg"], r["max_rho"]) for r in merged.collect()
    } == {(r["g"], r["reg"], r["max_rho"]) for r in u.collect()}


def test_hll_estimate_within_typical_error(spark):
    """p=8 → ~6.5% standard error; 1000 distinct values land within 4σ,
    and duplicate re-insertion never changes the sketch."""
    once = sketches.approx_distinct(_ids_df(spark, range(1000)), ["g"], "v")
    twice = sketches.approx_distinct(
        _ids_df(spark, list(range(1000)) * 3), ["g"], "v"
    )
    e1 = once.collect()[0]["approx_distinct"]
    e2 = twice.collect()[0]["approx_distinct"]
    assert e1 == e2
    assert abs(e1 - 1000) / 1000 < 0.26


def test_hll_small_range_uses_linear_counting(spark):
    """With n << m most registers are empty: the estimate takes the
    linear-counting branch, m*ln(m/zeros) for the exact integer zeros."""
    regs = sketches.hll_registers(_ids_df(spark, range(10)), ["g"], "v")
    occupied = regs.count()
    est = sketches.hll_estimate(regs, ["g"]).collect()[0]["approx_distinct"]
    expect = round(256.0 * math.log(256.0 / (256 - occupied)), 4)
    assert est == expect


# ---------------------------------------------------------------- funnel


def _events(spark, rows):
    return spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1, 0, 0, s), u, t, 1.0, "{}")
            for i, (u, t, s) in enumerate(rows)
        ],
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
    )


def test_funnel_strict_order_and_dropoff(spark):
    rows = [
        # user 1: full funnel in order
        (1, "view", 0), (1, "click", 10), (1, "purchase", 20),
        # user 2: click BEFORE view → funnel stalls at step 1
        (2, "click", 0), (2, "view", 10),
        # user 3: never viewed → not in the output at all
        (3, "purchase", 0),
        # user 4: view then click at the SAME second → tie does not advance
        (4, "view", 5), (4, "click", 5),
    ]
    out = funnel_steps(
        _events(spark, rows), ["view", "click", "purchase"]
    )
    got = {r["user_id"]: r for r in out.collect()}
    assert set(got) == {1, 2, 4}
    assert got[1]["steps_completed"] == 3
    assert got[2]["steps_completed"] == 1
    assert got[2]["step2_ts"] is None
    assert got[4]["steps_completed"] == 1


def test_funnel_takes_earliest_qualifying_times(spark):
    rows = [
        (1, "view", 30), (1, "view", 0),          # earliest view wins
        (1, "click", 10), (1, "click", 40),       # first click AFTER view=0
    ]
    out = funnel_steps(_events(spark, rows), ["view", "click"]).collect()[0]
    assert out["step1_ts"].second == 0
    assert out["step2_ts"].second == 10


# ------------------------------------------------------------- retention


def test_cohort_retention_daily_matrix(spark):
    def ev(i, u, day):
        return (i, dt.datetime(2024, 1, day), u, "view", 1.0, "{}")

    events = spark.createDataFrame(
        [
            ev(0, 1, 1), ev(1, 2, 1),   # cohort Jan-1: users 1,2
            ev(2, 1, 2),                 # user 1 active day+1
            ev(3, 1, 2),                 # same user+day: counted once
            ev(4, 3, 2),                 # cohort Jan-2: user 3
        ],
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    got = {
        (r["cohort_period"], r["periods_since"]): (
            r["n_users"],
            r["retained_pct"],
        )
        for r in cohort_retention(events, period="day").collect()
    }
    assert got[("2024-01-01", 0)] == (2, 100.0)
    assert got[("2024-01-01", 1)] == (1, 50.0)
    assert got[("2024-01-02", 0)] == (1, 100.0)
    assert len(got) == 3


# -------------------------------------------------------- streaming sketch


def test_streaming_hll_fold_matches_batch_sketch(spark, sf_dir, tmp_path):
    """Registers folded micro-batch-by-micro-batch equal the one-shot
    batch sketch of the full table (the MAX-merge law in motion), and
    re-applying a batch leaves them unchanged (replay idempotence)."""
    from ssg_etl_spark.sources.tables import load_table
    from ssg_etl_spark.streaming.pipeline import (
        foreach_batch_hll_merge,
        run_hll_stream,
    )

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    events.repartition(3).write.parquet(src)

    regs_path = str(tmp_path / "regs")
    run_hll_stream(
        spark,
        src,
        str(tmp_path / "ckpt"),
        regs_path,
        ["event_type"],
        "user_id",
    )
    from ssg_etl_spark.sources.versioning import (
        read_snapshot,
        snapshot_versions,
    )

    streamed = {
        (r["event_type"], r["reg"], r["max_rho"])
        for r in read_snapshot(spark, regs_path).collect()
    }
    batch = {
        (r["event_type"], r["reg"], r["max_rho"])
        for r in sketches.hll_registers(
            events, ["event_type"], "user_id"
        ).collect()
    }
    assert streamed == batch

    # Replay: re-apply an arbitrary slice; MAX-merge must be a no-op.
    foreach_batch_hll_merge(regs_path, ["event_type"], "user_id")(
        events.limit(500), batch_id=999
    )
    replayed = {
        (r["event_type"], r["reg"], r["max_rho"])
        for r in read_snapshot(spark, regs_path).collect()
    }
    assert replayed == streamed

    # Crash-safety: state publishes as atomic snapshot versions — every
    # pre-replay version is still fully readable (a crash mid-commit can
    # never destroy accumulated registers, unlike an in-place overwrite).
    versions = snapshot_versions(regs_path)
    assert len(versions) >= 2
    prev = {
        (r["event_type"], r["reg"], r["max_rho"])
        for r in read_snapshot(spark, regs_path, versions[-2]).collect()
    }
    assert prev == streamed


# ------------------------------------------------------------- count-min


def test_sketches_ignore_nulls(spark):
    """NULL values must not occupy HLL registers or CMS cells: the
    sketches approximate COUNT(DISTINCT ..) / GROUP BY frequencies, both
    of which ignore NULLs. A NULL row would md5 to a register and shrink
    the HLL empty-register correction (r7 advisor finding)."""
    vals = [(str(i),) for i in range(50)]
    clean = spark.createDataFrame(vals, ["v"])
    dirty = spark.createDataFrame(vals + [(None,)] * 7, ["v"])

    hll_clean = {(r["reg"], r["max_rho"]) for r in sketches.hll_registers(clean, [], "v").collect()}
    hll_dirty = {(r["reg"], r["max_rho"]) for r in sketches.hll_registers(dirty, [], "v").collect()}
    assert hll_clean == hll_dirty

    cms_clean = {(r["row"], r["reg"], r["cnt"]) for r in sketches.cms_sketch(clean, [], "v").collect()}
    cms_dirty = {(r["row"], r["reg"], r["cnt"]) for r in sketches.cms_sketch(dirty, [], "v").collect()}
    assert cms_clean == cms_dirty


def test_cms_overcounts_never_undercount_and_merge(spark):
    vals = [i % 37 for i in range(1000)]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    sketch = sketches.cms_sketch(df, [], "v")
    keys = df.distinct()
    est = {
        r["v"]: r["est_count"]
        for r in sketches.cms_lookup(sketch, keys, "v").collect()
    }
    from collections import Counter

    exact = Counter(vals)
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)

    # Merge law: sketches of disjoint halves sum to the whole's sketch.
    a = sketches.cms_sketch(
        spark.createDataFrame([(v,) for v in vals[:500]], ["v"]), [], "v"
    )
    b = sketches.cms_sketch(
        spark.createDataFrame([(v,) for v in vals[500:]], ["v"]), [], "v"
    )
    merged = {
        (r["row"], r["reg"]): r["cnt"]
        for r in sketches.cms_merge([a, b], []).collect()
    }
    whole = {
        (r["row"], r["reg"]): r["cnt"] for r in sketch.collect()
    }
    assert merged == whole


def test_cms_unseen_key_reads_zero_or_collision(spark):
    df = spark.createDataFrame([(1,), (2,)], ["v"])
    sketch = sketches.cms_sketch(df, [], "v")
    probe = spark.createDataFrame([(999999,)], ["v"])
    est = sketches.cms_lookup(sketch, probe, "v").collect()[0]["est_count"]
    assert est in (0, 1, 2)  # zero unless it collides in EVERY row


# -------------------------------------------------------------- hashed TF


def _cell_of(token: str, dim: int = 64) -> int:
    import hashlib

    return int(hashlib.md5(token.encode()).hexdigest()[:2], 16) % dim


def test_hashed_tf_counts_and_l2_norm(spark):
    from ssg_etl_spark.operators import text as t

    df = spark.createDataFrame([(1, "aa bb AA, x7aa")], ["doc_id", "text"])
    # tokens: aa, bb, aa, x, aa  (lowercased; digits are boundaries)
    rows = {r["cell"]: r for r in t.hashed_tf(df).collect()}
    assert rows[_cell_of("aa")]["tf"] == 3
    assert rows[_cell_of("bb")]["tf"] == 1
    assert rows[_cell_of("x")]["tf"] == 1
    sq = sum(r["weight"] ** 2 for r in rows.values())
    assert abs(sq - 1.0) < 1e-12  # L2-normalized


def test_hashed_tf_dense_matches_sparse(spark):
    from ssg_etl_spark.operators import text as t

    df = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "gamma")], ["doc_id", "text"]
    )
    sparse = {
        (r["doc_id"], r["cell"]): r["weight"]
        for r in t.hashed_tf(df).collect()
    }
    for r in t.hashed_tf_dense(df).collect():
        vec = r["vec"]
        assert len(vec) == 64
        for cell, w in enumerate(vec):
            if (r["doc_id"], cell) in sparse:
                assert w == sparse[(r["doc_id"], cell)]
            else:
                assert w == 0.0


def test_hashed_tf_collisions_sum_into_one_cell(spark):
    from ssg_etl_spark.operators import text as t

    # Find two distinct tokens that share a cell, from the test side.
    import itertools
    import string

    by_cell: dict[int, str] = {}
    pair = None
    for s in itertools.product(string.ascii_lowercase, repeat=2):
        tok = "".join(s)
        c = _cell_of(tok)
        if c in by_cell:
            pair = (by_cell[c], tok, c)
            break
        by_cell[c] = tok
    a, b, cell = pair
    df = spark.createDataFrame([(1, f"{a} {b}")], ["doc_id", "text"])
    rows = t.hashed_tf(df).collect()
    assert len(rows) == 1 and rows[0]["cell"] == cell and rows[0]["tf"] == 2


def test_kmeans_precomputed_assign_plan_has_zero_exchanges(spark):
    """The serving path (assign to pre-trained centroids) must be a pure
    scan+project: the model rides the expression, nothing shuffles."""
    import io
    import re
    from contextlib import redirect_stdout

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)], ["vec_id", "embedding"]
    )
    cent = [(0, [0.0, 1.0]), (1, [19.0, 1.0])]
    out = clustering.kmeans_assign_precomputed(df, cent)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    nodes = re.findall(r"^\(\d+\) (\w+)", buf.getvalue(), re.MULTILINE)
    assert "Exchange" not in nodes and "ShuffleExchange" not in str(nodes)
    # And it labels correctly.
    got = {r["vec_id"]: r["cluster_id"] for r in out.collect()}
    assert got[0] == 0 and got[19] == 1


def test_kmeans_fit_then_assign_matches_fit_assign(spark):
    """kmeans_assign == kmeans_fit + kmeans_assign_precomputed on the
    same corpus (the split is a pure refactoring of the combined op)."""
    rows = [(i, [float(i % 5), float(i % 3)]) for i in range(30)]
    df = _vec_df(spark, rows)
    combined = {
        (r["vec_id"], r["cluster_id"], r["d2"])
        for r in clustering.kmeans_assign(df, k=3, n_iter=2).collect()
    }
    cent = clustering.kmeans_fit(df, k=3, n_iter=2)
    split = {
        (r["vec_id"], r["cluster_id"], r["d2"])
        for r in clustering.kmeans_assign_precomputed(df, cent).collect()
    }
    assert combined == split


# ------------------------------------------------- projection / sampling


def test_random_projection_preserves_scaled_norms(spark):
    """JL sanity on an orthogonal pair: projected norms concentrate near
    the originals, and the plan has zero exchanges (matrix is folded)."""
    import io
    import re
    from contextlib import redirect_stdout

    from ssg_etl_spark.operators import similarity as sim

    d_in = 64
    rows = [
        (1, [1.0 if i < 32 else 0.0 for i in range(d_in)]),
        (2, [0.0 if i < 32 else 1.0 for i in range(d_in)]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = sim.random_projection(df, d_in=d_in, d_out=16)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    assert "Exchange" not in re.findall(
        r"^\(\d+\) (\w+)", buf.getvalue(), re.MULTILINE
    )
    got = {r["vec_id"]: r["proj"] for r in out.collect()}
    for vid, orig in rows:
        n_orig = sum(x * x for x in orig)
        n_proj = sum(y * y for y in got[vid])
        assert abs(n_proj - n_orig) / n_orig < 0.75  # JL at d_out=16 is loose


def test_random_projection_matrix_is_deterministic():
    from ssg_etl_spark.operators import similarity as sim

    a = sim.rp_sign_matrix(8, 4)
    b = sim.rp_sign_matrix(8, 4)
    assert a == b
    assert all(s in (1.0, -1.0) for row in a for s in row)


def test_cluster_balanced_sample_equal_quota(spark):
    """An 80/20-skewed corpus still yields equal per-cluster quotas."""
    rows = [(i, [0.0, 0.0]) for i in range(80)] + [
        (100 + i, [50.0, 50.0]) for i in range(20)
    ]
    # ensure both blobs are seedable: ids 0,1 both in blob A -> k=2 seeds
    # are (0, [0,0]) and (1, [0,0])? No: seeds are the 2 lowest ids, both
    # blob A. Lloyd reassigns: all of blob A ties to both seeds -> cid 0;
    # blob B is equidistant too. Give seed 1 to blob B instead:
    rows = [(0, [0.0, 0.0]), (1, [50.0, 50.0])] + [
        (2 + i, [0.0, 0.0]) for i in range(78)
    ] + [(100 + i, [50.0, 50.0]) for i in range(19)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = clustering.cluster_balanced_sample(df, per_cluster=10, k=2, n_iter=2)
    counts = {
        r["cluster_id"]: r["n"]
        for r in out.groupBy("cluster_id").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {0: 10, 1: 10}


def test_centroid_save_load_roundtrip_and_stream_assign(spark, tmp_path):
    """Model persisted to parquet loads back exactly; a streamed batch
    labeled via foreachBatch matches the batch-mode assignment."""
    from ssg_etl_spark.operators.clustering import (
        load_centroids,
        save_centroids,
    )
    from ssg_etl_spark.streaming.pipeline import foreach_batch_kmeans_assign

    rows = [(i, [float(i % 7), float(i % 4)]) for i in range(40)]
    df = _vec_df(spark, rows)
    cent = clustering.kmeans_fit(df, k=3, n_iter=2)
    model_path = str(tmp_path / "model")
    save_centroids(spark, cent, model_path)
    assert load_centroids(spark, model_path) == cent

    out_path = str(tmp_path / "assigned")
    foreach_batch_kmeans_assign(model_path, out_path)(df, batch_id=7)
    streamed = {
        (r["vec_id"], r["cluster_id"], r["d2"], r["batch_id"])
        for r in spark.read.parquet(out_path).collect()
    }
    batch = {
        (r["vec_id"], r["cluster_id"], r["d2"], 7)
        for r in clustering.kmeans_assign_precomputed(df, cent).collect()
    }
    assert streamed == batch

    # Replay idempotence (r12): re-applying the SAME batch id overwrites
    # its own partition — row count stays flat instead of doubling (the
    # pre-r12 plain append duplicated every crash-replayed batch).
    foreach_batch_kmeans_assign(model_path, out_path)(df, batch_id=7)
    assert spark.read.parquet(out_path).count() == 40
    # A second batch coexists: partitions accumulate across ids.
    foreach_batch_kmeans_assign(model_path, out_path)(df.limit(5), batch_id=8)
    assert spark.read.parquet(out_path).count() == 45


# ------------------------------------------------------------- bigram LM


def test_bigram_logprob_ranks_repetition_over_shuffle(spark):
    """A document whose bigrams repeat corpus-common transitions scores
    higher than one built from the same unigrams in a scrambled order
    (the signal bigram interpolation adds over the unigram model)."""
    from ssg_etl_spark.operators import text as t

    common = "the cat sat on the mat"
    docs = [(i, common) for i in range(10)]
    docs.append((100, "mat the on sat cat the"))  # same unigrams, shuffled
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: r["mean_logprob"] for r in t.bigram_logprob(df).collect()}
    assert got[0] > got[100]
    assert all(got[i] == got[0] for i in range(10))


def test_bigram_logprob_drops_sub_two_token_docs(spark):
    from ssg_etl_spark.operators import text as t

    df = spark.createDataFrame(
        [(1, "hello"), (2, "hello world")], ["doc_id", "text"]
    )
    out = t.bigram_logprob(df).collect()
    assert [r["doc_id"] for r in out] == [2]
    assert out[0]["n_bigrams"] == 1


def test_lm_quality_cut_keeps_requested_fraction(spark):
    from ssg_etl_spark.operators import text as t

    docs = [(i, "the cat sat on the mat") for i in range(8)] + [
        (100 + i, f"zq{i}x wv{i}k jj{i}p qq{i}m") for i in range(2)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = t.lm_quality_cut(df, keep_frac=0.2).collect()
    kept = {r["doc_id"] for r in out if r["kept"]}
    assert len(out) == 10
    # The two gibberish docs (unique rare terms) score lowest -> dropped.
    assert not kept & {100, 101}
    assert all(r["threshold"] == out[0]["threshold"] for r in out)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.lm_quality_cut(df, keep_frac=1.5)


def test_funnel_summary_rates(spark):
    from ssg_etl_spark.operators.funnel import funnel_summary

    rows = [
        (1, "view", 0), (1, "click", 1), (1, "purchase", 2),
        (2, "view", 0), (2, "click", 1),
        (3, "view", 0),
        (4, "view", 0),
    ]
    out = {
        r["step_no"]: r
        for r in funnel_summary(
            _events(spark, rows), ["view", "click", "purchase"]
        ).collect()
    }
    assert (out[1]["n_users"], out[2]["n_users"], out[3]["n_users"]) == (4, 2, 1)
    assert out[2]["pct_of_prev"] == 50.0
    assert out[3]["pct_of_prev"] == 50.0
    assert out[3]["pct_of_first"] == 25.0


def test_kmeans_silhouette_separated_blobs_near_one(spark):
    """Two tight, far-apart blobs: silhouette approaches 1 for both
    clusters; points exactly at a centroid contribute s = 1 (a = 0)."""
    rows = [(i, [0.0 + (i % 3) * 0.01, 0.0]) for i in range(9)] + [
        (100 + i, [100.0 + (i % 3) * 0.01, 0.0]) for i in range(9)
    ]
    # ids 0..8 are blob A; seed 2nd cluster from blob B:
    rows[1] = (1, [100.0, 0.0])
    df = _vec_df(spark, rows)
    out = {
        r["cluster_id"]: r["mean_silhouette"]
        for r in clustering.kmeans_silhouette(df, k=2, n_iter=2).collect()
    }
    assert len(out) == 2
    assert all(v > 0.99 for v in out.values())


def test_event_transitions_counts_and_probs(spark):
    from ssg_etl_spark.operators.funnel import event_transitions

    rows = [
        (1, "a", 0), (1, "b", 1), (1, "a", 2), (1, "b", 3),
        (2, "a", 0), (2, "c", 1),
    ]
    got = {
        (r["from_type"], r["to_type"]): (r["n"], r["p"])
        for r in event_transitions(_events(spark, rows)).collect()
    }
    assert got[("a", "b")] == (2, round(2 / 3, 6))
    assert got[("a", "c")] == (1, round(1 / 3, 6))
    assert got[("b", "a")] == (1, 1.0)
    assert len(got) == 3  # no cross-user transitions
