"""Hot-bucket cap guards (dedup + similarity LSH), multiprobe probe-set
properties, and simhash NULL-text semantics.

The cap is the 100 TB degenerate-input guard: one pathological bucket of b
members contributes b^2 candidate pairs, so production dedup/ANN always
bounds bucket size. These tests set a tiny cap via conf and assert the
candidate generation is actually bounded and the dropped buckets are
observable (no silent caps).
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from skinnerdb_spark.operators.dedup import (
    _LSH_MAX_BUCKET_DEFAULT,
    LSH_MAX_BUCKET,
    _rarity_prefix,
    cap_buckets,
    hot_bucket_report,
    lsh_bands,
    lsh_candidates,
    prefix_hot_bucket_report,
    shared_prefix_pairs,
    shared_shingle_hashes,
    shared_shingle_sets,
    shared_sigs,
)
from skinnerdb_spark.operators.similarity import (
    MP_BITS,
    MP_TABLES,
    _multi_ann,
    sim_hot_bucket_report,
)


def test_cap_buckets_drops_only_over_cap(spark):
    rows = [("b1", i) for i in range(5)] + [("b2", i) for i in range(2)] + [("b3", 0)]
    df = spark.createDataFrame(rows, "key string, doc_id int")
    kept = cap_buckets(df, ["key"], cap=2).groupBy("key").count().collect()
    sizes = {r["key"]: r["count"] for r in kept}
    assert sizes == {"b2": 2, "b3": 1}, "the 5-member bucket must be dropped whole"


def _old_lsh_candidates(spark, sf_dir, cap):
    """Reference: the cap join + bucket self-join shape bucket_pairs replaced."""
    bands = cap_buckets(lsh_bands(shared_sigs(spark, sf_dir)), ["band", "key"], cap)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _old_prefix_pairs(spark, sf_dir, cap):
    """Reference: the prefix-filter pairs via cap join + self-join on ``s``."""
    prefix = cap_buckets(_rarity_prefix(shared_shingle_sets(spark, sf_dir)), ["s"], cap)
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (2 * F.col("b.n") >= F.col("a.n"))
            & (2 * F.col("a.n") >= F.col("b.n"))
            & (
                3 * (1 + F.least(F.col("a.n") - F.col("a.rn"), F.col("b.n") - F.col("b.rn")))
                >= F.col("a.n") + F.col("b.n")
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    shh = shared_shingle_hashes(spark, sf_dir)
    sa = shh.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_h").alias("set_a"), F.col("n").alias("n_a")
    )
    sb = shh.select(
        F.col("doc_id").alias("doc_b"), F.col("sh_h").alias("set_b"), F.col("n").alias("n_b")
    )
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("bigint")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", inter.alias("inter_n"), "n_a", "n_b")
        .filter(3 * F.col("inter_n") >= F.col("n_a") + F.col("n_b"))
        .select(
            "doc_a", "doc_b", "inter_n", "n_a", "n_b",
            (
                F.col("inter_n").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter_n"))
            ).alias("jaccard"),
        )
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("cap", [_LSH_MAX_BUCKET_DEFAULT, 1, 2])
def test_grouped_pairs_match_self_join_reference(spark, sf_dir, cap):
    """The grouped bucket pass emits exactly the old self-join's pairs at
    the default cap and at tiny caps, and each hot-bucket report lists
    exactly the buckets the cap dropped."""
    prev = spark.conf.get(LSH_MAX_BUCKET, None)
    spark.conf.set(LSH_MAX_BUCKET, str(cap))
    try:
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            lsh = _rows(lsh_candidates(spark, sf_dir))
            prefix = _rows(shared_prefix_pairs(spark, sf_dir))
        warned = any(LSH_MAX_BUCKET in str(x.message) for x in w)
        assert warned == (cap != _LSH_MAX_BUCKET_DEFAULT), "warn on a non-default cap only"
        assert lsh == _rows(_old_lsh_candidates(spark, sf_dir, cap))
        assert prefix == _rows(_old_prefix_pairs(spark, sf_dir, cap))

        def over_cap(rows, key_cols):
            sizes = rows.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("bucket_n"))
            return _rows(sizes.filter(F.col("bucket_n") > cap))

        hot_lsh = _rows(hot_bucket_report(spark, sf_dir))
        assert hot_lsh == over_cap(lsh_bands(shared_sigs(spark, sf_dir)), ["band", "key"])
        hot_prefix = _rows(prefix_hot_bucket_report(spark, sf_dir))
        assert hot_prefix == over_cap(_rarity_prefix(shared_shingle_sets(spark, sf_dir)), ["s"])
    finally:
        if prev is None:
            spark.conf.unset(LSH_MAX_BUCKET)
        else:
            spark.conf.set(LSH_MAX_BUCKET, prev)
    if cap == 1:
        assert lsh == [] and prefix == [], "a pair needs a bucket of size >= 2"
    if cap == 2:
        assert lsh and hot_lsh and hot_prefix, "cap 2 must both keep and drop buckets here"


def test_dedup_lsh_cap_bounds_candidates_and_reports(spark, sf_dir):
    uncapped = lsh_candidates(spark, sf_dir).count()
    prev = spark.conf.get(LSH_MAX_BUCKET, None)
    spark.conf.set(LSH_MAX_BUCKET, "1")
    try:
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            capped = lsh_candidates(spark, sf_dir).count()
        assert any(LSH_MAX_BUCKET in str(x.message) for x in w), (
            "non-default cap must warn about oracle divergence"
        )
        # a pair needs a shared bucket of size >= 2; cap=1 excludes them all
        assert capped == 0 <= uncapped
        dropped = hot_bucket_report(spark, sf_dir)
        if uncapped > 0:
            assert dropped.count() > 0, "dropped buckets must be observable"
        assert dropped.filter(F.col("bucket_n") <= 1).count() == 0
    finally:
        if prev is None:
            spark.conf.unset(LSH_MAX_BUCKET)
        else:
            spark.conf.set(LSH_MAX_BUCKET, prev)


def test_similarity_ann_cap_bounds_candidates_and_reports(spark, sf_dir):
    uncapped = _multi_ann(spark, sf_dir, 2, 2).count()
    assert uncapped > 0
    prev = spark.conf.get(LSH_MAX_BUCKET, None)
    spark.conf.set(LSH_MAX_BUCKET, "1")
    try:
        # every (query, neighbor) pair shares a corpus bucket of size >= 2
        # (the query itself is a corpus member here), so cap=1 empties it
        assert _multi_ann(spark, sf_dir, 2, 2).count() == 0
        dropped = sim_hot_bucket_report(spark, sf_dir, 2, 2)
        assert dropped.count() > 0, "dropped buckets must be observable"
        assert dropped.filter(F.col("bucket_n") <= 1).count() == 0
    finally:
        if prev is None:
            spark.conf.unset(LSH_MAX_BUCKET)
        else:
            spark.conf.set(LSH_MAX_BUCKET, prev)


def test_multiprobe_top1_never_worse_than_exact_bucket(spark, sf_dir):
    """Hamming-1 probing strictly widens each table's probe set (the exact
    key is always probed too), so per query the multiprobe candidate set is a
    superset and its best retrieved cosine can never be lower."""
    def top1(df):
        return {
            r["query_id"]: r["cosine"] for r in df.filter(F.col("rnk") == 1).collect()
        }

    exact = top1(_multi_ann(spark, sf_dir, MP_TABLES, MP_BITS))
    probed = top1(_multi_ann(spark, sf_dir, MP_TABLES, MP_BITS, probe_hamming=1))
    assert set(probed) >= set(exact), "probing must not lose any query"
    for q, cos in exact.items():
        assert probed[q] >= cos - 1e-12, f"query {q}: probed top-1 worse than exact"


def test_margin_multiprobe_superset_and_determinism(spark, sf_dir):
    """The r9 query-directed multiprobe: (a) the zero-cost empty flip-set
    ranks first for every table, so the exact buckets are always probed and
    the candidate set is a superset of the no-probe variant's; (b) the
    probe ranking is exact-decimal, so two runs retrieve identical sets."""
    from skinnerdb_spark.operators.similarity import (
        MP_BITS,
        MP_TABLES,
        _margin_probe_candidates,
        _probe_masks,
    )

    # mask universe: all <=3-flip subsets, ascending, empty set first
    masks = _probe_masks(4, 2)
    assert masks[0] == 0 and masks == sorted(masks)
    assert len(masks) == 1 + 4 + 6

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    exact_only = pairs(
        _margin_probe_candidates(spark, sf_dir, probes=MP_TABLES, max_flips=0)
    )
    probed = pairs(_margin_probe_candidates(spark, sf_dir, probes=64))
    assert probed >= exact_only, "margin probing lost an exact-bucket pair"
    assert probed == pairs(
        _margin_probe_candidates(spark, sf_dir, probes=64)
    ), "probe selection must be deterministic run-to-run"
    # a bigger budget only widens the set
    wider = pairs(_margin_probe_candidates(spark, sf_dir, probes=256))
    assert wider >= probed


def test_simhash_drops_null_text(spark, tmp_path):
    """NULL texts drop (the oracle's UNNEST over a NULL list emits no rows);
    they must not collapse into a shared all-'0' signature bucket."""
    from skinnerdb_spark.operators.dedup import dedup_simhash

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, None), (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = dedup_simhash(spark, str(tmp_path)).collect()
    got = {r["doc_id"] for r in out}
    assert got == {0, 2}, f"NULL-text doc must be dropped, got {got}"
    sigs = {r["doc_id"]: r["simhash"] for r in out}
    assert sigs[0] == sigs[2]


def test_contamination_eval_cap_bounds_array_and_reports(spark, sf_dir):
    """The eval-shingle cap is the contamination twin of the LSH hot-bucket
    guard: a tiny cap must bound the broadcast array, warn about oracle
    divergence, and report exactly how many shingles were dropped."""
    from skinnerdb_spark.operators.pipeline import (
        CONTAM_MAX_EVAL,
        _capped_eval_set,
        contamination_check,
        contamination_eval_report,
    )

    full = contamination_eval_report(spark, sf_dir).collect()[0]
    assert full["n_dropped"] == 0, "default cap must never fire on test data"
    uncapped_hits = contamination_check(spark, sf_dir).count()

    prev = spark.conf.get(CONTAM_MAX_EVAL, None)
    spark.conf.set(CONTAM_MAX_EVAL, "3")
    try:
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            ev = _capped_eval_set(spark, sf_dir).collect()[0]["ev_set"]
        assert any(CONTAM_MAX_EVAL in str(x.message) for x in w), (
            "non-default cap must warn about oracle divergence"
        )
        assert len(ev) == 3, "broadcast eval array must be bounded by the cap"
        assert ev == sorted(ev), "truncation must be deterministic (sorted)"
        rep = contamination_eval_report(spark, sf_dir).collect()[0]
        assert rep["cap"] == 3
        assert rep["n_dropped"] == rep["n_eval_shingles"] - 3 > 0
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            capped_hits = contamination_check(spark, sf_dir).count()
        assert capped_hits <= uncapped_hits, "capping can only lose hits"
    finally:
        if prev is None:
            spark.conf.unset(CONTAM_MAX_EVAL)
        else:
            spark.conf.set(CONTAM_MAX_EVAL, prev)


def test_simhash_pairs_respect_bucket_cap(spark, sf_dir):
    """The hot-bucket cap bounds simhash-pair candidate generation exactly
    like the minhash family: a tiny cap excludes the dominant band bucket
    and strictly shrinks the pair set; restoring the conf restores it."""
    from skinnerdb_spark.operators.dedup import LSH_MAX_BUCKET, dedup_simhash_pairs

    uncapped = dedup_simhash_pairs(spark, sf_dir).count()
    prev = spark.conf.get(LSH_MAX_BUCKET, None)
    spark.conf.set(LSH_MAX_BUCKET, "5")
    try:
        capped = dedup_simhash_pairs(spark, sf_dir).count()
        assert capped < uncapped
    finally:
        if prev is None:
            spark.conf.unset(LSH_MAX_BUCKET)
        else:
            spark.conf.set(LSH_MAX_BUCKET, prev)
    assert dedup_simhash_pairs(spark, sf_dir).count() == uncapped
