"""Regression tests for the round-4 ADVICE items: cache lifecycle
(tracked_persist / release_caches), text_col threading through the
group-level dedup operators, the strict non-convergence option, and
write_warc's shared-POSIX path contract."""

import pytest

from pyspark.sql import functions as F


def _corpus_body(spark):
    """Tiny corpus whose text column is NOT named 'text' — the shape
    that used to break dup_groups/dedup_canonical/split_leakage's
    default-pairs path (they hardcoded text_col='text')."""
    base = "the quick brown fox jumps over the lazy dog " * 4
    rows = [
        (1, base),
        (2, base + "tail"),  # near-dup of 1
        (3, "completely different content with its own words " * 4),
    ]
    return spark.createDataFrame(rows, "id bigint, body string")


# round 11 (r10 VERDICT item 1): two full dup_groups label-propagation runs (~20 s) — full lane only.
@pytest.mark.slow
def test_dup_groups_respects_text_col(spark):
    from gpd_lite_toolbox_spark.text.dedup import dup_groups

    out = dup_groups(
        _corpus_body(spark), threshold=0.3, text_col="body"
    ).collect()
    groups = {r.id: r.group_id for r in out}
    assert groups[1] == groups[2] == 1
    assert groups[3] == 3


def test_dedup_canonical_and_split_leakage_text_col(spark):
    from gpd_lite_toolbox_spark.text.dedup import (
        dedup_canonical,
        split_leakage,
    )

    corpus = _corpus_body(spark)
    kept = dedup_canonical(corpus, threshold=0.3, text_col="body")
    assert {r.group_id for r in kept.collect()} == {1, 3}

    splits = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "train")], "id bigint, split string"
    )
    leaks = split_leakage(
        corpus, splits, threshold=0.3, text_col="body"
    ).collect()
    assert [(r.id_a, r.id_b) for r in leaks] == [(1, 2)]


def test_leakage_safe_split_text_col(spark):
    from gpd_lite_toolbox_spark.text.corpus import leakage_safe_split

    out = leakage_safe_split(
        _corpus_body(spark), threshold=0.3, text_col="body"
    ).collect()
    by_id = {r.id: r.split for r in out}
    # the near-dup pair must land in ONE split by construction
    assert by_id[1] == by_id[2]


def test_dup_groups_strict_raises_on_nonconvergence(spark):
    from gpd_lite_toolbox_spark.text.dedup import dup_groups

    # a 5-node chain has diameter 4: min-label propagation cannot
    # close it in one round, so max_iter=1 leaves labels moving
    ids = spark.createDataFrame([(i,) for i in range(1, 6)], "id bigint")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_groups(ids, pairs=chain, max_iter=1, strict=True)
    # non-strict still warns and returns (possibly non-minimal) labels
    with pytest.warns(UserWarning, match="did not converge"):
        out = dup_groups(ids, pairs=chain, max_iter=1).collect()
    assert len(out) == 5


def test_release_caches_frees_tracked_intermediates(spark):
    from gpd_lite_toolbox_spark import release_caches
    from gpd_lite_toolbox_spark.text.dedup import minhash_lsh_pairs

    release_caches()  # drain anything earlier tests tracked
    corpus = _corpus_body(spark).withColumnRenamed("body", "text")
    minhash_lsh_pairs(corpus, threshold=0.3).collect()
    n = release_caches()
    assert n >= 1
    assert release_caches() == 0  # registry drained; idempotent


def test_contamination_report_persists_corpus_only_without_pairs(spark):
    """Without ``pairs`` the corpus feeds both the coverage pass and
    the LSH pair pipeline, so contamination_report persists it next to
    the splits projection and the leak-pair table; with a precomputed
    ``pairs`` frame the corpus is read once and is not persisted. Both
    calls return the same rows."""
    from gpd_lite_toolbox_spark import release_caches
    from gpd_lite_toolbox_spark.text.dedup import (
        contamination_report,
        minhash_lsh_pairs,
    )

    corpus = _corpus_body(spark).withColumnRenamed("body", "text")
    splits = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "train")], "id bigint, split string"
    )
    release_caches()  # drain anything earlier tests tracked
    pairs = minhash_lsh_pairs(corpus, threshold=0.3)
    n_lsh = release_caches()
    with_pairs = contamination_report(
        corpus, splits, threshold=0.3, pairs=pairs
    ).collect()
    n_with_pairs = release_caches()
    without = contamination_report(corpus, splits, threshold=0.3).collect()
    n_without = release_caches()
    assert n_with_pairs == 2  # splits projection + leak-pair table
    assert n_without == n_lsh + 3  # ... + the corpus projection
    assert sorted(with_pairs) == sorted(without)
    assert {r.id for r in without if r.leaked} == {1, 2}


def test_write_warc_rejects_uri_paths(spark):
    from gpd_lite_toolbox_spark.sources.warc import write_warc

    df = spark.createDataFrame([(1, "x")], "id bigint, text string")
    with pytest.raises(ValueError, match="shared-POSIX"):
        write_warc(df, "s3://bucket/prefix")


def test_ingest_near_dups_missing_index_is_empty_but_lazy_errors_raise(
    spark, tmp_path
):
    from gpd_lite_toolbox_spark.text.dedup import ingest_near_dups

    batch = _corpus_body(spark).withColumnRenamed("body", "text")
    # missing path: the documented day-1 empty-index state
    out = ingest_near_dups(spark, str(tmp_path / "nope"), batch)
    assert out.count() == 0
