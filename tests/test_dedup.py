"""Deduplication-family tests over a crafted corpus with known duplicate
structure: exact dups, near-dups (one-word edits), and unrelated docs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_project_spark.dedup import (
    hashed_shingles,
    minhash_candidate_pairs,
    minhash_near_dup_pairs,
    minhash_signatures,
    shingle_sets,
)

BASE = " ".join(f"tok{i}" for i in range(60))
NEAR = BASE.replace("tok30", "edited")  # one-word edit → jaccard ≈ 0.9
FAR = " ".join(f"other{i}" for i in range(60))


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, BASE, "en"),
        (1, BASE, "en"),  # exact dup of 0
        (2, NEAR, "en"),  # near dup of 0/1
        (3, FAR, "en"),  # unrelated
        (4, BASE, "de"),  # exact text dup of 0, other language
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string").cache()


def test_shingle_sets_shape(corpus):
    row = shingle_sets(corpus).where(F.col("doc_id") == 0).collect()[0]
    assert len(row["shingles"]) == 58  # 60 words → 58 distinct 3-grams
    assert "tok0 tok1 tok2" in row["shingles"]


def test_minhash_exact_dup_identical_signatures(corpus):
    sigs = {
        r["doc_id"]: list(r["signature"])
        for r in minhash_signatures(hashed_shingles(corpus)).collect()
    }
    assert sigs[0] == sigs[1] == sigs[4]
    assert sigs[0] != sigs[3]
    # near-dup signatures agree on most components (jaccard ≈ estimate)
    agree = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    assert agree >= len(sigs[0]) * 0.6


def test_minhash_lsh_finds_near_dups(corpus):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_dup_pairs(corpus, threshold=0.5).collect()
    }
    # all exact and near pairs recovered, no unrelated pair survives verify
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.8
    assert not any(3 in p for p in pairs)


def test_minhash_candidates_never_cross_unrelated(corpus):
    sigs = minhash_signatures(hashed_shingles(corpus))
    cands = minhash_candidate_pairs(sigs).collect()
    assert all(3 not in (r["id_a"], r["id_b"]) for r in cands)


def test_minhash_degenerate_bucket_cap(spark):
    """The max_bucket safety valve: a large exact-duplicate class (whose
    buckets would emit b² candidate pairs) is dropped from LSH banding,
    while ordinary near-dup pairs still surface."""
    from ocr_project_spark.dedup import minhash_near_dup_pairs

    boiler = " ".join(f"boiler{i}" for i in range(30))
    rows = [(i, boiler, "en") for i in range(50)]  # 50 identical docs
    rows += [(100, BASE, "en"), (101, NEAR, "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    capped = minhash_near_dup_pairs(df, threshold=0.5, max_bucket=10).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in capped}
    assert (100, 101) in pairs  # real near-dup survives the cap
    assert not any(a < 50 and b < 50 for a, b in pairs)  # boiler class dropped

    uncapped = {(r["id_a"], r["id_b"])
                for r in minhash_near_dup_pairs(df, threshold=0.5).collect()}
    assert sum(1 for a, b in uncapped if a < 50 and b < 50) == 50 * 49 // 2


def test_minhash_oversized_buckets_observable(spark):
    """The cap's recall loss is never silent: minhash_oversized_buckets
    inventories exactly the buckets minhash_near_dup_pairs drops."""
    from ocr_project_spark.dedup import minhash_oversized_buckets

    boiler = " ".join(f"boiler{i}" for i in range(30))
    rows = [(i, boiler, "en") for i in range(50)]
    rows += [(100, BASE, "en"), (101, NEAR, "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    dropped = minhash_oversized_buckets(df, max_bucket=10).collect()
    # 50 identical docs share every band bucket → 16 over-cap buckets of 50
    assert len(dropped) == 16
    assert all(r["n_members"] == 50 for r in dropped)
    assert minhash_oversized_buckets(df, max_bucket=60).collect() == []


def test_band_matrix_rejects_more_bands_than_hashes(corpus):
    from ocr_project_spark.dedup import minhash_near_dup_pairs

    with pytest.raises(Exception, match="bands.*must be <="):
        minhash_near_dup_pairs(corpus, num_hashes=8, bands=16).collect()


def test_remove_repeated_lines_surgery(spark):
    """Crafted corpus: the boilerplate line repeats across docs (and twice
    within doc 1), the unique lines survive in order; a doc made entirely
    of repeated lines collapses to empty text."""
    from ocr_project_spark.dedup import remove_repeated_lines

    bp = "all rights reserved"
    docs = spark.createDataFrame(
        [
            (1, f"{bp}\nkeep one\n{bp}\nkeep two"),
            (2, f"intro\n{bp}\noutro"),
            (3, bp),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["text"], r["n_removed_lines"])
        for r in remove_repeated_lines(docs).collect()
    }
    assert got == {
        1: ("keep one\nkeep two", 2),
        2: ("intro\noutro", 1),
        3: ("", 1),
    }


def test_remove_repeated_lines_min_docs_threshold(spark):
    """A line repeated only WITHIN one doc (1 distinct doc) is kept at the
    default min_docs=2 — the rule is cross-document, not within-document."""
    from ocr_project_spark.dedup import remove_repeated_lines

    docs = spark.createDataFrame(
        [(1, "echo\necho\nmid"), (2, "solo")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["text"] for r in remove_repeated_lines(docs).collect()}
    assert got == {1: "echo\necho\nmid", 2: "solo"}


def test_repeated_lines_keep_blank_separators(spark):
    """Blank lines are paragraph structure: they 'repeat' corpus-wide by
    construction and must never be stripped as duplicated content."""
    from ocr_project_spark.dedup import remove_repeated_lines

    docs = spark.createDataFrame(
        [(1, "para one.\n\npara two."), (2, "other start.\n\nother end.")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_repeated_lines(docs).collect()}
    assert out[1]["text"] == "para one.\n\npara two."
    assert out[1]["n_removed_lines"] == 0
