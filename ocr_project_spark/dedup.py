"""Deduplication operators for the training-data pipeline.

Two passes, both run by the jobs:

- near-dup (``jobs/dedup.py``) — MinHash + LSH: shingle → minhash signature
  (vectorized numpy in an Arrow batch) → banding → bucket join →
  exact-jaccard verify. Candidate generation is O(n·bands), never
  all-pairs: the 100 TB path. The verified pairs collapse into connected
  components (components.py) for the min-id keep-list.
- line-level (``jobs/curate.py``'s first stage) — lines repeated across
  documents are removed (:func:`remove_repeated_lines`).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F

MINHASH_SEED = 0x5EED

NEAR_DUP_MARKER = "zzznear"
EXACT_DUP_OFFSET = 100_000
NEAR_DUP_OFFSET = 200_000


def dedup_test_corpus(docs: DataFrame) -> DataFrame:
    """Derived corpus with known duplicate structure for differential checks:
    the original documents, an exact copy of each (doc_id + 100000), and a
    first-word-edited near-dup of each (doc_id + 200000). The construction is
    a pure SQL expression so the DuckDB oracle reproduces it verbatim."""
    base = docs.select("doc_id", "text", "lang")
    exact = base.select(
        (F.col("doc_id") + EXACT_DUP_OFFSET).alias("doc_id"), "text", "lang"
    )
    near = base.select(
        (F.col("doc_id") + NEAR_DUP_OFFSET).alias("doc_id"),
        F.regexp_replace("text", "^[^ ]+", NEAR_DUP_MARKER).alias("text"),
        "lang",
    )
    return base.unionByName(exact).unionByName(near)


def shingle_sets(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct word n-gram shingles per doc (JVM: sequence/transform)."""
    shingles = _shingles(F.col(text_col), n).alias("shingles")
    return docs.select(F.col(id_col).alias("doc_id"), shingles)


def _shingles(text: Column, n: int) -> Column:
    words = F.split(text, " ")
    cnt = F.size(words)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(cnt - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        )
    )


def remove_repeated_lines(
    docs: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Line-level corpus dedup (the CCNet/RefinedWeb paragraph-dedup rule):
    drop every line that occurs in ≥ ``min_docs`` distinct documents —
    navigation chrome, cookie banners, licence lines, and (in this corpus)
    the page-separator lines that genuinely repeat across documents — and
    reassemble each document from its surviving lines in order. A pure
    function of the corpus; output (doc_id, text, n_removed_lines).

    Shape at 100 TB: one line explode → partial-agg groupBy(line) for the
    repeated set (join key becomes ``xxhash64(line)`` at scale, one 8-byte
    column) → semi-join hits → per-doc covered-position int sets → row-local
    rebuild via a JVM index-filter lambda over the split array. Line rows
    and tiny position sets shuffle — document payloads never do.
    """
    lines_arr = F.split(F.col(text_col), "\n")
    l = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(lines_arr).alias("pos", "line"),
    )
    rep = (
        # empty/whitespace-only lines are paragraph STRUCTURE, not content:
        # every blank separator "repeats" corpus-wide, so without this
        # filter the pass would strip all paragraph boundaries from every
        # document
        l.where(F.trim(F.col("line")) != "")
        .groupBy("line")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("line")
    )
    covered = (
        l.join(rep, "line", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("__covered"))
    )
    cov = F.coalesce(F.col("__covered"), F.array().cast("array<int>"))
    return (
        docs.select(F.col(id_col).alias("doc_id"), lines_arr.alias("__ls"))
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.array_join(
                F.filter(
                    "__ls", lambda w, i: ~F.array_contains(cov, i.cast("int"))
                ),
                "\n",
            ).alias("text"),
            F.size(cov).cast("long").alias("n_removed_lines"),
        )
    )


# 31-bit Mersenne prime: (a·x + b) products of 31-bit operands fit in int64,
# so the permutation hashing stays in vectorized numpy integer arithmetic
# (the same scheme Spark MLlib's MinHashLSH uses with prime 2038074743).
MINHASH_PRIME = (1 << 31) - 1


def _hash_params(num_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MINHASH_PRIME, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, MINHASH_PRIME, size=num_hashes, dtype=np.int64)
    return a, b


def hashed_shingles(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, hashes array<long>): xxhash64 of every distinct word n-gram,
    computed entirely JVM-side (whole-stage codegen) — the per-token hashing
    that dominates minhash cost at 100 TB never touches Python, and only the
    compact int64 arrays cross the Arrow boundary (not the shingle strings).
    """
    sh = shingle_sets(docs, n, text_col, id_col)
    return sh.select(
        "doc_id", F.transform("shingles", lambda s: F.xxhash64(s)).alias("hashes")
    )


def _flatten_batch(arrs) -> tuple[np.ndarray, np.ndarray]:
    """Column of variable-length int lists → (flat values, starts).
    Every downstream kernel is a single numpy pass over the flat array with
    ``reduceat`` at the per-document boundaries — no per-document Python."""
    lens = np.fromiter((len(h) for h in arrs), dtype=np.int64, count=len(arrs))
    flat = (
        np.concatenate([np.asarray(h, dtype=np.int64) for h in arrs])
        if len(arrs)
        else np.empty(0, dtype=np.int64)
    )
    starts = np.zeros(len(lens), dtype=np.int64)
    if len(lens) > 1:
        np.cumsum(lens[:-1], out=starts[1:])
    return flat, starts


def _sig_matrix(
    flat: np.ndarray, starts: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Permutation minima over per-doc slices of the flat hash array:
    (n_docs, num_hashes) int64. Hash values are masked to 31 bits so
    (a·x + b) stays within int64; chunked over hash functions to bound the
    (chunk × total_shingles) intermediate."""
    hv = (flat.view(np.uint64) & np.uint64(0x7FFFFFFF)).view(np.int64)
    num_hashes = len(a)
    n_docs = len(starts)
    out = np.empty((n_docs, num_hashes), dtype=np.int64)
    chunk = 32
    for c0 in range(0, num_hashes, chunk):
        ac = a[c0 : c0 + chunk]
        bc = b[c0 : c0 + chunk]
        prod = (hv[None, :] * ac[:, None] + bc[:, None]) % MINHASH_PRIME
        out[:, c0 : c0 + chunk] = np.minimum.reduceat(prod, starts, axis=1).T
    return out


# per-position band-combine weights: order-sensitive multiply-add in uint64
# (natural wraparound); a rare band-hash collision only inflates candidates —
# the exact-jaccard verify step restores precision.
_BAND_COMBINE_SEED = 0xBA2D


def _band_hash_matrix(sig: np.ndarray, bands: int) -> np.ndarray:
    """(n_docs, num_hashes) signature matrix → (n_docs, bands) int64 band
    hashes, one vectorized multiply-add per band row group."""
    n_docs, num_hashes = sig.shape
    if bands > num_hashes:
        raise ValueError(
            f"bands ({bands}) must be <= num_hashes ({num_hashes}): "
            "each band needs at least one signature column"
        )
    if num_hashes % bands:
        # silently truncating to bands*(num_hashes//bands) columns would
        # waste computed hashes AND run a different LSH configuration
        # than the caller asked for — the repo posture is count-what-you-
        # drop, and a config error should be loud
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}): "
            f"{num_hashes - bands * (num_hashes // bands)} trailing "
            "signature columns would be silently discarded"
        )
    r = max(num_hashes // bands, 1)
    usable = sig[:, : bands * r].view(np.uint64).reshape(n_docs, bands, r)
    w = (
        np.random.default_rng(_BAND_COMBINE_SEED)
        .integers(1, 1 << 62, size=r)
        .astype(np.uint64)
    )
    return (usable * w).sum(axis=2, dtype=np.uint64).view(np.int64)


def minhash_signatures(
    hashed: DataFrame, num_hashes: int = 64
) -> DataFrame:
    """(doc_id, hashes) [from :func:`hashed_shingles`] → (doc_id, signature
    array<long>). One flat-array numpy pass per Arrow batch ((a·x + b) mod p
    universal hashing over 31-bit-masked xxhash64 shingle hashes, p = 2^31-1;
    per-doc minima via ``minimum.reduceat``)."""
    a, b = _hash_params(num_hashes, MINHASH_SEED)

    def _sign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            flat, starts = _flatten_batch(pdf["hashes"])
            sig = _sig_matrix(flat, starts, a, b)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "signature": list(sig)})

    return hashed.mapInPandas(_sign, schema="doc_id long, signature array<long>")


def minhash_band_rows(
    signatures: DataFrame, bands: int = 16
) -> DataFrame:
    """(doc_id, signature) → one (doc_id, band_idx, band_hash) row per band.

    Band hashes are a vectorized multiply-add combine over each band's
    signature slice — one numpy pass per batch. Keeping this numpy-side
    instead of a nested JVM transform/slice expression avoids a
    multi-second whole-stage-codegen compile of a giant generated class
    (measured 20 s first-run overhead)."""

    def _band(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            sig = np.vstack([np.asarray(s, dtype=np.int64) for s in pdf["signature"]])
            bh = _band_hash_matrix(sig, bands)
            n_docs = len(pdf)
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(), bands),
                    "band_idx": np.tile(
                        np.arange(bands, dtype=np.int32), n_docs
                    ),
                    "band_hash": bh.reshape(-1),
                }
            )

    return signatures.mapInPandas(
        _band, schema="doc_id long, band_idx int, band_hash long"
    )


def minhash_band_rows_from_hashes(
    hashed: DataFrame, num_hashes: int = 64, bands: int = 16
) -> DataFrame:
    """Fused (doc_id, hashes) → band rows: signatures and band hashes in ONE
    Arrow pass, so the signature arrays never cross the JVM↔Python boundary
    at all — the shape :func:`minhash_near_dup_pairs` uses."""
    a, b = _hash_params(num_hashes, MINHASH_SEED)

    def _fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            flat, starts = _flatten_batch(pdf["hashes"])
            bh = _band_hash_matrix(_sig_matrix(flat, starts, a, b), bands)
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(), bands),
                    "band_idx": np.tile(
                        np.arange(bands, dtype=np.int32), len(pdf)
                    ),
                    "band_hash": bh.reshape(-1),
                }
            )

    return hashed.mapInPandas(
        _fused, schema="doc_id long, band_idx int, band_hash long"
    )


def _band_bucket_pairs(banded: DataFrame) -> DataFrame:
    """Band rows → distinct candidate id pairs via the bucket self-join
    (shared by every LSH caller so a future skew hint or cap lands once)."""
    a = banded.select("band_idx", "band_hash", F.col("doc_id").alias("id_a"))
    b = banded.select("band_idx", "band_hash", F.col("doc_id").alias("id_b"))
    return (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_candidate_pairs(
    signatures: DataFrame, bands: int = 16
) -> DataFrame:
    """LSH banding: one row per (doc, band), bucket self-join on
    (band index, band hash). The fan-out is 1→bands (bounded) and the join
    shuffles one small row per (doc, band) — linear in corpus size; buckets
    with a single member produce no pairs. AQE's skew-join split is the
    backstop for a degenerate hot bucket.
    """
    return _band_bucket_pairs(minhash_band_rows(signatures, bands))


def minhash_near_dup_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates from the fused
    hash→sign→band pass, then exact-jaccard verification of candidates only
    (LSH gives recall, the verify step restores precision).

    Each subplan runs once and nothing is persisted. The band rows are
    repartitioned on the bucket key before either self-join side renames
    ``doc_id``, so both sides read one exchange (``ReusedExchange``): the
    fused UDF runs once. The verify joins carry raw ``(doc_id, text)`` rows
    and shingle above the joins, so only candidate documents are shingled.

    ``max_bucket`` is the degenerate-bucket safety valve for web corpora: a
    band bucket of b members emits b² candidate pairs, so one bucket
    holding a million byte-identical boilerplate pages would go quadratic.
    Buckets larger than the cap are dropped BEFORE the self-join (a window
    count over the same exchange). Over-cap buckets are usually exact- or
    near-identical classes (boilerplate, templated pages), so capping CAN
    lose genuine near-dup pairs. The loss is observable: at the default
    shingle and band settings :func:`minhash_oversized_buckets`
    inventories the over-cap buckets (and their member counts), the same
    count-what-you-drop posture as the WARC parser's ``n_skipped``. AQE's
    skew-join split remains the backstop for buckets under the cap."""
    hashed = hashed_shingles(docs, n, text_col)
    banded = minhash_band_rows_from_hashes(hashed, num_hashes, bands).repartition(
        "band_idx", "band_hash"
    )
    if max_bucket is not None:
        bucket = Window.partitionBy("band_idx", "band_hash")
        banded = (
            banded.withColumn("__n", F.count(F.lit(1)).over(bucket))
            .where(F.col("__n") <= max_bucket)
            .drop("__n")
        )
    texts = docs.select("doc_id", F.col(text_col).alias("text"))
    a, b = texts.alias("a"), texts.alias("b")
    sh_a, sh_b = _shingles(F.col("a.text"), n), _shingles(F.col("b.text"), n)
    verified = (
        _band_bucket_pairs(banded)
        .join(a, F.col("id_a") == F.col("a.doc_id"))
        .join(b, F.col("id_b") == F.col("b.doc_id"))
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect(sh_a, sh_b))
                / F.size(F.array_union(sh_a, sh_b))
            ).alias("jaccard"),
        )
    )
    return verified.where(F.col("jaccard") >= threshold)


def minhash_dedup_keep(docs: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """Dedup materializer: collapse the verified near-dup pairs (the
    :func:`minhash_near_dup_pairs` defaults) into connected components
    (components.connected_components) and keep the min-id representative
    of each plus every singleton — the corpus a training pipeline actually
    trains on. Transitive closure matters: pair lists under-delete chains
    (A~B, B~C must drop both B and C even if the A,C pair never crossed
    the LSH threshold)."""
    from ocr_project_spark.components import near_dup_keep

    pairs = minhash_near_dup_pairs(docs, max_bucket=max_bucket)
    return near_dup_keep(docs, pairs.select("id_a", "id_b"))


def minhash_oversized_buckets(docs: DataFrame, max_bucket: int) -> DataFrame:
    """Inventory of the band buckets :func:`minhash_dedup_keep` drops
    under the same ``max_bucket`` cap: one row per over-cap (band_idx,
    band_hash) with its member count. What a production run logs next to
    its pair output so capped recall loss is observable, never silent —
    a partial-agg count, one row per degenerate bucket."""
    banded = minhash_band_rows_from_hashes(hashed_shingles(docs))
    return (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .where(F.col("n_members") > max_bucket)
    )
