"""Text-analysis operators for the training-data pipeline.

These are the large-scale corpus operations a 100 TB extraction pipeline
feeds: token counting, quality scoring, document fingerprinting, and
language identification. Everything stays JVM-side (built-in
``pyspark.sql.functions``, whole-stage codegen) — no Python in the hot path.
Integer-safe formulas are used wherever a DuckDB differential oracle checks
the values (float rounding differs across engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# BPE-ish token pattern: word pieces or single non-space punctuation.
TOKEN_PATTERN = r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"
# The body vocabulary's function words (used for the stopword-ratio feature).
STOPWORDS = ("a", "the")


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace and BPE-ish token counts per document."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        F.size(F.split(t, " ")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(TOKEN_PATTERN), 0)).alias(
            "n_bpe_tokens"
        ),
    )


# The quality gate's accepted band. Its one definition is
# :func:`passes_quality_gate`; :func:`quality_gate` and the curation job
# both filter on it.
QUALITY_MIN_WORDS = 20
QUALITY_MIN_AVG_WORD_LEN_X100 = 200
QUALITY_MAX_AVG_WORD_LEN_X100 = 900


def _word_shape(t: Column) -> tuple[Column, Column]:
    """``(n_words, avg_word_len_x100)`` of a text column."""
    n_words = F.size(F.split(t, " "))
    chars_no_space = F.length(F.regexp_replace(t, " ", ""))
    # cast to long BEFORE multiplying: a single mega-document
    # (>21.4M non-space chars) overflows the 32-bit intermediate and,
    # under ANSI, kills the whole pass
    avg_wl = F.floor(chars_no_space.cast("long") * 100 / n_words).cast("long")
    return n_words, avg_wl


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/word-shape quality features, integer-safe for oracle checks.

    ``avg_word_len_x100`` is average word length ×100 under integer division;
    ``stopword_hits`` counts function-word occurrences. A downstream filter
    (quality gate) would threshold on these columns.
    """
    t = F.col(text_col)
    words = F.split(t, " ")
    n_words, avg_wl = _word_shape(t)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_hits = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        n_words.alias("n_words"),
        avg_wl.alias("avg_word_len_x100"),
        # long before multiplying, as in _word_shape (>214k stopword hits)
        stop_hits.cast("long").alias("stopword_hits"),
        F.floor(stop_hits.cast("long") * 10000 / n_words).cast("long").alias(
            "stopword_ratio_x10000"
        ),
    )


def passes_quality_gate(
    text_col: str = "text",
    min_words: int = QUALITY_MIN_WORDS,
    min_avg_word_len_x100: int = QUALITY_MIN_AVG_WORD_LEN_X100,
    max_avg_word_len_x100: int = QUALITY_MAX_AVG_WORD_LEN_X100,
) -> Column:
    """The quality gate's verdict as one boolean column over the text: a
    row-local predicate, so a pipeline applies the gate as a narrow filter
    on the frame it already has instead of joining the scores back."""
    n_words, avg_wl = _word_shape(F.col(text_col))
    return (
        (n_words >= min_words)
        & (avg_wl >= min_avg_word_len_x100)
        & (avg_wl <= max_avg_word_len_x100)
    )


def quality_gate(
    docs: DataFrame,
    min_words: int = QUALITY_MIN_WORDS,
    min_avg_word_len_x100: int = QUALITY_MIN_AVG_WORD_LEN_X100,
    max_avg_word_len_x100: int = QUALITY_MAX_AVG_WORD_LEN_X100,
    text_col: str = "text",
) -> DataFrame:
    """Corpus quality filter: keeps documents whose length/word-shape
    features fall in the accepted band (the gate a training-data pipeline
    applies after extraction), as ``(doc_id, n_words, avg_word_len_x100)``.
    Pure JVM expressions (:func:`passes_quality_gate` over the
    :func:`quality_scores` features); the thresholds are integer-safe so a
    DuckDB oracle can replay the gate exactly."""
    keep = passes_quality_gate(
        text_col, min_words, min_avg_word_len_x100, max_avg_word_len_x100
    )
    return quality_scores(docs.where(keep), text_col).select(
        "doc_id", "n_words", "avg_word_len_x100"
    )


def gopher_gate(
    docs: DataFrame,
    min_words: int = 20,
    max_words: int = 100_000,
    min_avg_word_len_x100: int = 200,
    max_avg_word_len_x100: int = 1000,
    min_alpha_word_ratio_x100: int = 80,
    min_stopword_hits: int = 2,
    text_col: str = "text",
    emit_all: bool = False,
) -> DataFrame:
    """Gopher-rules-style multi-signal quality gate (word-count bounds, mean
    word length band, fraction of words containing an alphabetic character,
    minimum stopword evidence) — the repetition-and-junk filter a webtext
    training corpus applies after extraction. Pure JVM expressions,
    integer-safe thresholds so a DuckDB oracle replays the gate exactly;
    emits the per-doc features alongside the verdict so the gate is
    auditable, and filters to survivors (``emit_all=True`` instead keeps
    every row and emits the verdict as a ``passes_gopher`` column, for
    audits that want the rejected rows too)."""
    t = F.col(text_col)
    words = F.split(t, " ")
    n_words = F.size(words)
    chars_no_space = F.length(F.regexp_replace(t, " ", ""))
    avg_wl = F.floor(chars_no_space.cast("long") * 100 / n_words).cast("long")
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    alpha_ratio = F.floor(alpha_words.cast("long") * 100 / n_words).cast("long")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_hits = F.size(
        F.filter(words, lambda w: F.array_contains(stop_arr, w))
    ).cast("long")
    feats = docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        avg_wl.alias("avg_word_len_x100"),
        alpha_ratio.alias("alpha_word_ratio_x100"),
        stop_hits.alias("stopword_hits"),
    )
    passes = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("avg_word_len_x100") >= min_avg_word_len_x100)
        & (F.col("avg_word_len_x100") <= max_avg_word_len_x100)
        & (F.col("alpha_word_ratio_x100") >= min_alpha_word_ratio_x100)
        & (F.col("stopword_hits") >= min_stopword_hits)
    )
    if emit_all:
        return feats.withColumn("passes_gopher", passes)
    return feats.where(passes)


def repetition_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition signals: the fraction of the
    document claimed by its most frequent word, the distinct-word ratio,
    and the fraction of 2-gram positions whose 2-gram repeats within the
    document — the repetition gates a webtext pipeline applies alongside
    the length/shape rules (:func:`gopher_gate`). Integer-scaled (×10000,
    floored) so a DuckDB oracle replays the values exactly.

    Scale shape: explode → two partial-agg groupBys (word counts, gram
    counts) → per-doc rollup → broadcast-free joins on doc_id. Linear in
    corpus size; never an O(distinct×len) per-row array scan, which is the
    tempting-but-wrong pure-expression formulation."""
    words = F.split(F.col(text_col), " ")
    base = docs.select("doc_id", words.alias("__ws"))
    n_words = F.size("__ws")
    sized = base.select("doc_id", "__ws", n_words.alias("__n"))

    word_counts = (
        sized.select("doc_id", F.explode("__ws").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    word_stats = word_counts.groupBy("doc_id").agg(
        F.max("c").alias("__top"),
        F.count(F.lit(1)).alias("__distinct"),
    )

    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.col("__n") - 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice("__ws", i, 2)),
    )
    gram_counts = (
        sized.where(F.col("__n") >= 2)
        .select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dup_stats = gram_counts.groupBy("doc_id").agg(
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0))).alias(
            "__dup_pos"
        )
    )

    return (
        sized.select("doc_id", F.col("__n"))
        .join(word_stats, "doc_id")
        .join(dup_stats, "doc_id", "left")
        .select(
            "doc_id",
            F.col("__n").cast("long").alias("n_words"),
            F.floor(F.col("__top") * 10000 / F.col("__n"))
            .cast("long")
            .alias("top_word_frac_x10000"),
            F.floor(F.col("__distinct") * 10000 / F.col("__n"))
            .cast("long")
            .alias("distinct_word_frac_x10000"),
            F.floor(
                F.coalesce(F.col("__dup_pos"), F.lit(0))
                * 10000
                / F.greatest(F.col("__n") - 1, F.lit(1))
            )
            .cast("long")
            .alias("dup_2gram_frac_x10000"),
        )
    )


def corpus_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-language corpus rollup: doc counts, word totals, exact
    avg/min/max word counts (integer-safe) — the dataset-card numbers a
    corpus release ships. Partial+final aggregation throughout."""
    n_words = F.size(F.split(F.col(text_col), " "))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_words).cast("long").alias("total_words"),
            F.floor(F.sum(n_words) * 100 / F.count(F.lit(1)))
            .cast("long")
            .alias("avg_words_x100"),
            F.min(n_words).cast("long").alias("min_words"),
            F.max(n_words).cast("long").alias("max_words"),
        )
    )


def corpus_percentiles(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Sketch-based distribution summary: approximate word-count
    percentiles per language via ``percentile_approx`` (GK sketch —
    mergeable across partitions, the 100 TB path for distribution stats).
    The sketch is exact while per-group n ≤ its accuracy bound (10000), so
    the DuckDB ``quantile_disc`` oracle checks it exactly at test scale."""
    n_words = F.size(F.split(F.col(text_col), " "))
    return docs.groupBy("lang").agg(
        F.percentile_approx(n_words, [0.5, 0.9, 0.99], 10000).alias("pcts")
    ).select(
        "lang",
        F.col("pcts")[0].cast("long").alias("p50_words"),
        F.col("pcts")[1].cast("long").alias("p90_words"),
        F.col("pcts")[2].cast("long").alias("p99_words"),
    )


def shard_by_token_budget(
    docs: DataFrame,
    budget: int = 10_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic training-shard assignment: documents ordered by id are
    packed greedily into shards of ≤ ``budget`` whitespace tokens (shard =
    running-token-count-before-this-doc // budget) — how a corpus release
    cuts ~fixed-token-size training files.

    Scalable prefix sum, not a global window: ids are bucketed into
    ``defaultParallelism`` contiguous ranges by pure arithmetic on the id
    span (deterministic — no range-sampling), per-bucket token totals are a
    bounded driver combine (one row per bucket), and a bucket-local
    cumulative window shifted by the bucket's offset yields exactly the
    global ``sum() OVER (ORDER BY id)`` the DuckDB oracle replays. The
    offsets rejoin as a broadcast map join — never an O(n_buckets)
    ``when``-chain, whose Catalyst expression-tree depth would become the
    limit at thousands of buckets on a real cluster. No stage ever holds
    more than one bucket's rows plus the tiny offset table. (With a
    pathologically skewed id distribution, swap the arithmetic buckets
    for quantile boundaries — the offset mechanics are identical.)"""
    from pyspark.sql import Window

    spark = docs.sparkSession
    n_tokens = F.size(F.split(F.col(text_col), " ")).cast("long")
    n_parts = max(spark.sparkContext.defaultParallelism, 2)
    span = docs.agg(
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
    ).collect()[0]
    lo, hi = span["lo"], span["hi"]
    if lo is None:  # empty input: empty output, same schema
        return spark.createDataFrame(
            [], "doc_id long, n_tokens long, shard long"
        )
    width = max((hi - lo + 1), 1)
    # bucket by DIVISION, not (id-lo)*n_parts/width: the multiply overflows
    # long for wide id spans (any 64-bit-hash id scheme) and aborts under
    # ANSI; ceil-width division gives ≤ n_parts equal ranges. All three
    # hazards of long/double arithmetic are sidestepped at once by exact
    # DECIMAL(38,0) integral division: (a) `doc_id - lo` overflows long
    # when ids span the full 64-bit range, (b) `/` is double division and
    # loses exactness above 2^53 — precisely the 64-bit-hash-id regime —
    # so a boundary id could round UP into bucket == n_parts, (c) `div`
    # keeps the result integral. least() clamps the last ceil-division
    # remainder range onto the final bucket.
    per_bucket = max(-(-width // n_parts), 1)
    bucket = F.least(
        F.expr(
            f"(cast(doc_id as decimal(38,0)) - cast('{lo}' as decimal(38,0)))"
            f" div cast('{per_bucket}' as decimal(38,0))"
        ),
        F.lit(n_parts - 1).cast("long"),
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"), n_tokens.alias("n_tokens")
    ).withColumn("__part", bucket.cast("int"))
    # bounded: one row per bucket crosses to the driver
    totals = {
        r["__part"]: r["total"]
        for r in base.groupBy("__part").agg(F.sum("n_tokens").alias("total")).collect()
    }
    offsets = []
    acc = 0
    for part in sorted(totals):
        offsets.append((part, acc))
        acc += totals[part]
    offset_df = F.broadcast(
        spark.createDataFrame(offsets, "__part int, __offset long")
    )
    w = Window.partitionBy("__part").orderBy("doc_id")
    cum_before = (
        F.sum("n_tokens").over(w) - F.col("n_tokens") + F.col("__offset")
    )
    return (
        base.join(offset_df, "__part")
        .select(
            "doc_id",
            "n_tokens",
            F.floor(cum_before / budget).cast("long").alias("shard"),
        )
    )


def hash_split(
    docs: DataFrame,
    splits: dict[str, int] | None = None,
    buckets: int = 10_000,
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: each document lands in a
    bucket via md5(salt ‖ id) and the ordered ``splits`` weights partition
    the bucket space — the held-out-set cut a training pipeline makes,
    where sampling must be a pure function of the id (NEVER
    ``df.sample``: its output depends on partitioning and row order, so a
    re-run or a repartition silently reshuffles the split). Uniform by
    md5; stratification across languages/hosts follows from uniformity.
    Pure JVM expression (md5 → hex-prefix parse → modulo), and exactly
    replayable in SQL, so the assignment is oracle-checked byte-for-byte.

    ``splits`` maps name → weight in buckets (must sum to ≤ ``buckets``;
    remainder falls into the last split). Output: (doc_id, bucket, split).
    """
    splits = splits or {"train": 9_800, "val": 100, "test": 100}
    if sum(splits.values()) > buckets:
        raise ValueError(
            f"split weights sum to {sum(splits.values())} > {buckets} buckets"
        )
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8), 16, 10)
        .cast("long")
        % buckets
    )
    names = list(splits)
    bounds = []
    acc = 0
    for name in names:
        acc += splits[name]
        bounds.append((name, acc))
    # build innermost-last: the final chain tests the lowest bound first
    expr = F.lit(names[-1])
    for name, hi in reversed(bounds[:-1]):
        expr = F.when(F.col("bucket") < F.lit(hi), F.lit(name)).otherwise(expr)
    out = docs.select(F.col(id_col).alias("doc_id"), bucket.alias("bucket"))
    return out.select("doc_id", "bucket", expr.alias("split"))


def fingerprints(docs: DataFrame, text_col: str = "text", shingle: int = 4) -> DataFrame:
    """Document fingerprints: full-text md5 plus a shingle fingerprint —
    the lexicographic minimum of the md5s of all word ``shingle``-grams
    (a winnowing-style content fingerprint robust to boundary edits).
    Pure JVM expression: sequence → transform → array_min.
    """
    t = F.col(text_col)
    words = F.split(t, " ")
    n = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (shingle - 1), F.lit(1))),
        lambda i: F.md5(F.concat_ws(" ", F.slice(words, i, shingle))),
    )
    return docs.select(
        "doc_id",
        F.md5(t).alias("md5_fingerprint"),
        F.array_min(grams).alias("shingle_fingerprint"),
    )


# Karp-Rabin rolling-hash constants: Horner fold (a·B + c) mod P with the
# first char as the init value — exactly DuckDB's list_reduce semantics, so
# the oracle can replay the hash bit-for-bit.
ROLL_BASE = 257
ROLL_PRIME = (1 << 31) - 1


def rolling_fingerprints(
    docs: DataFrame,
    k: int = 8,
    window: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al.) over a Karp-Rabin
    rolling hash: character ``k``-gram hashes → per-``window`` minima →
    the deduplicated winnowed set. The classic guarantee: two documents
    sharing any substring of length ≥ k + window - 1 share at least one
    fingerprint — the substring-level near-dup index a plagiarism/dedup
    pipeline builds at scale.

    Vectorized numpy inside Arrow batches (sliding-window dot against the
    power vector, mod-safe in int64; per-window minima via a strided view).
    Output: (doc_id, n_grams, min_hash, fingerprints array<long>) —
    ``min_hash`` equals the minimum over ALL gram hashes, which is also the
    minimum of the winnowed set, and is SQL-replayable via list_reduce's
    Horner fold (the driver oracle)."""
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    pow_vec = np.empty(k, dtype=np.int64)
    acc = 1
    for j in range(k - 1, -1, -1):
        pow_vec[j] = acc
        acc = (acc * ROLL_BASE) % ROLL_PRIME

    def _grams(codes: "np.ndarray") -> "np.ndarray":
        if len(codes) < k:
            # short doc: one gram over the whole text (list_slice clips the
            # same way oracle-side)
            h = 0
            for c in codes:
                h = (h * ROLL_BASE + int(c)) % ROLL_PRIME
            return np.array([h], dtype=np.int64)
        win = sliding_window_view(codes, k).astype(np.int64)
        return ((win * pow_vec[None, :] % ROLL_PRIME).sum(axis=1)) % ROLL_PRIME

    def _batches(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                if not isinstance(text, str):
                    text = ""  # NULL text: fingerprint the empty string
                codes = np.frombuffer(
                    text.encode("utf-32-le"), dtype=np.uint32
                )
                grams = _grams(codes)
                if len(grams) <= window:
                    mins = np.array([grams.min()], dtype=np.int64)
                else:
                    mins = sliding_window_view(grams, window).min(axis=1)
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "n_grams": len(grams),
                        "min_hash": int(grams.min()),
                        "fingerprints": np.unique(mins),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_grams", "min_hash", "fingerprints"]
            )

    return docs.select("doc_id", text_col).mapInPandas(
        _batches,
        schema="doc_id long, n_grams long, min_hash long, fingerprints array<long>",
    )


# Per-language identification profiles: public function words (the
# stopword-frequency approach of Cavnar–Trenkle-style langid) plus public
# web-chrome vocabulary (nav/footer/legal words — the strongest signal on
# web pages; "impressum"/"datenschutz" alone identify German legal pages).
# Entries are chosen pairwise-disjoint across profiles and disjoint from
# ambiguous short forms shared between languages ("a", "in", "es", "la",
# "son", "des", "was" are all omitted for that reason) so the argmax stays
# discriminative. Latin-script languages score on word-boundary membership;
# zh (no word boundaries) scores on character/word substring occurrences.
LANGID_PROFILES: dict[str, tuple[str, ...]] = {
    "en": (
        "and", "of", "to", "you", "that", "for", "are", "with", "they",
        "this", "have", "from", "not", "which", "would", "there", "when",
        "your", "will", "how",
        "homepage", "about", "privacy", "terms", "sitemap",
    ),
    "de": (
        "der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit",
        "auf", "für", "dem", "den", "sich", "auch", "wird", "sind", "oder",
        "aber", "nach",
        "startseite", "impressum", "kontakt", "datenschutz", "hilfe",
    ),
    "fr": (
        "le", "les", "est", "pas", "pour", "dans", "qui", "une", "vous",
        "avec", "sur", "mais", "nous", "cette", "par", "au", "ce", "plus",
        "ont", "tout",
        "accueil", "confidentialite", "mentions", "recherche", "aide",
    ),
    "es": (
        "el", "los", "las", "por", "para", "con", "como", "pero", "sus",
        "este", "ser", "más", "muy", "sin", "sobre", "entre", "cuando",
        "todo", "una", "fue",
        "inicio", "acerca", "contacto", "privacidad", "buscar",
    ),
    "zh": (
        "的", "是", "在", "了", "和", "有", "我", "不", "这", "个", "为",
        "他", "们", "中", "也", "就",
        "首页", "关于我们", "联系我们", "隐私政策", "搜索",
    ),
}


def gram_hashes(
    docs: DataFrame, n: int = 13, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct 64-bit word-``n``-gram hashes per document as one narrow
    Arrow pass: ``(doc_id, gram_hash)``, one row per distinct gram, with a
    document shorter than ``n`` words contributing its single whole-text
    gram (mirroring :func:`~ocr_project_spark.dedup.shingle_sets`).

    Why not the JVM shingle path: Spark's array higher-order functions
    (``transform``/``slice``) are CodegenFallback — interpreted per
    element — so building gram STRINGS costs ~6 µs/gram; this pass hashes
    words once (``pd.util.hash_array`` — vectorized 64-bit SipHash with
    pandas' fixed key, deterministic across runs and executors) and
    combines each window with a positional polynomial (odd multiplier ⇒
    every position weight is invertible mod 2⁶⁴) via one strided-view
    matmul — measured ~4.6× faster, and gram strings are never even
    materialized. Shuffle-free; embarrassingly parallel over the scan."""
    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view

    coef = np.empty(n, dtype=np.uint64)
    c = 1
    for j in range(n):
        coef[j] = c
        # FNV-64 prime (odd -> invertible); Python-int mod-2^64 avoids the
        # (intended but noisy) numpy overflow warning
        c = (c * 1099511628211) % (1 << 64)

    def _grams(batches):
        for pdf in batches:
            # None-tolerant: a NULL text is an empty word list, never an
            # AttributeError that kills the Arrow batch
            word_lists = [
                t.split(" ") if isinstance(t, str) else []
                for t in pdf[text_col].values
            ]
            if not word_lists:
                yield pd.DataFrame({"doc_id": [], "gram_hash": []}).astype(
                    {"doc_id": "int64", "gram_hash": "int64"}
                )
                continue
            lens = [len(w) for w in word_lists]
            hashes = pd.util.hash_array(
                np.concatenate([np.asarray(w, dtype=object) for w in word_lists])
            ).astype(np.uint64)
            out_ids, out_hashes, off = [], [], 0
            for did, length in zip(pdf[id_col].values, lens):
                h = hashes[off : off + length]
                off += length
                if length == 0:  # NULL text: zero grams, never a crash
                    continue
                if length >= n:
                    gh = sliding_window_view(h, n) @ coef
                else:
                    gh = np.atleast_1d(h @ coef[:length])
                gh = np.unique(gh)
                out_ids.append(np.full(len(gh), did, dtype=np.int64))
                out_hashes.append(gh.view(np.int64))
            if not out_ids:
                yield pd.DataFrame({"doc_id": [], "gram_hash": []}).astype(
                    {"doc_id": "int64", "gram_hash": "int64"}
                )
                continue
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(out_ids),
                    "gram_hash": np.concatenate(out_hashes),
                }
            )

    return docs.select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)
    ).mapInPandas(_grams, schema="doc_id long, gram_hash long")


def contamination_check(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    text_col: str = "text",
    eval_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination signal: for every document, the number of
    distinct word ``n``-grams it shares with an evaluation/benchmark set —
    the published n-gram-overlap rule (13-gram in the public LLM training
    literature) a training corpus applies before any eval is trustworthy.
    Returns (doc_id, n_contaminated_grams, contaminated).

    100 TB shape: both sides reduce their grams to 64-bit hashes in one
    narrow Arrow pass (:func:`gram_hashes` — gram STRINGS never exist,
    let alone shuffle), the eval side is tiny by nature (benchmarks ≈ 10⁵
    grams) and broadcasts, so the corpus-side check is a NARROW scan: the
    only shuffled rows are the matched (doc_id, gram) hits — ~zero on a
    clean corpus — for the per-doc count, and the count table broadcasts
    back onto the corpus. The corpus itself never exchanges
    (plan-asserted). A 64-bit hash collision flagging a clean gram is
    ~2⁻⁶⁴ — negligible; collisions can only over-flag, never leak
    contamination through."""
    hits = _contaminated_gram_counts(docs, eval_docs, n, text_col, eval_text_col)
    return (
        docs.select("doc_id")
        .join(F.broadcast(hits), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_contaminated_grams", F.lit(0))
            .cast("long")
            .alias("n_contaminated_grams"),
            (F.coalesce("n_contaminated_grams", F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def _contaminated_gram_counts(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int,
    text_col: str,
    eval_text_col: str,
) -> DataFrame:
    """``(doc_id, n_contaminated_grams)`` for the documents sharing at least
    one gram with the eval set — the small hit table both
    :func:`contamination_check` and :func:`decontaminate` start from."""
    doc_grams = gram_hashes(docs, n, text_col)
    eval_grams = (
        gram_hashes(
            eval_docs.select(
                F.lit(0).alias("__eid"), F.col(eval_text_col).alias("__etext")
            ),
            n,
            text_col="__etext",
            id_col="__eid",
        )
        .select("gram_hash")
    )
    # left_semi (not inner + eval-side distinct): a doc gram counts once
    # however many eval docs repeat it, and the tiny eval side broadcasts
    # raw — no distinct aggregation exchange anywhere on either side.
    return (
        doc_grams.join(F.broadcast(eval_grams), "gram_hash", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    text_col: str = "text",
    eval_text_col: str = "text",
) -> DataFrame:
    """The corpus with every benchmark-contaminated document dropped (at
    least one gram shared with ``eval_docs``, as in
    :func:`contamination_check`) — left-anti against the (small)
    contaminated-id set, so the corpus shuffles nothing and is read twice:
    once to hash its grams, once to filter."""
    bad = _contaminated_gram_counts(docs, eval_docs, n, text_col, eval_text_col)
    return docs.join(F.broadcast(bad.select("doc_id")), "doc_id", "left_anti")


def gram_lm_scores(
    docs: DataFrame,
    n: int = 2,
    rare_df: int = 1,
    max_rare_num: int = 1,
    max_rare_den: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-frequency n-gram language-model scoring — the engine analog of
    CCNet's (Wenzek et al. 2020) KenLM perplexity filter: instead of an
    external LM, the corpus itself is the model. Each document is scored by
    how familiar its word ``n``-grams are corpus-wide:

    - ``n_grams``  — distinct word n-grams in the document,
    - ``n_rare``   — of those, grams whose document frequency ≤ ``rare_df``
      (seen in no other document at the default): the OOV-mass analog,
    - ``sum_df``   — total document frequency over the document's grams
      (the unnormalized familiarity mass),
    - ``familiarity`` — (n_grams − n_rare) / n_grams, int/int division so a
      DuckDB oracle replays it bit-for-bit,
    - ``passes_lm`` — rare mass at most max_rare_num/max_rare_den of the
      grams, decided by integer cross-multiplication (no float threshold):
      gibberish/boilerplate-free prose shares its grams with the rest of
      the corpus; machine noise does not.

    Scale shape: one shuffle-free Arrow pass hashes grams
    (:func:`gram_hashes` — gram strings never materialize), then the
    classic inverted-df pipeline as two shuffles of 16-byte gram rows: a
    window count partitioned by ``gram_hash`` tags every gram row with its
    document frequency, and a groupBy(doc_id) rolls the rows up per
    document. The gram pass is evaluated once — the df table is never
    joined back, so the plan holds one ``MapInPandas`` — and the text
    payloads never shuffle."""
    from pyspark.sql import Window

    grams = gram_hashes(docs, n=n, text_col=text_col, id_col=id_col)
    per = (
        grams.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("gram_hash"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("df") <= rare_df, 1).otherwise(0))
            .cast("long")
            .alias("n_rare"),
            F.sum("df").cast("long").alias("sum_df"),
        )
    )
    return per.select(
        "doc_id",
        "n_grams",
        "n_rare",
        "sum_df",
        ((F.col("n_grams") - F.col("n_rare")) / F.col("n_grams")).alias(
            "familiarity"
        ),
        (
            F.col("n_rare") * F.lit(max_rare_den)
            <= F.col("n_grams") * F.lit(max_rare_num)
        ).alias("passes_lm"),
    )


# PII patterns deliberately restricted to constructs with identical
# semantics in Java regex (Spark, backtracking) and RE2 (DuckDB oracle,
# leftmost-longest): greedy character classes and fixed counts only — no
# alternation, no lookaround — so both engines produce the same match spans.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"


def redact_pii(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII scrubbing pass every public web-text pipeline applies before
    training: replace emails, IPv4 addresses, and NANP-style phone numbers
    with typed placeholder tokens, and report per-doc match counts (counted
    on the ORIGINAL text, before any replacement). Output
    (doc_id, text, n_emails, n_ipv4, n_phones).

    100 TB shape: a pure JVM regexp projection inside whole-stage codegen —
    no shuffle, no Python, embarrassingly parallel over the scan."""
    t = F.col(text_col)
    red = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, PII_IPV4_RE, "<IP>")
    red = F.regexp_replace(red, PII_PHONE_RE, "<PHONE>")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        red.alias("text"),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_IPV4_RE)).cast("long").alias("n_ipv4"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
    )


def lang_id(
    pages: DataFrame,
    payload_col: str = "html",
    profiles: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Language identification by public stopword/web-chrome profile scoring
    (see :data:`LANGID_PROFILES`): lowercase, tokenize on non-letter runs,
    count per-language profile membership (substring occurrences for the
    boundary-less zh script), argmax with an alphabetical-first
    deterministic tiebreak. Everything JVM-side — regex split + codegen'd
    ``filter``/``array_contains`` membership and length-difference counts;
    no Python in the path, the whole pass is one narrow projection at any
    scale. Accuracy on real mixed-language prose is pytest-covered
    (tests/test_textops.py); the driver oracle holds it to ground truth on
    the synthetic corpus."""
    profiles = profiles or LANGID_PROFILES
    # CAST, not decode(): under ANSI mode decode throws
    # MALFORMED_CHARACTER_CODING on any non-UTF-8 byte (real crawl payloads
    # have them), killing the job; the cast passes invalid bytes through
    # and profile words still match in the valid regions
    text = F.lower(F.col(payload_col).cast("string"))
    words = F.split(text, r"[^\p{L}]+")

    def hits(lang: str):
        prof = profiles[lang]
        if lang == "zh":
            h = F.lit(0).cast("long")
            for entry in prof:
                occ = (
                    F.length(text)
                    - F.length(F.replace(text, F.lit(entry), F.lit("")))
                ) / F.length(F.lit(entry))
                h = h + occ.cast("long")
            return h
        prof_arr = F.array(*[F.lit(w) for w in prof])
        return F.size(
            F.filter(words, lambda w: F.array_contains(prof_arr, w))
        ).cast("long")

    langs = sorted(profiles)
    hit_cols = {lang: hits(lang) for lang in langs}
    best = F.greatest(*[hit_cols[lang] for lang in langs])
    pred = F.lit(None).cast("string")
    # alphabetical-first deterministic tiebreak
    for lang in reversed(langs):
        pred = F.when(hit_cols[lang] == best, F.lit(lang)).otherwise(pred)
    # zero evidence → 'und' (ISO 639 undetermined), NOT the first
    # alphabetical profile: with every hit count 0 the all-zero tie would
    # otherwise label a Russian/Japanese/numeric page confidently as the
    # lowest-sorting language and pollute per-language stats downstream
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return pages.select("doc_id", pred.alias("pred_lang"))


# Pinned mojibake repairs: the UTF-8-bytes-decoded-as-cp1252 sequences of
# the characters that dominate real web mojibake (curly quotes, dashes,
# ellipsis, the common Latin accents), each mapped back to the character
# whose encoding produced it — the deterministic core of ftfy-style
# encoding repair (Speer 2019), as a FIXED ordered replace chain so a SQL
# oracle replays it byte-for-byte. Heuristic by nature: a document that
# legitimately contains "Ã©" is "repaired" too — the standard, documented
# ambiguity of mojibake fixing (the sequences are vanishingly rare as
# intentional text on the web).
MOJIBAKE_TABLE: tuple[tuple[str, str], ...] = (
    ("â€™", "’"),  # â€™ → ’
    ("â€˜", "‘"),  # â€˜ → ‘
    ("â€œ", "“"),  # â€œ → “
    ("â€\x9d", "”"),  # â€ + 0x9d (unmapped in cp1252) → ”
    ("â€“", "–"),  # â€“ → –
    ("â€”", "—"),  # â€” → —
    ("â€¦", "…"),  # â€¦ → …
    ("Ã©", "é"),  # Ã© → é
    ("Ã¨", "è"),  # Ã¨ → è
    ("Ãª", "ê"),  # Ãª → ê
    ("Ã\xa0", "à"),  # Ã + NBSP → à
    ("Ã§", "ç"),  # Ã§ → ç
    ("Ã±", "ñ"),  # Ã± → ñ
    ("Ã¶", "ö"),  # Ã¶ → ö
    ("Ã¼", "ü"),  # Ã¼ → ü
    ("Ã¤", "ä"),  # Ã¤ → ä
)


def normalize_text(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fix_mojibake: bool = False,
) -> DataFrame:
    """Unicode + whitespace normalization — the canonicalization pass a
    web-text pipeline applies before any hashing/dedup so that visually
    identical strings hash identically: optional mojibake repair
    (``fix_mojibake`` — the pinned :data:`MOJIBAKE_TABLE` replace chain,
    run FIRST so repaired NBSP/control bytes flow into the passes below),
    CRLF/CR → LF, NBSP → space, strip C0 control characters (keeping LF
    and TAB), collapse runs of 2+ spaces, then Unicode NFC composition.
    Output (doc_id, text, changed).

    The structural passes are pure JVM regexp projections (whole-stage
    codegen); NFC has no Spark built-in, so it runs as ONE narrow
    Arrow-batched pass (``mapInPandas`` + vectorized
    ``Series.str.normalize``) — no shuffle anywhere, embarrassingly
    parallel over the scan at any scale. The DuckDB oracle replays the
    exact chain with ``replace`` + ``regexp_replace(..., 'g')`` +
    ``nfc_normalize``."""
    import pandas as pd  # noqa: F401 (schema hint for readers)

    orig = F.col(text_col)
    t = orig
    if fix_mojibake:
        for bad, good in MOJIBAKE_TABLE:
            t = F.replace(t, F.lit(bad), F.lit(good))
    cleaned = F.regexp_replace(t, "\r\n|\r", "\n")
    cleaned = F.regexp_replace(cleaned, "\u00a0", " ")
    cleaned = F.regexp_replace(
        cleaned, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", ""
    )
    cleaned = F.regexp_replace(cleaned, "  +", " ")
    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        orig.alias("__orig"),
        cleaned.alias("__cleaned"),
    )

    def _nfc(batches):
        for pdf in batches:
            out = pdf["__cleaned"].str.normalize("NFC")
            yield pdf.assign(text=out, changed=out != pdf["__orig"])[
                ["doc_id", "text", "changed"]
            ]

    return staged.mapInPandas(
        _nfc, schema="doc_id long, text string, changed boolean"
    )


def sample_corpus_mix(
    docs: DataFrame,
    weights: dict[str, int],
    source_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Deterministic corpus mixing: down-sample each source so the kept
    corpus approaches the target token proportions ``weights`` (integer
    weights; sources absent from ``weights`` are dropped). The limiting
    source — the one whose ``total/weight`` is smallest — is kept in full
    and every other source is thinned to match, i.e. the largest corpus
    achievable at the requested mix without upsampling.

    Per-document keep/drop is a pure function of the id (md5 draw, like
    :func:`hash_split` — never ``df.sample``), so the mix is stable across
    re-runs and repartitions. The keep test is exact integer
    cross-multiplication (no float thresholds):

        draw · total_s · w_lim  <  2^32 · total_lim · w_s

    with the products carried in DECIMAL(38,0) — ≤ 2^32·2^50·2^20 ≈ 10^31
    < 10^38, so the arithmetic stays exact at 100 TB token totals. Only the
    per-source totals (one row per source, joined back via broadcast) leave
    the aggregation; nothing collects to the driver. Output: the kept
    corpus as (doc_id, source, n_tokens).

    Cost note: the totals subtree and the final projection are separate
    scans, so each action reads the (id, source, text) columns twice. The
    alternative single-scan plan — ``sum(n_tokens) over (partition by
    source)`` — shuffles EVERY row on the low-cardinality source key
    (skew: one reducer per language), which is strictly worse at 100 TB;
    if the double scan dominates, pre-compute ``n_tokens`` into the table
    upstream so both scans prune ``text``."""
    if not weights or any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be a non-empty map of positive ints")
    spark = docs.sparkSession
    n_tokens = F.size(F.split(F.col(text_col), " ")).cast("long")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        n_tokens.alias("n_tokens"),
    )
    w_df = spark.createDataFrame(
        sorted(weights.items()), "source string, weight long"
    )
    totals = (
        base.groupBy("source")
        .agg(F.sum("n_tokens").alias("total"))
        .join(F.broadcast(w_df), "source")
    )
    # limiting source: argmin(total/weight), tie → source asc. The ORDER BY
    # division is IEEE double of the same ints in both engines (oracle-safe);
    # the keep comparison below never divides.
    lim = (
        totals.orderBy(
            (F.col("total").cast("double") / F.col("weight")).asc(),
            F.col("source").asc(),
        )
        .limit(1)
        .select(
            F.col("total").alias("lim_total"), F.col("weight").alias("lim_weight")
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    draw = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
    )
    return (
        base.join(F.broadcast(totals), "source")
        .join(F.broadcast(lim))
        .where(
            dec(draw) * dec(F.col("total")) * dec(F.col("lim_weight"))
            < dec(F.lit(4294967296)) * dec(F.col("lim_total")) * dec(F.col("weight"))
        )
        .select("doc_id", "source", "n_tokens")
    )


# Default blocked-word list for the C4 page filter — a small, pinned
# stand-in for the large public blocklist C4 uses (the "bad words" page
# filter of Raffel et al. 2020 drops any page containing a listed word).
# Deployments substitute their full list via the parameter; the mechanism
# (word-boundary, case-insensitive, any hit drops the page) is what this
# pins, with a SQL-replayable pattern (ASCII words only, so Java regex
# and DuckDB RE2 agree on every \b boundary).
BLOCKED_WORDS_DEFAULT: tuple[str, ...] = (
    "porn",
    "xxx",
    "viagra",
    "casino",
    "jackpot",
    "escort",
)


def c4_line_filter(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
    blocked_words: tuple[str, ...] = BLOCKED_WORDS_DEFAULT,
) -> DataFrame:
    """C4-style heuristic cleaning (Raffel et al. 2020, the published
    Common-Crawl-to-training-corpus rules): keep only lines with at least
    ``min_words_per_line`` whitespace words that end in terminal
    punctuation (``. ! ? "``); flag the whole document as dropped when it
    contains "lorem ipsum" (case-insensitive), a ``{`` (code), any
    ``blocked_words`` entry as a whole word (C4's bad-words page filter —
    the pinned default list is a small stand-in for the full public
    blocklist; pass the real one at deployment), or fewer than
    ``min_kept_lines`` lines survive. Output per input document:
    ``(doc_id, text, kept, blocked, n_lines, n_lines_kept)`` with ``text``
    rebuilt from the surviving lines in order — rows are never deleted
    here, so corpus loss stays observable (filter on ``kept`` downstream;
    ``blocked`` says WHY a page died when it was the word filter).

    Everything is JVM array/higher-order-function code inside whole-stage
    codegen — split, ``F.filter`` with a word-count + rlike lambda,
    ``array_join``, one word-boundary rlike — zero Exchange, zero Python
    (plan-asserted): embarrassingly parallel over the scan at 100 TB. The
    DuckDB oracle replays the same lambdas with ``list_filter`` +
    ``regexp_matches`` (Java regex and RE2 agree on the anchored character
    class and on ``\\b`` around ASCII words)."""
    lines = F.split(F.col(text_col), "\n")
    kept_lines = F.filter(
        lines,
        lambda x: (F.size(F.split(x, " ")) >= F.lit(min_words_per_line))
        & x.rlike('[.!?"]$'),
    )
    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("__orig"),
        lines.alias("__lines"),
        kept_lines.alias("__kept"),
    )
    # empty list = the filter is OFF (the naive join would build \b()\b,
    # which matches every word boundary and drops the whole corpus);
    # entries are regex-escaped (deployment lists contain 'a$$'-style
    # spellings) and lowercased to match the lowercased text
    if blocked_words:
        import re as _re

        blocked_re = (
            r"\b("
            + "|".join(_re.escape(w.lower()) for w in blocked_words)
            + r")\b"
        )
        blocked = F.lower(F.col("__orig")).rlike(blocked_re)
    else:
        blocked = F.lit(False)
    doc_ok = (
        ~F.lower(F.col("__orig")).contains("lorem ipsum")
        & ~F.col("__orig").contains("{")
        & ~blocked
        & (F.size("__kept") >= F.lit(min_kept_lines))
    )
    return staged.select(
        "doc_id",
        F.array_join("__kept", "\n").alias("text"),
        doc_ok.alias("kept"),
        blocked.alias("blocked"),
        F.size("__lines").cast("long").alias("n_lines"),
        F.size("__kept").cast("long").alias("n_lines_kept"),
    )


def importance_weights(
    docs: DataFrame,
    target_docs: DataFrame,
    n: int = 2,
    n_buckets: int | None = None,
    theta_num: int = 1,
    theta_den: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style data selection via importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"): score
    every raw document by how much more its n-gram features look like a
    small high-quality TARGET corpus than like the raw corpus itself, then
    gate on the weight — the published recipe for carving a Wikipedia-like
    (or domain-specific) slice out of a web crawl.

    Features are distinct word ``n``-grams (:func:`gram_hashes` — one
    shuffle-free Arrow pass, gram strings never materialize). With
    ``n_buckets`` set, features hash into that many buckets exactly as the
    paper's hashed n-gram model (collisions intentional — the bucketed
    model is what scales the target table to a fixed size); unbucketed
    (the default) every distinct gram is its own feature, which keeps the
    oracle cross-representation-exact (DuckDB rebuilds gram STRINGS and
    counts document frequencies — representation-independent, like the
    contamination and quality_lm oracles).

    Per document:

    - ``n_feats``        — distinct features in the document,
    - ``sum_raw_df``     — total raw-corpus document frequency over them,
    - ``sum_target_df``  — total target-corpus document frequency,
    - ``weight``         — (sum_target_df/target_total)/(sum_raw_df/raw_total):
      the ratio-of-sums importance estimate. Pure IEEE double division of
      exact integers with a fixed expression tree, so both engines produce
      the identical bits (no transcendentals anywhere),
    - ``selected``       — weight ≥ theta_num/theta_den, decided by exact
      DECIMAL(38,0) cross-multiplication (no float threshold):
      sum_target_df·raw_total·theta_den ≥ sum_raw_df·target_total·theta_num.

    Scale shape: the raw side is the standard inverted-df pipeline
    (groupBy(feature) partial agg → hash join back → per-doc rollup, every
    shuffled row 16 bytes); the target side is small by construction (a
    curated slice) so its df table broadcasts; the two corpus-total scalars
    join in via broadcast. Payload text never shuffles."""
    feat = (
        (F.pmod(F.col("gram_hash"), F.lit(n_buckets))).alias("feat")
        if n_buckets
        else F.col("gram_hash").alias("feat")
    )
    raw = gram_hashes(docs, n=n, text_col=text_col, id_col=id_col).select(
        "doc_id", feat
    )
    # target keeps its real doc ids: target_df is a document frequency
    # (how many target docs contain the feature), symmetric with raw_df —
    # unlike the contamination check, which wants set membership only
    tgt = gram_hashes(
        target_docs, n=n, text_col=text_col, id_col=id_col
    ).select(F.col(id_col).alias("doc_id"), feat)
    if n_buckets:
        # bucketing collides distinct grams into one feature id; without a
        # re-distinct, (doc, feat) rows duplicate and raw_df/target_df
        # become doc-gram PAIR counts, not the documented document
        # frequencies (gram_hashes is distinct per doc, but only pre-mod)
        raw = raw.distinct()
        tgt = tgt.distinct()
    tgt = tgt.select("feat")
    raw_df = raw.groupBy("feat").agg(F.count(F.lit(1)).alias("raw_df"))
    tgt_df = tgt.groupBy("feat").agg(F.count(F.lit(1)).alias("target_df"))
    # corpus totals derive from the df tables (sum of per-feature counts
    # = total (doc, feat) rows) — aggregating `raw`/`tgt` directly would
    # re-run the full gram pass over each corpus a third time
    # coalesce: sum over zero rows is NULL (count was 0) and a NULL
    # target_total would null out the empty-target gate below
    raw_total = raw_df.groupBy().agg(
        F.coalesce(F.sum("raw_df"), F.lit(0)).alias("raw_total")
    )
    tgt_total = tgt_df.groupBy().agg(
        F.coalesce(F.sum("target_df"), F.lit(0)).alias("target_total")
    )
    per = (
        raw.join(raw_df, "feat")
        .join(F.broadcast(tgt_df), "feat", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum("raw_df").cast("long").alias("sum_raw_df"),
            F.sum(F.coalesce("target_df", F.lit(0)))
            .cast("long")
            .alias("sum_target_df"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return (
        per.join(F.broadcast(raw_total))
        .join(F.broadcast(tgt_total))
        .select(
            "doc_id",
            "n_feats",
            "sum_raw_df",
            "sum_target_df",
            (
                # when(target_total > 0): the selected column already
                # guards the empty-target case, but the weight division
                # itself would raise DIVIDE_BY_ZERO under ANSI for any
                # caller that reads it (0/0) — weight 0.0 matches
                # "select nothing" semantics
                F.when(
                    F.col("target_total") > 0,
                    (
                        F.col("sum_target_df").cast("double")
                        / F.col("target_total").cast("double")
                    )
                    / (
                        F.col("sum_raw_df").cast("double")
                        / F.col("raw_total").cast("double")
                    ),
                ).otherwise(F.lit(0.0))
            ).alias("weight"),
            (
                # target_total > 0: an empty target corpus must select
                # NOTHING — without this conjunct the cross-multiplied
                # comparison degenerates to 0 >= 0 and selects everything
                (F.col("target_total") > 0)
                & (
                    dec(F.col("sum_target_df"))
                    * dec(F.col("raw_total"))
                    * dec(F.lit(theta_den))
                    >= dec(F.col("sum_raw_df"))
                    * dec(F.col("target_total"))
                    * dec(F.lit(theta_num))
                )
            ).alias("selected"),
        )
    )
