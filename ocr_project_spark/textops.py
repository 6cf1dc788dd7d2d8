"""Text-analysis operators for the training-data pipeline.

These are the large-scale corpus operations a 100 TB extraction pipeline
feeds: token counting, quality scoring and gating, C4 line cleaning, PII
redaction, benchmark decontamination, corpus-frequency LM scoring and
per-language corpus statistics.
Everything but the word-gram hashing of :func:`gram_hashes` (one narrow
Arrow pass) stays JVM-side (built-in ``pyspark.sql.functions``, whole-stage
codegen). Integer-safe formulas are used wherever a DuckDB differential
oracle checks the values (float rounding differs across engines).
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
