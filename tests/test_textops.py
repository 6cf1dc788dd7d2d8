"""Text-analysis operator tests: token counting, quality scores and gates,
corpus statistics, repetition signals, decontamination, PII redaction, C4
cleaning and word-gram LM scoring over the driver documents and crafted
corpora.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_project_spark.textops import quality_scores, token_counts


def test_token_counts_crafted(spark):
    df = spark.createDataFrame(
        [(0, "Hello, world! x2")], "doc_id long, text string"
    )
    row = token_counts(df).collect()[0]
    assert row["n_ws_tokens"] == 3
    # Hello , world ! x2  → 5 BPE-ish tokens (alnum runs stay whole)
    assert row["n_bpe_tokens"] == 5


def test_token_counts_consistency(documents):
    joined = token_counts(documents).join(
        documents.select("doc_id", F.size(F.split("text", " ")).alias("expected")),
        "doc_id",
    )
    assert joined.where(F.col("n_ws_tokens") != F.col("expected")).count() == 0


def test_quality_scores_crafted(spark):
    df = spark.createDataFrame([(0, "aa bb cc the a")], "doc_id long, text string")
    row = quality_scores(df).collect()[0]
    assert row["n_chars"] == 14
    assert row["n_words"] == 5
    assert row["avg_word_len_x100"] == 200  # 10 chars / 5 words
    assert row["stopword_hits"] == 2
    assert row["stopword_ratio_x10000"] == 4000


def test_corpus_stats_exact(documents):
    from ocr_project_spark.textops import corpus_stats

    row = {r["lang"]: r for r in corpus_stats(documents).collect()}
    expected = {
        r["lang"]: r
        for r in documents.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size(F.split("text", " "))).alias("tw"),
        )
        .collect()
    }
    assert row.keys() == expected.keys()
    for lang, e in expected.items():
        assert row[lang]["n_docs"] == e["n"]
        assert row[lang]["total_words"] == e["tw"]
        assert row[lang]["min_words"] <= row[lang]["max_words"]


def test_corpus_percentiles_vs_numpy(documents):
    import numpy as np

    from ocr_project_spark.textops import corpus_percentiles

    got = {r["lang"]: r for r in corpus_percentiles(documents).collect()}
    rows = documents.select(
        "lang", F.size(F.split("text", " ")).alias("n")
    ).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r["n"])
    for lang, vals in by_lang.items():
        arr = np.array(sorted(vals))
        # GK sketch at accuracy 10000 over ≤250 values is exact: the
        # returned element's rank must bracket the target quantile
        for p, col in ((0.5, "p50_words"), (0.9, "p90_words"), (0.99, "p99_words")):
            v = got[lang][col]
            rank = (arr <= v).mean()
            assert rank >= p - 0.05
            assert (arr < v).mean() <= p + 0.05


def test_gopher_gate_rules(spark):
    """Each Gopher-style rule independently rejects: too short, degenerate
    word length, non-alphabetic junk, missing stopword evidence."""
    from ocr_project_spark.textops import gopher_gate

    good = "the quick brown fox jumps over a lazy dog " * 3  # 30 words, stopwords
    rows = [
        (0, good.strip()),
        (1, "too short a the"),  # < 20 words
        (2, " ".join(["a"] * 25)),  # avg word len 1.00 < 2.00
        (3, " ".join(["1234"] * 18) + " a the"),  # alpha ratio 10% < 80%
        (4, " ".join(f"w{i}" for i in range(25))),  # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r["doc_id"] for r in gopher_gate(df).collect()}
    assert kept == {0}


def test_repetition_signals(spark):
    from ocr_project_spark.textops import repetition_signals

    rows = [
        (1, "a a a b"),        # top=3/4, distinct=2/4, dup 2-gram pos 2/3
        (2, "x y z w"),        # no repetition at all
        (3, "p p p p p"),      # fully repeated
        (4, "solo"),           # single word: no 2-gram positions
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert out[1]["top_word_frac_x10000"] == 7500
    assert out[1]["distinct_word_frac_x10000"] == 5000
    assert out[1]["dup_2gram_frac_x10000"] == 6666
    assert out[2]["top_word_frac_x10000"] == 2500
    assert out[2]["dup_2gram_frac_x10000"] == 0
    assert out[3]["top_word_frac_x10000"] == 10000
    assert out[3]["dup_2gram_frac_x10000"] == 10000
    assert out[4]["n_words"] == 1 and out[4]["dup_2gram_frac_x10000"] == 0


def test_contamination_check_planted(spark):
    """Planted overlap: doc 1 shares exactly its 13-gram window with the
    benchmark, doc 2 shares nothing, doc 3 is a short (<n words) doc whose
    full text appears verbatim in the eval set (short-gram path)."""
    from ocr_project_spark.textops import contamination_check, decontaminate

    w = [f"w{i}" for i in range(20)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(w)),            # 20 words -> 8 distinct 13-grams
            (2, " ".join(f"x{i}" for i in range(20))),  # disjoint vocab
            (3, "tiny doc only"),        # <13 words -> one short gram
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(" ".join(w[:13]),), ("tiny doc only",)], "text string"
    )
    got = {
        r["doc_id"]: (r["n_contaminated_grams"], r["contaminated"])
        for r in contamination_check(docs, eval_docs).collect()
    }
    # doc 1: exactly ONE of its 8 grams (positions 1..8) equals the eval
    # gram w[0..12]; doc 3's single short gram matches the eval short gram
    assert got == {1: (1, True), 2: (0, False), 3: (1, True)}
    kept = {r["doc_id"] for r in decontaminate(docs, eval_docs).collect()}
    assert kept == {2}


def test_contamination_corpus_never_shuffles(spark):
    """Plan contract: both joins against the (small) eval/hit sides are
    broadcast — the corpus rows themselves never exchange; the only
    aggregation exchange carries matched (doc_id, gram) hits."""
    from tests.test_plans import n_nodes, plan_of

    from ocr_project_spark.textops import contamination_check

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("a"), F.col("id").cast("string")).alias("text"),
    )
    ev = spark.range(5).select(F.concat_ws(
        " ", F.lit("a"), F.col("id").cast("string")).alias("text"))
    plan = plan_of(contamination_check(docs, ev))
    assert n_nodes(plan, "BroadcastHashJoin") == 2
    assert n_nodes(plan, "SortMergeJoin") == 0
    # one hash-agg exchange for the per-doc hit count, plus the two
    # broadcast exchanges of the tiny sides -- nothing else
    assert n_nodes(plan, "Exchange") <= 1


def test_redact_pii_crafted(spark):
    from ocr_project_spark.textops import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail a.b-c@sub.example.org now"),
            (2, "server 192.168.0.1 and 10.0.0.7 up"),
            (3, "call 555-867-5309."),
            (4, "clean text only"),
            (5, "x@y.io at 1.2.3.4 tel 123-456-7890"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["text"], r["n_emails"], r["n_ipv4"], r["n_phones"])
        for r in redact_pii(docs).collect()
    }
    assert got == {
        1: ("mail <EMAIL> now", 1, 0, 0),
        2: ("server <IP> and <IP> up", 0, 2, 0),
        3: ("call <PHONE>.", 0, 0, 1),
        4: ("clean text only", 0, 0, 0),
        5: ("<EMAIL> at <IP> tel <PHONE>", 1, 1, 1),
    }


def test_redact_pii_is_shuffle_free(spark):
    """Plan contract: pure JVM projection — no exchange, no Python stage."""
    from tests.test_plans import n_nodes, plan_of

    from ocr_project_spark.textops import redact_pii

    docs = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit("a b c").alias("text")
    )
    plan = plan_of(redact_pii(docs))
    assert n_nodes(plan, "Exchange") == 0
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_c4_line_filter_crafted(spark):
    """Every C4 rule on crafted rows: word-count minimum, terminal
    punctuation, lorem-ipsum and curly-brace document flags, the
    min-kept-lines floor, and in-order text rebuild."""
    from ocr_project_spark.textops import c4_line_filter

    good = "this line has enough words to survive."
    bang = 'she said "five words are enough!"'
    short = "Too short."
    nopunct = "this line has many words but no terminal punctuation"
    docs = spark.createDataFrame(
        [
            (1, "\n".join([good, short, nopunct, bang, good])),
            (2, "\n".join([good, good])),  # only 2 kept -> not kept
            (3, "\n".join([good, good, "Lorem Ipsum dolor sit amet.", good])),
            (4, "\n".join([good, good, "a code line { with braces }.", good])),
            (5, "no lines survive here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["text"], r["kept"], r["n_lines"], r["n_lines_kept"])
        for r in c4_line_filter(docs).collect()
    }
    assert got[1] == ("\n".join([good, bang, good]), True, 5, 3)
    assert got[2] == ("\n".join([good, good]), False, 2, 2)
    # lorem/brace: surviving lines still rebuilt, doc flagged
    assert got[3][1:] == (False, 4, 4)
    assert got[4][1] is False
    assert got[5] == ("", False, 1, 0)


def test_c4_blocked_words_page_filter(spark):
    """C4's bad-words page filter: any whole-word blocklist hit drops the
    page (case-insensitive); substrings inside longer words never fire."""
    from ocr_project_spark.textops import c4_line_filter

    good = "this line has enough words to survive."
    docs = spark.createDataFrame(
        [
            (1, "\n".join([good, good, "Play the CASINO game here now!"])),
            # 'cassino' / 'maxxxam' do not contain a whole-word hit
            (2, "\n".join([good, good, "visit cassino italy or maxxxam."])),
            (3, "\n".join([good, good, good])),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["kept"], r["blocked"])
        for r in c4_line_filter(docs).collect()
    }
    assert got[1] == (False, True)
    assert got[2] == (True, False)
    assert got[3] == (True, False)
    # custom blocklist swaps cleanly
    got2 = {
        r["doc_id"]: r["blocked"]
        for r in c4_line_filter(docs, blocked_words=("italy",)).collect()
    }
    assert got2 == {1: False, 2: True, 3: False}


def test_c4_line_filter_is_shuffle_free(spark):
    from tests.test_plans import n_nodes, plan_of

    from ocr_project_spark.textops import c4_line_filter

    docs = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit("a b c d e.\nf g").alias("text")
    )
    plan = plan_of(c4_line_filter(docs))
    assert n_nodes(plan, "Exchange") == 0
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_gram_hashes_matches_string_shingles(spark, documents):
    """The Arrow rolling-hash gram pass is count-equivalent to the string
    shingle path per document (distinct grams; short-doc whole-text gram
    included) and injective on this corpus: distinct hash count equals
    distinct gram-string count globally."""
    from ocr_project_spark.dedup import shingle_sets
    from ocr_project_spark.textops import gram_hashes

    docs = documents.select("doc_id", "text")
    n = 13
    want = {
        r["doc_id"]: r["k"]
        for r in shingle_sets(docs, n)
        .select("doc_id", F.size("shingles").alias("k"))
        .collect()
    }
    got_df = gram_hashes(docs, n)
    got = {
        r["doc_id"]: r["k"]
        for r in got_df.groupBy("doc_id").agg(F.count("*").alias("k")).collect()
    }
    assert got == want
    n_hashes = got_df.select("gram_hash").distinct().count()
    n_strings = (
        shingle_sets(docs, n).select(F.explode("shingles")).distinct().count()
    )
    assert n_hashes == n_strings
    # determinism across repartition (executor-independent hashing)
    again = gram_hashes(docs.repartition(7), n)
    assert again.exceptAll(got_df).count() == 0 and got_df.exceptAll(again).count() == 0


def test_gram_lm_scores_crafted(spark):
    """Corpus-frequency LM scoring: docs sharing their bigrams corpus-wide
    score familiarity 1.0 and pass; a doc of corpus-unique bigrams scores
    0.0 and fails; a mixed doc lands exactly at the integer-ratio values."""
    from ocr_project_spark.textops import gram_lm_scores

    rows = [
        (1, "the cat sat down"),
        (2, "the cat sat down"),       # exact repeat: every gram df=2
        (3, "qq1 qq2 qq3 qq4"),        # every gram unique -> all rare
        (4, "the cat qq5 qq6"),        # grams: 'the cat' df=3, rest df=1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in gram_lm_scores(docs, n=2).collect()}
    assert got[1]["n_grams"] == 3 and got[1]["n_rare"] == 0
    assert got[1]["familiarity"] == 1.0 and got[1]["passes_lm"]
    assert got[2]["sum_df"] == 7  # 'the cat' df=3 (doc 4 too), others df=2
    assert got[3]["n_rare"] == 3 and got[3]["familiarity"] == 0.0
    assert not got[3]["passes_lm"]
    # doc 4: 'the cat' df=3, 'cat qq5' df=1, 'qq5 qq6' df=1
    assert got[4]["n_grams"] == 3 and got[4]["n_rare"] == 2
    assert got[4]["sum_df"] == 5
    assert got[4]["familiarity"] == 1 / 3 and not got[4]["passes_lm"]


def test_gram_lm_scores_short_doc_whole_text_gram(spark):
    """A document shorter than n words contributes its single whole-text
    gram (mirroring gram_hashes), so two identical one-word docs are
    mutually familiar."""
    from ocr_project_spark.textops import gram_lm_scores

    docs = spark.createDataFrame(
        [(1, "hello"), (2, "hello"), (3, "solo")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in gram_lm_scores(docs, n=2).collect()}
    assert got[1]["n_grams"] == 1 and got[1]["n_rare"] == 0 and got[1]["passes_lm"]
    assert got[3]["n_rare"] == 1 and not got[3]["passes_lm"]


def test_gopher_gate_emit_all_matches_filter(spark, documents):
    """emit_all=True must agree row-for-row with the filtering default."""
    from ocr_project_spark.textops import gopher_gate

    survivors = {r["doc_id"] for r in gopher_gate(documents).collect()}
    flagged = {
        r["doc_id"]: r["passes_gopher"]
        for r in gopher_gate(documents, emit_all=True).collect()
    }
    assert len(flagged) == documents.count()
    assert {d for d, p in flagged.items() if p} == survivors


def test_gram_and_fingerprint_paths_tolerate_null_text(spark):
    """NULL text must yield zero grams, not an AttributeError that kills
    the Arrow batch."""
    from ocr_project_spark.textops import gram_hashes

    docs = spark.createDataFrame(
        [(1, None), (2, "alpha beta gamma delta")], "doc_id long, text string"
    )
    g = gram_hashes(docs, n=2).collect()
    assert {r["doc_id"] for r in g} == {2}


def test_quality_scores_survive_mega_document(spark):
    """A single huge document must not overflow the 32-bit x100/x10000
    intermediates (ANSI would abort the whole corpus pass)."""
    from ocr_project_spark.textops import gopher_gate, quality_scores

    docs = spark.createDataFrame(
        [
            (1, "x" * 22_000_000),      # chars_no_space*100 > int32
            (2, "the " * 250_000),      # stop_hits*10000 > int32
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in quality_scores(docs).collect()}
    assert rows[1]["avg_word_len_x100"] == 2_200_000_000
    assert rows[2]["stopword_ratio_x10000"] > 0
    gopher_gate(docs, emit_all=True).collect()  # must not raise


def test_stateless_curation_ops_compose_with_streams(spark, documents, tmp_path):
    """The shuffle-free curation projections (redact_pii here) are valid
    Structured Streaming transformations as-is: readStream → redact_pii →
    availableNow parquet sink equals the batch result, and a second
    invocation with the same checkpoint reprocesses nothing."""
    from ocr_project_spark.textops import redact_pii

    inp = str(tmp_path / "segments")
    out = str(tmp_path / "redacted")
    ckpt = str(tmp_path / "ckpt")

    docs = documents.select("doc_id", "text").where("doc_id < 200")
    docs.coalesce(1).write.mode("append").parquet(inp)

    stream = spark.readStream.schema("doc_id long, text string").parquet(inp)
    q = (
        redact_pii(stream)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start(out)
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    want = redact_pii(docs)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0

    # same checkpoint, no new segments -> nothing reprocessed
    q = (
        redact_pii(stream)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start(out)
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == want.count()
