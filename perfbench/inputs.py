"""Seeded input generation. The program under test only ever sees the
tables written here; every property a check relies on is a pure function
of the seed (and, for the resume split, of the url).

Extraction corpus: ``base_docs`` documents shaped like the project's sf
``documents`` table (31-word vocabulary, 10-100 words, five languages,
twenty sources), tiled ``replicas`` times at seed-chosen doc_id offsets
(multiples of ``datagen.REPLICA_STRIDE``). The offsets move which doc_ids
hit ``doc_id % 97 == 13``, so the planted malformed share differs per seed
but is known exactly.

Curation corpus: multi-line punctuated documents in which every curation
stage has something to do: planted near-duplicate copies (MinHash +
components), boilerplate lines shared across documents (line dedup),
short menu lines and lorem-ipsum / code / thin documents (C4 filter),
emails, phones and IPs (PII), passages copied from an eval set
(decontamination), long-token documents (quality gate) and gibberish
documents (LM gate). Base documents are tiled into replicas; each replica
salts every 5th content word, so replicas of one document are far from
near-duplicates of each other (the recipe of
``scripts/bench_dedup_scaling.py``).
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPLICA_STRIDE = 1_000_000  # same stride as ocr_project_spark.datagen
MALFORMED_MOD, MALFORMED_REM = 97, 13
RESUME_TODO_MOD = 10  # 1 url in 10 is left for the resume rerun

EXTRACT_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)

CURATE_VOCAB = (
    "river stone market garden winter summer engine signal harbor mountain "
    "village library window kitchen bridge forest station letter planet ocean "
    "travel follow measure gather improve explain consider discover describe "
    "prepare quick bright quiet heavy simple narrow gentle modern ancient "
    "common early later often rarely always never today together around "
    "between across under through the a of and to in for with"
).split()
BOILERPLATE_LINES = [
    f"Subscribe to our newsletter for updates about {w} and more."
    for w in CURATE_VOCAB[:24]
]
MENU_LINES = ["Home | About", "Share this", "Read more", "Menu Login Search"]
EVAL_PASSAGES = 64
EVAL_WORDS = 20


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


# ---------------------------------------------------------------- extraction


def replica_offsets(seed: int, replicas: int) -> list[int]:
    picks = _rng(seed, "offsets").choice(np.arange(1, 1000), replicas, replace=False)
    return sorted(int(k) * REPLICA_STRIDE for k in picks)


def write_documents(path: str, seed: int, base_docs: int, replicas: int) -> dict:
    """documents(doc_id, text, lang, source, n_chars) → ``path``; returns
    the facts the checks need."""
    rng = _rng(seed, "documents")
    vocab = np.array(EXTRACT_VOCAB)
    n_words = rng.integers(10, 101, base_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in n_words]
    langs = rng.choice(LANGS, base_docs, p=LANG_P)
    offs = replica_offsets(seed, replicas)
    doc_ids = np.concatenate([np.arange(base_docs, dtype=np.int64) + o for o in offs])
    all_texts = texts * replicas
    table = pa.table(
        {
            "doc_id": doc_ids,
            "text": all_texts,
            "lang": np.tile(langs, replicas),
            "source": [f"src{i % 20}" for i in doc_ids],
            "n_chars": np.array([len(t) for t in all_texts], dtype=np.int64),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "documents.parquet"))
    return {
        "n_docs": len(doc_ids),
        "n_malformed": int(np.sum(doc_ids % MALFORMED_MOD == MALFORMED_REM)),
        "offsets": offs,
    }


def resume_todo_key(seed: int) -> str:
    """Salt for the done/todo split: a url is left for the rerun iff
    crc32(salt + url) % RESUME_TODO_MOD == 0 (same expression in Spark)."""
    return f"{seed}|"


def is_resume_todo(seed: int, url: str) -> bool:
    return zlib.crc32((resume_todo_key(seed) + url).encode()) % RESUME_TODO_MOD == 0


# ------------------------------------------------------------------ curation


TAG = "@TAG@"


def _salted(word: str, salt: str) -> str:
    """Salt a word, keeping any terminal period last (C4 keys on it)."""
    return word[:-1] + salt + "." if word.endswith(".") else word + salt


def _sentence(rng, vocab, lo, hi) -> list[str]:
    words = list(vocab[rng.integers(0, len(vocab), rng.integers(lo, hi))])
    words[0] = words[0].capitalize()
    return words


def write_curate_corpus(dir_path: str, seed: int, base_docs: int, replicas: int) -> dict:
    """corpus.parquet(doc_id, text) and eval.parquet(text) under
    ``dir_path``; returns paths plus the planted near-dup pairs."""
    rng = _rng(seed, "curate")
    vocab = np.array(CURATE_VOCAB)
    eval_texts = [
        " ".join(vocab[rng.integers(0, len(vocab), EVAL_WORDS)])
        for _ in range(EVAL_PASSAGES)
    ]
    salts = [f"q{int(s)}" for s in rng.choice(np.arange(100, 1000), replicas, replace=False)]

    # Base documents as lists of (kind, words). Kind "c" is a random
    # content line; "b" a boilerplate or menu line shared across documents;
    # "s" a special line (PII, lorem ipsum, code, eval passage, long tokens,
    # gibberish) made unique per document and replica by the TAG word.
    base: list[list[tuple[str, list[str]]]] = []
    for _ in range(base_docs):
        n_lines = 2 if rng.random() < 0.04 else int(rng.integers(3, 8))
        lines = [("c", _sentence(rng, vocab, 6, 15)) for _ in range(n_lines)]
        for _, words in lines:
            words[-1] += "."
        if rng.random() < 0.5:
            pick = BOILERPLATE_LINES[int(rng.integers(0, len(BOILERPLATE_LINES)))]
            lines.insert(int(rng.integers(0, len(lines) + 1)), ("b", pick.split(" ")))
        if rng.random() < 0.3:
            pick = MENU_LINES[int(rng.integers(0, len(MENU_LINES)))]
            lines.insert(0, ("b", pick.split(" ")))
        r = rng.random()
        if r < 0.08:
            phone = f"555-{int(rng.integers(100, 1000))}-{int(rng.integers(1000, 10000))}"
            lines.append(("s", f"Contact user{int(rng.integers(0, 10**6))}@example.com or call {phone} {TAG} for details.".split(" ")))
        elif r < 0.12:
            ip = ".".join(str(int(x)) for x in rng.integers(0, 256, 3))
            lines.append(("s", f"Server 10.{ip} answered the request {TAG} today.".split(" ")))
        r = rng.random()
        if r < 0.01:
            lines.append(("s", f"Lorem ipsum dolor sit amet {TAG} consectetur.".split(" ")))
        elif r < 0.02:
            lines.append(("s", f"Call the helper with {{ braces }} inside {TAG} code.".split(" ")))
        elif r < 0.03:
            passage = eval_texts[int(rng.integers(0, EVAL_PASSAGES))].split(" ")
            lines.insert(1, ("s", passage[:15] + [TAG, "indeed."]))
        elif r < 0.045:
            lines.append(("s", ["notwithstandingly"] * 40 + [TAG, "incomprehensibilities."]))
        elif r < 0.065:
            # gibberish: every bigram is unique to this document
            lines = [
                ("s", [w for j in range(6) for w in ("x", f"{TAG}{g}{j}")] + ["end."])
                for g in range(3)
            ]
        base.append(lines)

    # planted near-duplicates: a copy of an earlier long document with one
    # word in its longest content line replaced
    pairs_base: list[tuple[int, int]] = []
    for s in rng.choice(np.arange(base_docs // 2), base_docs // 12, replace=False):
        src = base[int(s)]
        if sum(len(w) for _, w in src) < 60:
            continue
        copy = [(k, list(w)) for k, w in src]
        li = max(
            (j for j, (k, _) in enumerate(copy) if k == "c"),
            key=lambda j: len(copy[j][1]),
        )
        words = copy[li][1]
        mid = len(words) // 2
        words[mid] = "altered" if words[mid] != "altered" else "changed"
        base.append(copy)
        pairs_base.append((int(s), len(base) - 1))

    ids, texts = [], []
    for r_i, salt in enumerate(salts):
        for b_i, lines in enumerate(base):
            tag = f"t{b_i}{salt}"
            out = []
            for kind, words in lines:
                if kind == "c":
                    words = [_salted(w, salt) if j % 5 == 2 else w for j, w in enumerate(words)]
                elif kind == "s":
                    words = [w.replace(TAG, tag) for w in words]
                out.append(" ".join(words))
            ids.append(r_i * REPLICA_STRIDE + b_i)
            texts.append("\n".join(out))
    os.makedirs(dir_path, exist_ok=True)
    corpus = os.path.join(dir_path, "corpus.parquet")
    evalp = os.path.join(dir_path, "eval.parquet")
    pq.write_table(pa.table({"doc_id": np.array(ids, dtype=np.int64), "text": texts}), corpus)
    pq.write_table(pa.table({"text": eval_texts}), evalp)
    planted = [
        (r_i * REPLICA_STRIDE + a, r_i * REPLICA_STRIDE + b)
        for r_i in range(replicas)
        for a, b in pairs_base
    ]
    return {
        "corpus": corpus,
        "eval": evalp,
        "n_docs": len(ids),
        "planted_pairs": planted,
        "ids": ids,
        "texts": texts,
        "eval_texts": eval_texts,
    }
