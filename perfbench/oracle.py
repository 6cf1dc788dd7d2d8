"""Independent pure-Python recomputation of the curation workload's
expected outputs: the dedup keep-list and the curated corpus after every
``jobs/curate.py`` stage (line dedup → C4 → PII → decontamination →
quality gate → LM gate), replaying the documented rules of
``ocr_project_spark.dedup`` / ``textops`` with plain string operations.

The dedup expectation comes from the planted structure: a planted copy
whose exact 3-shingle Jaccard with its source is ≥ 0.8 must be dropped and
nothing else may be (random documents share far too few shingles).
"""

from __future__ import annotations

import re
from collections import Counter

NEAR_DUP_THRESHOLD = 0.8
C4_MIN_WORDS, C4_MIN_LINES = 5, 3
C4_LINE_END = re.compile(r'[.!?"]$')
BLOCKED_RE = re.compile(r"\b(porn|xxx|viagra|casino|jackpot|escort)\b")
PII = [
    (re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"), "<EMAIL>"),
    (re.compile(r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"), "<IP>"),
    (re.compile(r"\b\d{3}-\d{3}-\d{4}\b"), "<PHONE>"),
]
DECON_N, LM_N = 13, 2


def word_grams(text: str, n: int) -> set[tuple[str, ...]]:
    """Distinct word n-grams; a text shorter than n words is one gram."""
    words = text.split(" ")
    if len(words) < n:
        return {tuple(words)}
    return {tuple(words[i : i + n]) for i in range(len(words) - n + 1)}


def jaccard3(a: str, b: str) -> float:
    sa, sb = word_grams(a, 3), word_grams(b, 3)
    return len(sa & sb) / len(sa | sb)


def expected_keep(ids: list[int], texts: list[str], planted) -> set[int]:
    by_id = dict(zip(ids, texts))
    drop = {
        b for a, b in planted if jaccard3(by_id[a], by_id[b]) >= NEAR_DUP_THRESHOLD
    }
    return set(ids) - drop


def _drop_repeated_lines(docs: dict[int, str]) -> dict[int, str]:
    seen = Counter()
    for text in docs.values():
        seen.update({ln for ln in text.split("\n") if ln.strip(" ") != ""})
    rep = {ln for ln, c in seen.items() if c >= 2}
    return {
        i: "\n".join(ln for ln in t.split("\n") if ln not in rep)
        for i, t in docs.items()
    }


def _c4(docs: dict[int, str]) -> dict[int, str]:
    out = {}
    for i, t in docs.items():
        kept = [
            ln
            for ln in t.split("\n")
            if len(ln.split(" ")) >= C4_MIN_WORDS and C4_LINE_END.search(ln)
        ]
        low = t.lower()
        if (
            "lorem ipsum" not in low
            and "{" not in t
            and not BLOCKED_RE.search(low)
            and len(kept) >= C4_MIN_LINES
        ):
            out[i] = "\n".join(kept)
    return out


def _redact(docs: dict[int, str]) -> dict[int, str]:
    out = {}
    for i, t in docs.items():
        for pat, token in PII:
            t = pat.sub(token, t)
        out[i] = t
    return out


def _decontaminate(docs: dict[int, str], eval_texts: list[str]) -> dict[int, str]:
    bad = set().union(*(word_grams(e, DECON_N) for e in eval_texts))
    return {i: t for i, t in docs.items() if not (word_grams(t, DECON_N) & bad)}


def _quality(docs: dict[int, str]) -> dict[int, str]:
    out = {}
    for i, t in docs.items():
        n_words = len(t.split(" "))
        avg = len(t.replace(" ", "")) * 100 // n_words
        if n_words >= 20 and 200 <= avg <= 900:
            out[i] = t
    return out


def _lm_gate(docs: dict[int, str]) -> dict[int, str]:
    grams = {i: word_grams(t, LM_N) for i, t in docs.items()}
    df = Counter(g for gs in grams.values() for g in gs)
    return {
        i: docs[i]
        for i, gs in grams.items()
        if sum(df[g] <= 1 for g in gs) * 2 <= len(gs)
    }


def expected_curated(
    ids: list[int], texts: list[str], keep: set[int], eval_texts: list[str]
) -> dict[str, set[int]]:
    """Surviving doc ids after each stage, in ``jobs/curate.py`` order."""
    docs = {i: t for i, t in zip(ids, texts) if i in keep}
    stages = {}
    docs = _drop_repeated_lines(docs)
    docs = _c4(docs)
    stages["c4"] = set(docs)
    docs = _redact(docs)
    docs = _decontaminate(docs, eval_texts)
    stages["decontaminate"] = set(docs)
    docs = _quality(docs)
    stages["quality_gate"] = set(docs)
    docs = _lm_gate(docs)
    stages["lm_gate"] = set(docs)
    return stages
