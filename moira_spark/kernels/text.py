"""Heuristic text-statistics kernels (length / symbol / repetition rules)
and the Gopher repetition counts behind ``doc_repetition_stats``.

These mirror moira's cheap per-read gates (ambig-base count, --truncate
length gate; reference moira.py [M], reconstructed — /root/reference empty,
SURVEY.md §0) transposed to Gopher/C4-style text heuristics.

IMPORTANT ASCII contract: the Spark pipeline evaluates the length and symbol
rules as native Column expressions (Java regex, whole-stage codegen).  Java's
``\\s`` and ``\\p{Alnum}`` are ASCII-only by default, so every definition here
uses explicit ASCII classes to stay bit-identical with the JVM side:

  whitespace  = [ \\t\\n\\x0b\\f\\r]
  alnum       = [A-Za-z0-9]
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np

from moira_spark import config

_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")
# Maximal runs of non-(ASCII-whitespace): findall(_TOKEN_RE) is exactly
# _WS_RE.split with empties dropped, minus the filtering pass (~17% faster
# on the fused-UDF hot path; equivalence asserted in tests/test_kernels.py).
_TOKEN_RE = re.compile(r"[^ \t\n\x0b\f\r]+")
_SYMBOL_RE = re.compile(r"[^A-Za-z0-9 \t\n\x0b\f\r]")
_HASH_ELLIPSIS_RE = re.compile(r"[#…]")


def words(text: str) -> list[str]:
    """ASCII-whitespace tokenisation, empty tokens dropped."""
    return _TOKEN_RE.findall(text)


def word_count(text: str) -> int:
    return len(words(text))


def symbol_count(text: str) -> int:
    """Count of chars that are neither ASCII alphanumeric nor ASCII space."""
    return len(_SYMBOL_RE.findall(text))


def hash_ellipsis_count(text: str) -> int:
    return len(_HASH_ELLIPSIS_RE.findall(text))


def length_rule_fails(text: str) -> bool:
    n_chars = len(text)
    n_words = word_count(text)
    return not (
        config.MIN_CHARS <= n_chars <= config.MAX_CHARS
        and config.MIN_WORDS <= n_words <= config.MAX_WORDS
    )


def symbol_rule_fails(text: str) -> bool:
    n_words = word_count(text)
    denom = max(n_words, 1)
    if symbol_count(text) / denom > config.MAX_SYMBOL_WORD_RATIO:
        return True
    return hash_ellipsis_count(text) / denom > config.MAX_HASH_ELLIPSIS_WORD_RATIO


# ------------------------------------------------------------------ repetition


def dup_line_char_frac(text: str) -> float:
    """Fraction of characters that sit in a line occurring more than once."""
    lines = [ln for ln in text.split("\n") if ln.strip()]
    if not lines:
        return 0.0
    counts = Counter(lines)
    total = sum(len(ln) for ln in lines)
    if total == 0:
        return 0.0
    dup = sum(len(ln) * c for ln, c in counts.items() if c > 1)
    return dup / total


def ngrams(toks: list[str], n: int):
    """Word n-grams of ``toks`` as tuples, in position order: a ``zip``
    over ``n`` shifted slices.  The one gram iterator — the repetition
    rule and the Gopher counts both count its output with a ``Counter``."""
    return zip(*[toks[i:] for i in range(n)])


def top_ngram_stats(
    toks: list[str], n: int, total_chars: int
) -> tuple[float, bool]:
    """-> (frac, any_repeat): largest char coverage of any REPEATED word
    n-gram — max over grams with count >= 2 of
    (count * gram_chars) / total_token_chars — plus whether ANY n-gram
    repeats ("most-covering repeated n-gram", tie-unambiguous).
    """
    n_grams = len(toks) - n + 1
    if n_grams < 1:
        return 0.0, False
    counts = Counter(ngrams(toks, n))
    # a repeat exists iff some gram collapsed: O(1) vs scanning items()
    if len(counts) == n_grams:
        return 0.0, False
    best = 0
    for gram, cnt in counts.items():
        if cnt > 1:
            cover = cnt * sum(map(len, gram))
            if cover > best:
                best = cover
    if total_chars == 0:
        return 0.0, True
    return best / total_chars, True


def repetition_rule_fails(text: str) -> bool:
    """The per-turn repetition rule: duplicated-line character fraction,
    then the top repeated 2/3/4-gram cascade.  Tokens split on ASCII
    whitespace, like the JVM length and symbol rules."""
    toks = words(text)
    if len(toks) < config.MIN_WORDS_FOR_REPETITION:
        return False
    if "\n" in text and dup_line_char_frac(text) > config.MAX_DUP_LINE_FRAC:
        return True
    # NOTE: an all-unigrams-unique early exit was measured to fire on only
    # ~5% of fixture texts (common words repeat in nearly all prose) while
    # paying a full Counter(toks) on the other 95% — the n=2 any_repeat
    # exit below subsumes it semantically (no repeated unigram -> no
    # repeated bigram) and fires on ~55%, so the unigram gate was removed.
    total_chars = sum(map(len, toks))
    # a repeated n-gram implies a repeated (n-1)-gram, so once some n has
    # NO repeats at all, larger n cannot fail either — prune the cascade
    for n, thresh in config.MAX_TOP_NGRAM_CHAR_FRAC.items():
        frac, any_repeat = top_ngram_stats(toks, n, total_chars)
        if frac > thresh:
            return True
        if not any_repeat:
            return False
    return False


def repetition_flags(texts: "list[str] | np.ndarray") -> np.ndarray:
    return np.fromiter(
        (repetition_rule_fails(t) for t in texts), dtype=bool, count=len(texts)
    )


def gopher_counts(texts) -> "list[tuple[int, int, int, int, int]]":
    """Per-text Gopher repetition INTEGER counts: (n_words, total_chars,
    top_chars, dup_chars, d5_chars) — the top-bigram cover, the chars in
    repeated words, and the chars under the union of repeated-5-gram
    spans.  Tokens split on single spaces with empties dropped, exactly
    like the DuckDB oracle's ``STRING_SPLIT(text, ' ')`` + filter (NOT the
    rule's ASCII-whitespace split).  A token holds no space, so a 5-gram's
    tuple key is as injective as its space-joined string.  All outputs
    are exact integers; every float op (division, round) stays JVM-side
    in ``harness.text.repetition_stats``."""
    out = []
    for t in texts:
        w = [x for x in t.split(" ") if x]
        n = len(w)
        lens = [len(x) for x in w]
        total = sum(lens)
        top = 0
        if n >= 2:
            # cov = cnt * (len(bigram) - 1) = cnt * (len(a) + len(b))
            top = max(
                cnt * (len(a) + len(b))
                for (a, b), cnt in Counter(ngrams(w, 2)).items()
            )
        dup = 0
        if n:
            dup = sum(cnt * len(wd) for wd, cnt in Counter(w).items() if cnt > 1)
        d5 = 0
        if n >= 5:
            grams = list(ngrams(w, 5))
            c5 = Counter(grams)
            prev = -1
            for s, g in enumerate(grams):
                if c5[g] > 1:
                    for i in range(max(s, prev + 1), s + 5):
                        d5 += lens[i]
                    prev = s + 4
        out.append((n, total, top, dup, d5))
    return out
