"""Spec-literal reference for the repetition kernels.

``oracle/ref_pipeline.py`` scores turns with the same ``score_batch`` as the
Spark UDF, so ``pipeline_f1_vs_reference`` = 1.0 cannot catch a wrong
repetition rule.  The references below are written from the spec alone,
with explicit dicts for n-gram counting and character loops for the
tokenizers; they share no code with ``moira_spark/kernels/``.

The per-turn rule (``repetition_flags``), thresholds from ``config``:
- tokens are maximal runs of non-ASCII-whitespace (space, TAB, LF, VT,
  FF, CR), like the JVM length/symbol rules;
- fewer than ``MIN_WORDS_FOR_REPETITION`` tokens never fail;
- fail when the characters of non-blank lines (split on LF) that occur
  more than once exceed ``MAX_DUP_LINE_FRAC`` of all non-blank line chars;
- fail when, for some n in ``MAX_TOP_NGRAM_CHAR_FRAC``, the most-covering
  repeated word n-gram (count * its token chars) exceeds that fraction of
  all token chars.

The Gopher counts (``doc_repetition_stats``): tokens split on single
spaces with empties dropped, like DuckDB's ``STRING_SPLIT(text, ' ')``;
-> (n_words, token chars, top-bigram cover count * (len(a) + len(b)),
chars of words occurring more than once counted per occurrence, chars of
the tokens inside any repeated word 5-gram).
"""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings, strategies as st

from moira_spark import config
from moira_spark.kernels.text import gopher_counts, repetition_flags

DET = settings(derandomize=True, max_examples=400, deadline=None)

ASCII_WS = {" ", "\t", "\n", "\x0b", "\x0c", "\r"}


def ref_words(text: str) -> list[str]:
    out, cur = [], []
    for ch in text:
        if ch in ASCII_WS:
            if cur:
                out.append("".join(cur))
                cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def ref_gram_counts(toks: list[str], n: int) -> dict:
    counts: dict = {}
    for i in range(len(toks) - n + 1):
        key = tuple(toks[i : i + n])
        counts[key] = counts.get(key, 0) + 1
    return counts


def ref_rule_fails(text: str) -> bool:
    toks = ref_words(text)
    if len(toks) < config.MIN_WORDS_FOR_REPETITION:
        return False
    lines = [ln for ln in text.split("\n") if ln.strip() != ""]
    line_counts: dict = {}
    for ln in lines:
        line_counts[ln] = line_counts.get(ln, 0) + 1
    line_chars = sum(len(ln) for ln in lines)
    dup_line_chars = sum(len(ln) for ln in lines if line_counts[ln] > 1)
    if line_chars and dup_line_chars / line_chars > config.MAX_DUP_LINE_FRAC:
        return True
    tok_chars = sum(len(t) for t in toks)
    for n, thresh in config.MAX_TOP_NGRAM_CHAR_FRAC.items():
        counts = ref_gram_counts(toks, n)
        covers = [
            c * sum(len(t) for t in gram) for gram, c in counts.items() if c > 1
        ]
        if covers and max(covers) / tok_chars > thresh:
            return True
    return False


def ref_gopher_counts(text: str) -> tuple[int, int, int, int, int]:
    toks = [t for t in text.split(" ") if t != ""]
    lens = [len(t) for t in toks]
    bigrams = ref_gram_counts(toks, 2)
    top = max((c * (len(a) + len(b)) for (a, b), c in bigrams.items()), default=0)
    words = ref_gram_counts(toks, 1)
    dup = sum(len(t) for t in toks if words[(t,)] > 1)
    five = ref_gram_counts(toks, 5)
    covered = set()
    for s in range(len(toks) - 4):
        if five[tuple(toks[s : s + 5])] > 1:
            covered.update(range(s, s + 5))
    d5 = sum(lens[i] for i in covered)
    return len(toks), sum(lens), top, dup, d5


# ------------------------------------------------------------ generators
SEPS = [" ", "  ", "   ", "\t", " \t ", "\n", "\r\n", "\r", "\x0b", "\x0c"]
# non-ASCII whitespace separates no token in either tokenizer, but all of
# these are whitespace to str.strip(), so a line holding only them is blank
ODD = ["\xa0", "\x85", "\u2003", "\u3000", "\x1c"]
VOCAB = [
    "the", "a", "of", "and", "to", "data", "x", "yy", "lorem", "ipsum",
    "na\u00efve", "caf\u00e9", "\u65e5\u672c\u8a9e", "\u20ac5",
    "ok\xa0go", "a\u3000b", "\u2014", "tab-free", "line",
]
word = st.sampled_from(VOCAB) | st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=0x2FFF,
                           blacklist_categories=("Cs", "Zs", "Zl", "Zp")),
    min_size=1, max_size=8,
)
sep = st.sampled_from(SEPS + ODD)


@st.composite
def joined(draw, min_words=0, max_words=60, seps=sep):
    ws = draw(st.lists(word, min_size=min_words, max_size=max_words))
    out = []
    for w in ws:
        out.append(draw(seps) if out else "")
        out.append(w)
    return draw(st.sampled_from(["", " ", "\n"])) + "".join(out)


@st.composite
def repeated_lines(draw):
    pool = draw(st.lists(joined(1, 30, st.sampled_from([" ", "  ", "\t"])),
                         min_size=1, max_size=4))
    lines = draw(st.lists(st.sampled_from(pool + ["", "  ", "\xa0"]),
                          min_size=1, max_size=8))
    return draw(st.sampled_from(["\n", "\r\n"])).join(lines)


@st.composite
def near_min_words(draw):
    k = config.MIN_WORDS_FOR_REPETITION + draw(st.integers(-1, 1))
    return draw(joined(k, k, st.sampled_from(SEPS)))


@st.composite
def planted(draw):
    base = draw(joined(0, 40))
    phrase = draw(joined(1, 6, st.just(" ")))
    k = draw(st.integers(2, 6))
    glue = draw(st.sampled_from(SEPS))
    return base + glue + glue.join([phrase] * k)


texts = st.one_of(
    joined(), repeated_lines(), near_min_words(), planted(),
    st.text(alphabet=st.sampled_from(list("ab \t\n\r\x0b\x0c") + ODD),
            max_size=120),
)

# a 26-distinct-word line twice: only the dup-line check fails it (the
# best n-gram cover is n/26 of the chars, under every n-gram bar)
LINE = " ".join(f"w{i:02d}" for i in range(26))
# 20 copies of one word on 20 lines: 20 rule tokens but 1 space-split token
STACK = "\n".join(["same"] * 20)
# a 6-word phrase 3x after 14 filler words: only the 4-gram bar fails
# (bigram cover 6/50, trigram 9/50, 4-gram 12/50)
PHRASE = " ".join(f"f{i}" for i in range(14)) + " p q r s t u" * 3


class TestRepetitionAgainstSpec:
    @DET
    @given(texts)
    @example(LINE + "\n" + LINE)
    @example(STACK)
    @example(PHRASE)
    @example("")
    def test_rule_equals_reference(self, text):
        got = repetition_flags([text])
        assert got.dtype == np.bool_
        assert bool(got[0]) == ref_rule_fails(text)

    @DET
    @given(texts)
    @example("x  y x")
    @example(" lorem ipsum dolor sit amet" * 10)
    @example("a b c d e X a b c d e")
    def test_gopher_counts_equal_reference(self, text):
        assert tuple(gopher_counts([text])[0]) == ref_gopher_counts(text)

    def test_planted_cases_hit_each_branch(self):
        # the examples above reach the branches a mutation would change
        assert ref_rule_fails(LINE + "\n" + LINE)
        assert ref_rule_fails(STACK)
        assert ref_rule_fails(PHRASE)
        assert not ref_rule_fails(LINE)
        assert ref_gopher_counts(STACK) == (1, 99, 0, 0, 0)

    def test_transcript_fixture(self):
        from moira_spark.datagen import transcripts as tg

        fixture = [t or "" for t in tg.gen_pandas(3000)["text"].tolist()]
        flags = repetition_flags(fixture)
        assert flags.tolist() == [ref_rule_fails(t) for t in fixture]
        assert 0 < flags.sum() < len(fixture)
        assert [tuple(r) for r in gopher_counts(fixture)] == [
            ref_gopher_counts(t) for t in fixture
        ]
