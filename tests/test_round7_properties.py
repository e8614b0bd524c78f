"""Property suites for the round-7 operators: WordPiece invariants and
the stupid-backoff bigram scorer (pure-Python spines — no Spark; the
engine paths are pinned to these spines in their own suites)."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from youtube_scraper_db_spark.llm import bigram as BG
from youtube_scraper_db_spark.llm import wordpiece as WP

WORDS = st.text(alphabet="abcdef", min_size=1, max_size=12)
VOCABS = st.sets(
    st.one_of(
        st.text(alphabet="abcdef", min_size=1, max_size=4),
        st.text(alphabet="abcdef", min_size=1, max_size=4).map(
            lambda s: "##" + s
        ),
    ),
    max_size=30,
)


@settings(max_examples=300, deadline=None)
@given(WORDS, VOCABS)
def test_wordpiece_reassembles_or_unks_whole(word, vocab):
    """Either the word is [UNK] whole, or stripping ## and concatenating
    the pieces reproduces the word exactly; the first piece is bare and
    every later piece carries ##."""
    out = WP.wordpiece_word(word, frozenset(vocab))
    assert out, "non-empty word must yield at least one token"
    if out == (WP.UNK,):
        return
    assert not out[0].startswith("##")
    assert all(p.startswith("##") for p in out[1:])
    assert out[0] + "".join(p[2:] for p in out[1:]) == word


@settings(max_examples=300, deadline=None)
@given(WORDS, VOCABS)
def test_wordpiece_greedy_takes_longest_prefix(word, vocab):
    """The first emitted piece is the LONGEST vocab prefix of the word
    (within the probe cap) — the property that defines the family."""
    v = frozenset(vocab)
    out = WP.wordpiece_word(word, v)
    if out == (WP.UNK,):
        return
    best = max(
        (
            ln
            for ln in range(1, min(WP.MAX_PIECE_CHARS, len(word)) + 1)
            if word[:ln] in v
        ),
        default=None,
    )
    assert best is not None and out[0] == word[:best]


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=3),
        min_size=2,
        max_size=8,
    ).map(
        lambda items: tuple(
            (t if i == 0 else "##" + t) for i, t in enumerate(items)
        )
    ),
)
def test_merge_wp_preserves_character_stream(seg):
    """Merging any adjacent pair never changes the underlying character
    stream (## prefixes aside) and shortens the sequence by the number
    of non-overlapping occurrences."""
    def chars(s):
        return s[0] + "".join(p[2:] for p in s[1:])

    for i in range(len(seg) - 1):
        left, right = seg[i], seg[i + 1]
        merged = WP.merge_wp(seg, left, right)
        assert chars(merged) == chars(seg)
        assert len(merged) <= len(seg)
        # merged token never splits back: the pair no longer appears
        # ADJACENTLY as (left, right) at any position that was merged
        if (left, right) != (right, left):
            rebuilt = WP.merge_wp(merged, left, right)
            assert rebuilt == merged, "one pass must be a fixpoint for distinct pairs"


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc \t\n", min_size=0, max_size=30),
        min_size=1,
        max_size=8,
    )
)
def test_bigram_totals_are_finite_and_consistent(texts):
    """For any corpus: every doc scores; n_tokens equals the tokenizer's
    count; n_backoff ≤ transitions; training docs never back off; and
    every score is a sum of quantized logs of probabilities ≤ 1 from
    the training slice (so ≤ 0 ⇒ total ≤ 0)."""
    rows = [(i, t) for i, t in enumerate(texts)]
    train_ids = {i for i, _ in rows if i % 2 == 0}
    got = BG.py_ngram_scores(rows, train_ids, 2)
    from youtube_scraper_db_spark.llm.text import py_tokens

    assert set(got) == {i for i, _ in rows}
    for i, t in rows:
        total, n, nb = got[i]
        toks = py_tokens(t)
        assert n == len(toks)
        assert 0 <= nb <= max(0, n - 1)
        if not toks:
            assert (total, n, nb) == (0, 0, 0)
            continue
        assert total <= 0  # every factor is a probability-like ratio ≤ 1
        if i in train_ids:
            assert nb == 0  # every training transition was counted


def test_bigram_score_monotone_in_transition_count():
    """More observed support for a transition ⇒ higher (less negative)
    score for documents exercising it."""
    base = [(0, "a b"), (2, "a c"), (4, "a c")]
    more = [(0, "a b"), (2, "a b"), (4, "a c")]
    s_base = BG.py_ngram_scores(base + [(1, "a b")], {0, 2, 4}, 2)[1]
    s_more = BG.py_ngram_scores(more + [(1, "a b")], {0, 2, 4}, 2)[1]
    assert s_more[0] > s_base[0]


def test_backed_off_transition_scores_below_observed_floor():
    """A backed-off transition must score strictly below ANY observed
    transition with the same target word's unigram mass — the 0.4
    factor is a real penalty (ln 0.4 < 0 in micro-units)."""
    assert BG.BACKOFF_MU == math.floor(1e6 * math.log(0.4) + 0.5) < 0
    rows = [(0, "a b a b a c"), (1, "a z")]  # "a z" unseen in training
    got = BG.py_ngram_scores(rows, {0}, 2)
    # doc 1 = U(a) + (BACKOFF + U(z)); recompute and compare exactly
    uni = {"a": 3, "b": 2, "c": 1}
    total = sum(uni.values()) + len(uni)
    u_a = math.floor(1e6 * math.log((uni["a"] + 1) / total) + 0.5)
    u_z = math.floor(1e6 * math.log(1 / total) + 0.5)  # OOV smoothing
    assert got[1] == (u_a + BG.BACKOFF_MU + u_z, 2, 1)
