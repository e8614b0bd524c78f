"""Property suites for the round-8 operators (pure-Python spines — no
Spark; the engine paths are pinned to these spines in their own
suites): the Misra-Gries candidate-superset pigeonhole under arbitrary
batch chunkings (the single property BOTH heavy-hitter paths — batch
partitions and streaming state folds — rest on), trigram stupid-backoff
totality/witness bounds, and the integer PageRank / label-propagation
recurrence invariants."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from youtube_scraper_db_spark.llm import bigram as BG
from youtube_scraper_db_spark.operators.heavy_hitters import _mg_summary

# --- Misra-Gries candidate superset ------------------------------------

#: value streams with deliberate skew: a small alphabet so heavy
#: hitters actually arise, arbitrary order.
STREAMS = st.lists(
    st.sampled_from([f"v{i}" for i in range(12)]), min_size=1, max_size=400
)
CHUNKS = st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=8)


def _chunked(vals: list[str], sizes: list[int]):
    """Split ``vals`` into pd.DataFrames of the given sizes (cycled) —
    the arbitrary micro-batch/Arrow-batch boundaries the fold must be
    robust to."""
    out, i, j = [], 0, 0
    while i < len(vals):
        n = sizes[j % len(sizes)]
        out.append(pd.DataFrame({"w": vals[i : i + n]}))
        i += n
        j += 1
    return out


@settings(max_examples=200, deadline=None)
@given(STREAMS, CHUNKS, st.integers(min_value=2, max_value=8))
def test_mg_summary_is_candidate_superset(vals, sizes, k):
    """Pigeonhole: ANY value with count > N/k survives the (k-1)-slot
    add-then-trim fold, for EVERY batch chunking — the property the
    batch per-partition summaries AND the streaming cross-batch state
    fold both rest on (identical rule; a chunking boundary is exactly
    a micro-batch boundary)."""
    (summary,) = list(_mg_summary(iter(_chunked(vals, sizes)), "w", k))
    cands = set(summary["w"])
    n = len(vals)
    for v in set(vals):
        if vals.count(v) * k > n:
            assert v in cands, (v, vals.count(v), n, k, cands)


@settings(max_examples=200, deadline=None)
@given(STREAMS, CHUNKS, st.integers(min_value=2, max_value=8))
def test_mg_summary_is_bounded(vals, sizes, k):
    (summary,) = list(_mg_summary(iter(_chunked(vals, sizes)), "w", k))
    assert len(summary) <= k - 1


# --- trigram stupid backoff ---------------------------------------------

DOCS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50),
        st.one_of(
            st.none(),
            st.text(alphabet="ab \t\n", max_size=30),
        ),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda r: r[0],
)


@settings(max_examples=200, deadline=None)
@given(DOCS, st.sets(st.integers(min_value=0, max_value=50)))
def test_trigram_totality_and_witness_bounds(rows, train_ids):
    """Every doc gets a row; n_tokens is the token count; the hop
    witnesses respect their structural bounds: nb2 counts trigram
    positions (≤ max(0, n−2)), nb1 counts unigram-level falls (≤ nb2 +
    the one position-2 bigram slot)."""
    got = BG.py_ngram_scores(rows, train_ids, 3)
    assert set(got) == {i for i, _ in rows}
    from youtube_scraper_db_spark.llm.text import py_tokens

    for i, t in rows:
        total, n, nb2, nb1 = got[i]
        toks = py_tokens(t)
        assert n == len(toks)
        assert 0 <= nb2 <= max(0, n - 2)
        assert 0 <= nb1 <= nb2 + (1 if n >= 2 else 0)
        if n == 0:
            assert (total, nb2, nb1) == (0, 0, 0)


@settings(max_examples=150, deadline=None)
@given(DOCS)
def test_trigram_trained_on_everything_never_backs_off(rows):
    """Score corpus == train corpus ⇒ every transition was observed at
    every order ⇒ zero hops anywhere."""
    got = BG.py_ngram_scores(rows, {i for i, _ in rows}, 3)
    for total, n, nb2, nb1 in got.values():
        assert nb2 == 0 and nb1 == 0


# --- integer PageRank recurrence ----------------------------------------

def _py_pagerank(n, und_edges, iters):
    adj: dict[int, list[int]] = {}
    for a, b in und_edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    pr = {v: 1_000_000 for v in range(n)}
    for _ in range(iters):
        s = {v: 0 for v in range(n)}
        for u, outs in adj.items():
            c = pr[u] // len(outs)
            for v in outs:
                s[v] += c
        pr = {v: 150_000 + (85 * s[v]) // 100 for v in range(n)}
    return pr


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=2, max_value=12),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=11),
        ),
        max_size=25,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_pagerank_teleport_floor_and_symmetry(n, raw_edges, iters):
    """Every rank ≥ the teleport constant after any iteration; nodes
    with identical neighborhoods (a simple cycle) hold identical
    ranks."""
    edges = [(a % n, b % n) for a, b in raw_edges if a % n != b % n]
    pr = _py_pagerank(n, edges, iters)
    assert all(v >= 150_000 for v in pr.values())
    cyc = [(i, (i + 1) % n) for i in range(n)]
    prc = _py_pagerank(n, cyc, iters)
    assert len(set(prc.values())) == 1  # vertex-transitive ⇒ equal ranks


# --- label propagation recurrence ----------------------------------------

def _py_lpa(n, und_edges, iters):
    adj: dict[int, list[int]] = {}
    for a, b in und_edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    lab = {v: v for v in range(n)}
    for _ in range(iters):
        new = {}
        for v in range(n):
            if v not in adj:
                new[v] = v
                continue
            cnt: dict[int, int] = {}
            for u in adj[v]:
                cnt[lab[u]] = cnt.get(lab[u], 0) + 1
            new[v] = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        lab = new
    return lab


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=2, max_value=12),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=11),
        ),
        max_size=25,
    ),
    st.integers(min_value=1, max_value=5),
)
def test_lpa_labels_stay_in_seed_space(n, raw_edges, iters):
    """Labels are only ever adopted, never invented: after any number
    of rounds every label is some node's id, and an isolated node keeps
    its own."""
    edges = [(a % n, b % n) for a, b in raw_edges if a % n != b % n]
    lab = _py_lpa(n, edges, iters)
    touched = {x for e in edges for x in e}
    assert set(lab.values()) <= set(range(n))
    for v in range(n):
        if v not in touched:
            assert lab[v] == v


def test_lpa_clique_converges_to_min_in_two_rounds():
    n = 6
    edges = [(i, j) for i in range(n) for j in range(i + 1, n)]
    lab = _py_lpa(n, edges, 2)
    assert set(lab.values()) == {0}
