"""Stupid-backoff n-gram language model of order n for quality scoring —
the context-sensitive extension of ``doc_unigram_quality`` (the actual
CCNet filter shape: train a cheap LM on a reference slice, score every
document, threshold on per-token log-prob).

Model (Brants et al. 2007, "Large Language Models in Machine
Translation" — stupid backoff). An order-n model is its count tables
for k = 1..n over the training slice: ``(w, c)``, ``(a, b, c2)``,
``(a, b, c, c3)``, … (``gram_keys(k)`` / ``gram_count(k)``). Position p
of a document scores at context level L = min(p − 1, n − 1):

    S_m(p) = count(w_{p−m} … w_p) / count(w_{p−m} … w_{p−1} ·)
                                      if that (m+1)-gram was seen
           = 0.4 · S_{m−1}(p)         otherwise (back off one level)
    S_0(p) = U(w_p) = (count(w_p) + 1) / T,   T = Σ counts + |vocab|

so a document totals Σ_p S_L(p) and a position that misses every level
down to the unigram scores 0.4^L · U(w_p). Each miss at level m is
witnessed per document: at order 2 the one witness is ``n_backoff``
(bigram → unigram hops); at order 3 ``n_backoff2`` counts trigram →
bigram hops and ``n_backoff1`` the positions that fell all the way to
the unigram. Scores are not normalized probabilities — that is exactly
what makes the model cheap at corpus scale (no discount/normalization
pass) and exactly replayable: everything is a ratio of exact integer
counts. Count tables are sum-mergeable (``merge_models``), so a model
folded from disjoint slices equals the model retrained on their union.

Integer micro-log device (llm/unigram.py quantlog_scores): every score
is quantized to ``floor(1e6·ln(x) + 0.5)`` micro-log units, where x is
a quotient of exact integers — both engines compute the same IEEE
double and the same integer, so the DuckDB oracle replays the WHOLE
train→score path value-for-value. Each backoff hop adds the constant
``BACKOFF_MU`` = floor(1e6·ln(0.4) + 0.5) = -916291 micro-units.

Train/score split: the gates train on a FILTERED slice and score the
whole corpus — held-out documents contain unseen n-grams, so the
backoff path genuinely fires (a model trained and scored on the same
corpus never backs off). Unseen words score as the smoothed zero-count
unigram ``floor(1e6·ln(1/T) + 0.5)``. Total over every input, including
empty/NULL text (scores 0 over 0 tokens); with no training tokens at
all every score is NULL, summing to 0 with every lookup backed off.

Scale shape: n corpus-sized aggregates over the training slice, then
the scoring pass joins each position's n-gram window against
type-counted model tables (unigram ≪ corpus; higher-order types
sublinear in corpus tokens) and sums per document. No broadcast hints
on the model tables: at training-corpus scale the n-gram-type table can
reach billions of rows, and AQE broadcasts them when runtime stats
allow and shuffle-joins when they are executor-unsafe. Only the 1-row
smoothing total keeps an explicit broadcast. All native Column
expressions; no Python anywhere.

Reference parity: N/A — §2.12 training-data extension surface.
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import text as llm_text

#: floor(1e6·ln(0.4) + 0.5) — the stupid-backoff factor in micro-log
#: units; embedded as an integer literal on BOTH engine and oracle
#: sides so they cannot diverge.
BACKOFF_MU = math.floor(1e6 * math.log(0.4) + 0.5)


def gram_keys(k: int) -> list[str]:
    """Key columns of the k-gram count table."""
    return ["w"] if k == 1 else list("abcdefgh"[:k])


def gram_count(k: int) -> str:
    """Count column of the k-gram count table."""
    return "c" if k == 1 else f"c{k}"


def backoff_cols(order: int) -> list[str]:
    """The backoff witnesses of an order-n score, highest level first."""
    if order == 2:
        return ["n_backoff"]
    return [f"n_backoff{m}" for m in range(order - 1, 0, -1)]


def _mu_log(x: Column) -> Column:
    """floor(1e6·ln(x) + 0.5) as BIGINT — the shared quantizer."""
    return F.floor(F.lit(1e6) * F.log(x) + F.lit(0.5)).cast("long")


def tok_frame(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The ``(id, t)`` tokenized-corpus frame every trainer/scorer in
    this module derives from. Exposed so a caller that both trains and
    scores (or scores under two models) can tokenize ONCE, materialize
    the result, and pass it via ``tok=`` — without it, each train
    aggregate and each scoring branch is an independent consumer of
    this lazy projection and re-runs the full text scan + regex split
    (7-10 corpus passes in the artifact gates; at 100 TB each pass is a
    full corpus read)."""
    return docs.select(
        F.col(id_col).alias("id"), llm_text.tokens(text_col).alias("t")
    )


def _tok(
    docs: DataFrame, id_col: str, text_col: str, tok: DataFrame | None
) -> DataFrame:
    return tok if tok is not None else tok_frame(docs, id_col, text_col)


def _extend(ks: list[str]):
    """zip_with step: a (ks[:-1]) struct plus one token as ``ks[-1]``."""
    return lambda p, x: F.struct(
        *[p[y].alias(y) for y in ks[:-1]], x.alias(ks[-1])
    )


def _explode_grams(tok: DataFrame, k: int, *keep: str) -> tuple[DataFrame, list]:
    """One row per k-gram of each token array (none below k tokens):
    the ``keep`` columns plus the gram, and the k key columns
    (``gram_keys(k)``) to select or group by."""
    if k == 1:
        return tok.select(*keep, F.explode("t").alias("w")), ["w"]
    ks = gram_keys(k)
    n = F.greatest(F.size("t") - (k - 1), F.lit(0))
    grams = F.zip_with(
        F.slice("t", 1, n),
        F.slice("t", 2, n),
        lambda a, b: F.struct(a.alias(ks[0]), b.alias(ks[1])),
    )
    for j in range(2, k):
        grams = F.zip_with(grams, F.slice("t", j + 1, n), _extend(ks[: j + 1]))
    rows = tok.select(*keep, F.explode(grams).alias("g"))
    return rows, [F.col(f"g.{x}").alias(x) for x in ks]


def model_tables(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    order: int,
    train_pred: Column | None = None,
    tok: DataFrame | None = None,
) -> tuple[DataFrame, ...]:
    """The order-n model's ENTIRE persistable state: the k-gram count
    tables for k = 1..order over the rows matching ``train_pred``. T,
    the micro-log unigram scores and the context totals are pure
    derivations of them, so persisting the counts persists the model.
    ``tok`` shares a pre-tokenized ``(id, t)`` frame (``tok_frame``)."""
    tok = _tok(docs, id_col, text_col, tok)
    train = tok.filter(train_pred) if train_pred is not None else tok
    grams = [_explode_grams(train, k) for k in range(1, order + 1)]
    # grouped by the struct fields themselves, a table the scorer renames
    # for a shifted lookup plans as the same broadcast as the original
    return tuple(
        rows.groupBy(*keys).agg(F.count(F.lit(1)).alias(gram_count(k)))
        for k, (rows, keys) in enumerate(grams, 1)
    )


def merge_models(
    x: tuple[DataFrame, ...], y: tuple[DataFrame, ...]
) -> tuple[DataFrame, ...]:
    """Fold two same-order models trained on DISJOINT corpus slices:
    each table sums its counts per key (full-outer join + coalesced
    sum), so the fold is EXACTLY the model retrained on the union — a
    new batch folds into a saved model with type-table-sized merges, no
    corpus re-scan."""

    def merge(k: int, a: DataFrame, b: DataFrame) -> DataFrame:
        ks, cnt = gram_keys(k), gram_count(k)
        return (
            a.select(*ks, F.col(cnt).alias("__ca"))
            .join(b.select(*ks, F.col(cnt).alias("__cb")), ks, "full_outer")
            .select(
                *ks,
                (
                    F.coalesce("__ca", F.lit(0)) + F.coalesce("__cb", F.lit(0))
                ).alias(cnt),
            )
        )

    return tuple(merge(k, a, b) for k, (a, b) in enumerate(zip(x, y), 1))


def doc_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    order: int,
    train_pred: Column | None = None,
) -> DataFrame:
    """(id, total_micrologp, n_tokens, *backoff_cols(order)): every row
    scored under the order-n model trained on the rows matching
    ``train_pred`` (default: everything).

    Tokenizes ONCE and materializes (``localCheckpoint``): the train
    aggregates and the scoring branches are otherwise independent
    consumers that each re-run the text scan + regex split. The
    type-sized model tables stay lazy over the materialized token frame
    (their remaining recomputes overlap inside the one final job;
    A/B-measured, eagerly checkpointing them serialized more than it
    saved, and a lazy ``persist`` was slower still — the
    InMemoryRelation blocks the final job's planning wins)."""
    tok = tok_frame(docs, id_col, text_col).localCheckpoint(eager=True)
    model = model_tables(docs, id_col, text_col, order, train_pred, tok=tok)
    return doc_scores_from_model(docs, id_col, text_col, model, tok=tok)


def doc_scores_from_model(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    model: tuple[DataFrame, ...],
    tok: DataFrame | None = None,
) -> DataFrame:
    """Score every document under an EXPLICIT model (its order is
    ``len(model)``) — the entry point for models reloaded from a
    versioned artifact table or folded from two slices. ``tok`` shares
    a pre-tokenized ``(id, t)`` frame across the scoring branches."""
    order = len(model)
    tok = _tok(docs, id_col, text_col, tok)
    tot = model[0].agg(
        (F.sum("c") + F.count(F.lit(1))).cast("double").alias("T")
    )
    um = model[0].crossJoin(F.broadcast(tot)).select(
        "w", _mu_log((F.col("c") + 1) / F.col("T")).alias("u")
    )
    # ctx[m - 1]: the level-m context totals d{m} = count(w_1 … w_m ·)
    ctx = [
        model[m]
        .groupBy(*gram_keys(m + 1)[:-1])
        .agg(F.sum(gram_count(m + 1)).alias(f"d{m}"))
        for m in range(1, order)
    ]
    oov = _mu_log(F.lit(1.0) / F.col("T"))  # smoothed zero-count unigram
    witnesses = dict(zip(range(order - 1, 0, -1), backoff_cols(order)))

    def keyed(t: DataFrame, ks: list[str], span: list[str]) -> DataFrame:
        """``t`` with its key columns renamed to the window's ``span``."""
        if ks == span:
            return t
        return t.select(
            *[F.col(k).alias(x) for k, x in zip(ks, span)],
            *[c for c in t.columns if c not in ks],
        )

    def level(top: int) -> DataFrame:
        """The positions scored at context level ``top``: one per doc
        below the model order, every n-gram window at it."""
        win = gram_keys(top + 1)
        if top < order - 1:
            rows = tok.filter(F.size("t") >= top + 1).select(
                "id",
                *[F.element_at("t", j + 1).alias(x) for j, x in enumerate(win)],
            )
        else:
            rows, keys = _explode_grams(tok, top + 1, "id")
            rows = rows.select("id", *keys)
        for m in range(top, 0, -1):
            span, ks = win[top - m:], gram_keys(m + 1)
            rows = rows.join(keyed(model[m], ks, span), span, "left").join(
                keyed(ctx[m - 1], ks[:-1], span[:-1]), span[:-1], "left"
            )
        rows = rows.join(keyed(um, ["w"], win[-1:]), win[-1], "left").crossJoin(
            F.broadcast(tot)
        )
        s, miss, flags = F.coalesce(F.col("u"), oov), None, {}
        for m in range(1, top + 1):
            n = F.col(gram_count(m + 1))
            s = F.when(
                n.isNotNull(), _mu_log(n.cast("double") / F.col(f"d{m}"))
            ).otherwise(F.lit(BACKOFF_MU) + s)
        for m in range(top, 0, -1):
            unseen = F.col(gram_count(m + 1)).isNull()
            miss = unseen if miss is None else miss & unseen
            flags[m] = F.when(miss, 1).otherwise(0)
        return rows.select(
            "id",
            s.alias("s"),
            *[flags.get(m, F.lit(0)).alias(c) for m, c in witnesses.items()],
        )

    agg = (
        functools.reduce(
            DataFrame.unionByName, [level(top) for top in range(order)]
        )
        .groupBy("id")
        .agg(
            F.sum("s").cast("long").alias("total_micrologp"),
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            *[F.sum(c).cast("int").alias(c) for c in witnesses.values()],
        )
    )
    return tok.select("id").join(agg, "id", "left").select(
        "id",
        F.coalesce("total_micrologp", F.lit(0).cast("long")).alias(
            "total_micrologp"
        ),
        *[
            F.coalesce(c, F.lit(0).cast("int")).alias(c)
            for c in ["n_tokens", *witnesses.values()]
        ],
    )


def py_ngram_scores(
    rows: list[tuple[int, str | None]],
    train_ids: set[int],
    order: int,
) -> dict[int, tuple[int, ...]]:
    """Brute-force reference twin (pure Python, dict counting) for
    pytest pinning: id → (total_micrologp, n_tokens,
    *backoff_cols(order))."""
    toks = {i: llm_text.py_tokens(t) for i, t in rows}
    cnt: list[dict[tuple[str, ...], int]] = [{} for _ in range(order)]
    ctx: list[dict[tuple[str, ...], int]] = [{} for _ in range(order)]
    for i, t in toks.items():
        if i not in train_ids:
            continue
        for k in range(1, order + 1):
            for p in range(len(t) - k + 1):
                g = tuple(t[p:p + k])
                cnt[k - 1][g] = cnt[k - 1].get(g, 0) + 1
                ctx[k - 1][g[:-1]] = ctx[k - 1].get(g[:-1], 0) + 1
    levels = range(order - 1, 0, -1)
    total = sum(cnt[0].values()) + len(cnt[0])
    if total == 0:
        # no model: every score is NULL (summing to 0) and every lookup
        # backs off — the engine and the DuckDB oracle degenerate alike
        return {
            i: (0, len(t), *[max(0, len(t) - m) for m in levels])
            for i, t in toks.items()
        }

    def mu(x: float) -> int:
        return math.floor(1e6 * math.log(x) + 0.5)

    out: dict[int, tuple[int, ...]] = {}
    for i, t in toks.items():
        s, nb = 0, dict.fromkeys(levels, 0)
        for p, w in enumerate(t):
            hit = None
            for m in range(min(p, order - 1), 0, -1):
                g = tuple(t[p - m:p + 1])
                if g in cnt[m]:
                    hit = mu(cnt[m][g] / ctx[m][g[:-1]])
                    break
                s += BACKOFF_MU
                nb[m] += 1
            s += hit if hit is not None else mu((cnt[0].get((w,), 0) + 1) / total)
        out[i] = (s, len(t), *[nb[m] for m in levels])
    return out
