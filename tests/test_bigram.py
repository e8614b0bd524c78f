"""Bigram stupid-backoff quality scoring: engine ≡ brute-force Python
reference, backoff actually firing on held-out transitions, totality
over empty/NULL text."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from youtube_scraper_db_spark.llm import bigram as BG


ROWS = [
    (0, "the cat sat on the mat"),
    (2, "the cat ran and the dog sat"),
    (4, "a dog and a cat"),
    (1, "the cat sat on the rug"),      # held-out: "the rug" backs off
    (3, "zebra cat jumped"),            # OOV head + unseen transitions
    (5, ""),                            # empty → (0, 0, 0)
    (7, None),                          # NULL → (0, 0, 0)
    (9, "the cat sat"),                 # fully in-model transitions
]
TRAIN_IDS = {0, 2, 4}


def _engine(spark):
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    got = BG.doc_scores(
        df, "doc_id", "text", 2, train_pred=F.col("id") % 2 == 0
    ).collect()
    return {
        r["id"]: (r["total_micrologp"], r["n_tokens"], r["n_backoff"])
        for r in got
    }


def test_engine_matches_bruteforce(spark):
    want = BG.py_ngram_scores(ROWS, TRAIN_IDS, 2)
    assert _engine(spark) == want


def test_backoff_fires_only_on_heldout_transitions(spark):
    got = _engine(spark)
    # training docs never back off (every observed transition counted)
    assert got[0][2] == 0 and got[2][2] == 0 and got[4][2] == 0
    # "the rug" unseen → exactly one backoff in doc 1
    assert got[1][2] == 1
    # doc 3: "zebra cat" and "cat jumped" both unseen
    assert got[3][2] == 2
    # doc 9's transitions ("the cat", "cat sat") are all in-model
    assert got[9][2] == 0


def test_empty_and_null_score_zero(spark):
    got = _engine(spark)
    assert got[5] == (0, 0, 0) and got[7] == (0, 0, 0)


def test_backoff_constant_is_the_quantized_log():
    assert BG.BACKOFF_MU == math.floor(1e6 * math.log(0.4) + 0.5) == -916291


def test_in_model_transition_score_is_count_ratio():
    # hand-check one transition: in TRAIN, context "the" appears as a
    # left context 4 times ("the cat" ×2, "the mat", "the dog"),
    # "the cat" twice → S(cat|the) = 2/4
    want = math.floor(1e6 * math.log(2 / 4) + 0.5)
    ref = BG.py_ngram_scores(ROWS, TRAIN_IDS, 2)
    # doc 9 = "the cat sat": U(the) + S(cat|the) + S(sat|cat)
    uni = {}
    for i, t in ROWS:
        if i in TRAIN_IDS:
            for w in (t or "").split():
                uni[w] = uni.get(w, 0) + 1
    total = sum(uni.values()) + len(uni)
    u_the = math.floor(1e6 * math.log((uni["the"] + 1) / total) + 0.5)
    # S(sat|cat): "cat sat" 1×, "cat ran" 1× → context "cat" = 2
    s_sat = math.floor(1e6 * math.log(1 / 2) + 0.5)
    assert ref[9] == (u_the + want + s_sat, 3, 0)


# --- trigram chain ------------------------------------------------------

def _engine3(spark, rows, pred):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = BG.doc_scores(df, "doc_id", "text", 3, train_pred=pred).collect()
    return {
        r["id"]: (
            r["total_micrologp"],
            r["n_tokens"],
            r["n_backoff2"],
            r["n_backoff1"],
        )
        for r in got
    }


def test_trigram_engine_matches_bruteforce(spark):
    want = BG.py_ngram_scores(ROWS, TRAIN_IDS, 3)
    got = _engine3(spark, ROWS, F.col("id") % 2 == 0)
    assert got == want


def test_trigram_both_hops_witnessed(spark):
    got = _engine3(spark, ROWS, F.col("id") % 2 == 0)
    # training docs never back off at any level
    for i in TRAIN_IDS:
        assert got[i][2] == 0 and got[i][3] == 0
    # doc 1 "the cat sat on the rug": trigram "on the rug" unseen →
    # bigram "the rug" also unseen → BOTH hops fire on that position
    assert got[1][2] >= 1 and got[1][3] >= 1
    # doc 9 "the cat sat" is a training prefix → trigram hit, no hops
    assert got[9] == (got[9][0], 3, 0, 0)


def test_trigram_double_backoff_scores_two_constants():
    """A position whose trigram AND bigram are unseen scores
    2·BACKOFF_MU + U(c) — one constant per hop."""
    rows = [(0, "p q r"), (1, "x y r")]
    ref = BG.py_ngram_scores(rows, {0}, 3)
    uni = {"p": 1, "q": 1, "r": 1}
    total = sum(uni.values()) + len(uni)

    def mu(x):
        return math.floor(1e6 * math.log(x) + 0.5)

    u_oov = mu(1.0 / total)  # x, y unseen
    u_r = mu((uni["r"] + 1) / total)
    # doc 1: U(x)=oov; S(y|x): bigram miss → BACKOFF+oov (bo1);
    # S(r|x y): trigram miss → bigram (y,r) miss → 2·BACKOFF + U(r)
    want_total = u_oov + (BG.BACKOFF_MU + u_oov) + (2 * BG.BACKOFF_MU + u_r)
    assert ref[1] == (want_total, 3, 1, 2)


def test_trigram_degenerate_and_short_docs(spark):
    rows = [(0, ""), (1, "a b c d"), (3, None), (5, "x"), (7, "x y")]
    got = _engine3(spark, rows, F.col("id") % 2 == 0)
    want = BG.py_ngram_scores(rows, {0}, 3)
    assert got == want
    # no model at all: totals 0, every level backs off
    assert got[1] == (0, 4, 2, 3) and got[5] == (0, 1, 0, 0)
    assert got[7] == (0, 2, 0, 1)


def test_empty_training_slice_degenerates_totally(spark):
    """No training tokens → no model: every score coalesces to 0, every
    transition counts as backed off — engine, oracle semantics, and the
    Python spine all agree (round-7 property suite found the spine
    dividing by zero here)."""
    rows = [(0, ""), (1, "a b c"), (3, None), (5, "x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["id"]: (r["total_micrologp"], r["n_tokens"], r["n_backoff"])
        for r in BG.doc_scores(
            df, "doc_id", "text", 2, train_pred=F.col("id") % 2 == 0
        ).collect()
    }
    want = BG.py_ngram_scores(rows, {0}, 2)
    assert got == want
    assert got[1] == (0, 3, 2) and got[5] == (0, 1, 0)


def test_scores_from_persisted_model_tables(spark, tmp_path):
    """doc_scores == doc_scores_from_model over order-2 tables that
    round-tripped through a versioned archive commit — the LM's
    persistable state is exactly the two count tables."""
    from youtube_scraper_db_spark.archive import Archive
    from youtube_scraper_db_spark.llm.bigram import (
        doc_scores_from_model,
        model_tables,
    )

    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    pred = F.col("id") % 2 == 0
    uni, big = model_tables(df, "doc_id", "text", 2, pred)
    ar = Archive(spark, str(tmp_path / "db"))
    assert ar.commit("bigram_uni", uni) == 1
    assert ar.commit("bigram_big", big) == 1
    direct = {tuple(r) for r in BG.doc_scores(
        df, "doc_id", "text", 2, pred
    ).collect()}
    loaded = {tuple(r) for r in doc_scores_from_model(
        df, "doc_id", "text", (ar.table("bigram_uni"), ar.table("bigram_big"))
    ).collect()}
    assert direct == loaded == {
        (i, *v) for i, v in BG.py_ngram_scores(ROWS, TRAIN_IDS, 2).items()
    }


def test_model_fold_equals_union_retrain(spark):
    """merge_models over disjoint order-2 slices == retraining on the
    union, cell-for-cell and score-for-score, in either fold order."""
    from youtube_scraper_db_spark.llm.bigram import (
        doc_scores_from_model,
        merge_models,
        model_tables,
    )

    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    base = df.filter(F.col("doc_id") % 3 != 1)
    batch = df.filter(F.col("doc_id") % 3 == 1)
    ub, bb = model_tables(base, "doc_id", "text", 2)
    un, bn = model_tables(batch, "doc_id", "text", 2)
    ud, bd = model_tables(df, "doc_id", "text", 2)

    def canon(uni, big):
        return (
            sorted(map(tuple, uni.collect())),
            sorted(map(tuple, big.collect())),
        )

    uf, bf = merge_models((ub, bb), (un, bn))
    assert canon(uf, bf) == canon(ud, bd)
    # fold order cannot matter (sum commutes)
    ur, br = merge_models((un, bn), (ub, bb))
    assert canon(ur, br) == canon(ud, bd)
    sf = {tuple(r) for r in doc_scores_from_model(
        df, "doc_id", "text", (uf, bf)
    ).collect()}
    sd = {tuple(r) for r in doc_scores_from_model(
        df, "doc_id", "text", (ud, bd)
    ).collect()}
    assert sf == sd


def test_trigram_fold_and_artifact_roundtrip(spark, tmp_path):
    """Order-3 symmetry of the fold + persistence story:
    merge_models over disjoint order-3 slices == retraining on the
    union (either fold order), and a save/reload through the archive
    re-scores every document identically, matching the pure Python
    reference."""
    from youtube_scraper_db_spark.archive import Archive
    from youtube_scraper_db_spark.llm import bigram as BG
    from youtube_scraper_db_spark.llm.bigram import (
        doc_scores_from_model,
        merge_models,
        model_tables,
    )

    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    base = df.filter(F.col("doc_id") % 3 != 1)
    batch = df.filter(F.col("doc_id") % 3 == 1)
    mb = model_tables(base, "doc_id", "text", 3)
    mn = model_tables(batch, "doc_id", "text", 3)
    md = model_tables(df, "doc_id", "text", 3)

    def canon(m):
        return tuple(sorted(map(tuple, t.collect())) for t in m)

    assert canon(merge_models(mb, mn)) == canon(md)
    assert canon(merge_models(mn, mb)) == canon(md)

    ar = Archive(spark, str(tmp_path / "db3"))
    for name, t in zip(("t_uni", "t_big", "t_tri"), md):
        assert ar.commit(name, t) == 1
    loaded = {
        tuple(r)
        for r in doc_scores_from_model(
            df, "doc_id", "text",
            (ar.table("t_uni"), ar.table("t_big"), ar.table("t_tri")),
        ).collect()
    }
    direct = {
        tuple(r)
        for r in BG.doc_scores(df, "doc_id", "text", 3).collect()
    }
    assert loaded == direct == {
        (i, *v)
        for i, v in BG.py_ngram_scores(
            ROWS, {i for i, _ in ROWS}, 3
        ).items()
    }


def test_shared_tok_frame_paths_match_default(spark):
    """The tok= short-circuit (one tokenize pass shared across train +
    score consumers — the r13 optimization) is plan plumbing only:
    model tables and scores are identical with and without it."""
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    tok = BG.tok_frame(df, "doc_id", "text").localCheckpoint(eager=True)
    pred = F.col("id") % 2 == 0

    u0, b0 = BG.model_tables(df, "doc_id", "text", 2, pred)
    u1, b1 = BG.model_tables(df, "doc_id", "text", 2, pred, tok=tok)
    assert sorted(map(tuple, u0.collect())) == sorted(map(tuple, u1.collect()))
    assert sorted(map(tuple, b0.collect())) == sorted(map(tuple, b1.collect()))

    s0 = {tuple(r) for r in BG.doc_scores_from_model(
        df, "doc_id", "text", (u0, b0)).collect()}
    s1 = {tuple(r) for r in BG.doc_scores_from_model(
        df, "doc_id", "text", (u1, b1), tok=tok).collect()}
    assert s0 == s1

    m0 = BG.model_tables(df, "doc_id", "text", 3, pred)
    m1 = BG.model_tables(df, "doc_id", "text", 3, pred, tok=tok)
    for t0, t1 in zip(m0, m1):
        assert sorted(map(tuple, t0.collect())) == sorted(
            map(tuple, t1.collect())
        )
    t0 = {tuple(r) for r in BG.doc_scores_from_model(
        df, "doc_id", "text", m0).collect()}
    t1 = {tuple(r) for r in BG.doc_scores_from_model(
        df, "doc_id", "text", m1, tok=tok).collect()}
    assert t0 == t1
