"""Text analysis for training-data pipelines — token counting, quality
scoring, language ID, document fingerprinting.

Everything here is a native Column expression (JVM-side, codegen'd): at
100 TB these run inside the scan stage with zero Python cost, unlike the
typical row-at-a-time Python cleaning scripts they replace.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


#: THE whitespace class, spelled out. Java ``\s`` is exactly
#: [ \t\n\x0B\f\r]; Python ``re.ASCII \s`` is the same set; but DuckDB
#: RE2 ``\s`` EXCLUDES \x0B (vertical tab) — so any ``\s`` written in an
#: oracle CTE silently diverges from the engine on \v-bearing text.
#: Every Spark/Python tokenizer-normalizer regex uses this constant;
#: the oracle SQL strings in registry.py spell the same class out as
#: literals (they are committed SQL text, not templates), and
#: tests/test_plan_lint.py::test_no_oracle_uses_re2_backslash_s rejects
#: any ``\s`` that sneaks into a rendered oracle. Engine behavior is
#: unchanged (the class IS Java's \s); the oracle side moved to match.
WS_CLASS = r"[ \t\n\x0B\f\r]"
WS_PLUS = WS_CLASS + "+"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization; empty/blank text → empty array; NO
    empty tokens ever. The filter is the contract, not a nicety:
    trim strips SPACES only, so tab/newline-edged text would otherwise
    leave a phantom '' at the edges of the split — and every consumer
    (counts, rarity, vocab, kernels via ``py_tokens``) must agree with
    every DuckDB oracle on whether that phantom exists. It does not
    (pinned across 40+ gates by tests/test_oracle_edge_text.py)."""
    t = F.trim(_c(col))
    return F.filter(F.split(t, WS_PLUS), lambda x: x != F.lit(""))


_ASCII_WS = __import__("re").compile(WS_PLUS)


def py_tokens(text: str | None) -> list[str]:
    """Python-side twin of ``tokens()`` for Arrow kernels: Java's
    ``\\s`` is ASCII-only ([ \\t\\n\\x0b\\f\\r]) while ``str.split()``
    splits on ANY Unicode whitespace — a document containing NBSP or
    U+2028 would tokenize differently in a kernel than in the JVM
    expressions that trained/aggregated over it. ``WS_CLASS`` pins the
    same explicit set."""
    return [t for t in _ASCII_WS.split(text or "") if t]


def token_count(col: Column | str) -> Column:
    """Whitespace token count (the pre-BPE budget estimate)."""
    return F.size(tokens(col)).cast("long")


#: BPE-ish sub-word piece estimate: word chunks of ≤4 chars plus digits and
#: punctuation runs — a deterministic proxy for tokenizer-piece counts.
_BPE_PIECE = r"[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9 \t\n\x0B\f\r]"


def bpe_piece_count(col: Column | str) -> Column:
    """Approximate BPE piece count via regexp extraction (deterministic,
    tokenizer-free)."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(f"({_BPE_PIECE})"), 1)).cast("long")


#: tiny per-language stopword lists for the vote-based language ID.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "is", "in", "that", "it", "was"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "es", "los"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "est", "dans", "que"),
    "zh": ("的", "是", "在", "了", "和", "有", "我", "他", "这", "中"),
}

#: deterministic priority when votes tie (first match wins).
LANG_PRIORITY = ("en", "es", "de", "fr", "zh")


def lang_votes(tok: Column, lang: str) -> Column:
    """Distinct-token overlap with one language's stopword list."""
    stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(F.array_distinct(tok), stop))


def lang_id(col: Column | str) -> Column:
    """Stopword-vote language ID: argmax of per-language overlap with a
    fixed priority order on ties — a cheap n-gram-free heuristic that is
    reproducible in ANSI SQL for the oracle. Real pipelines would swap in
    fastText/CLD3 via a pandas UDF; the dataflow shape stays the same."""
    tok = tokens(col)
    votes = {lang: lang_votes(tok, lang) for lang in LANG_PRIORITY}
    expr = None
    for lang in LANG_PRIORITY:
        cond = None
        for other in LANG_PRIORITY:
            if other == lang:
                continue
            c = votes[lang] >= votes[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit(LANG_PRIORITY[0]))


def trunc4(col: Column) -> Column:
    """Truncate to 4 decimals via floor — unlike ROUND, truncation of the
    same IEEE double is identical in every engine (no half-way-tie
    divergence between HALF_UP and banker's rounding)."""
    return F.floor(col * 10000) / 10000.0


def quality_score(col: Column | str) -> Column:
    """Composite quality score in [0,1]: length credit (→100 tokens),
    type-token ratio (lexical diversity), stopword ratio (natural-language
    prior). Deterministic and SQL-reproducible; truncated to 4dp (see
    ``trunc4`` for why not ROUND)."""
    tok = tokens(col)
    n = F.size(tok)
    nd = F.size(F.array_distinct(tok))
    stops = F.array(*[F.lit(w) for lang in LANG_PRIORITY for w in STOPWORDS[lang]])
    n_stop = F.size(F.array_intersect(F.array_distinct(tok), stops))
    safe_n = F.greatest(n, F.lit(1))
    ttr = nd / safe_n
    stop_ratio = n_stop / F.greatest(nd, F.lit(1))
    length_credit = F.least(n / F.lit(100.0), F.lit(1.0))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        trunc4(0.4 * length_credit + 0.3 * ttr + 0.3 * stop_ratio)
    )


def max_run_length(sorted_arr: Column) -> Column:
    """Length of the longest run of equal adjacent elements in a SORTED
    string array — i.e. the occurrence count of the array's mode. A
    sequential left fold (``F.aggregate``) over the sorted array: O(n)
    per row after the O(n log n) ``array_sort``, entirely inside
    whole-stage codegen — the shuffle-free way to get "count of the most
    frequent token" without exploding to (doc, token) rows. Empty array
    → 0."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def bigrams_of_tokens(tok: Column) -> Column:
    """Adjacent word-bigram array ("a b c" → ["a b", "b c"]) from an
    already-materialized token array (same bind-once rationale as
    ``shingles_of_tokens``). Two aligned slices zipped — no explode, no
    shuffle. Fewer than 2 tokens → empty array."""
    m = F.greatest(F.size(tok) - 1, F.lit(0))
    return F.zip_with(
        F.slice(tok, 1, m),
        F.slice(tok, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


def char_pairs(col: Column | str) -> Column:
    """Adjacent character-pair array of a word ("hello" → ["he", "el",
    "ll", "lo"]) — the BPE-training candidate enumeration, as a native
    Column expression (codegen'd, zero Python). Callers must guarantee
    ``length >= 2``: Spark's ``sequence(1, 0)`` DESCENDS ([1, 0]) rather
    than returning empty, so a 1-char word would emit garbage pairs."""
    c = _c(col)
    return F.transform(
        F.sequence(F.lit(1), F.length(c) - 1), lambda i: c.substr(i, F.lit(2))
    )


def normalize(col: Column | str) -> Column:
    """Dedup normalization: lowercase + whitespace collapse."""
    return F.regexp_replace(F.lower(F.trim(_c(col))), WS_PLUS, " ")


def content_fingerprint(col: Column | str) -> Column:
    """Exact-content fingerprint: md5 of the normalized text — the
    hash-groupBy dedup key."""
    return F.md5(normalize(col).cast("binary"))


def shingles_of_tokens(tok: Column, k: int = 3) -> Column:
    """Distinct word ``k``-gram shingles over an ALREADY-MATERIALIZED
    token array column. Fewer than ``k`` tokens → empty array.

    Take a bound column, not the tokenization expression: inlining
    ``tokens(normalize(text))`` here makes every ``element_at`` in the
    transform lambda carry its own copy of the split-regex subtree, and
    codegen re-evaluates it per shingle position — measured ~5-9× slower
    on the dedup corpus than tokenizing once in a prior projection."""
    n = F.size(tok)
    idx = F.sequence(F.lit(1), n - (k - 1))

    def mk(i: Column) -> Column:
        return F.concat_ws(" ", *[F.element_at(tok, i + j) for j in range(k)])

    return F.when(n >= k, F.array_distinct(F.transform(idx, mk))).otherwise(
        F.array().cast("array<string>")
    )


def shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct word ``k``-gram shingles (the MinHash/Jaccard unit).
    Texts shorter than ``k`` tokens → empty array.

    Expression-context form (filters, single projections). Dataflow
    operators that EXPLODE shingles should use ``shingle_rows`` — it
    binds the token array in its own projection first, which is the
    difference between evaluating the tokenizer once per document and
    once per shingle."""
    return shingles_of_tokens(tokens(normalize(col)), k)


def shingle_rows(
    df, id_col: str, text_col: str | Column, k: int = 3, out_id: str = "doc"
) -> "DataFrame":
    """Exploded ``(out_id, shingle)`` rows: tokenize in one projection,
    build + explode the k-gram array in the next. Both projections fuse
    into a single codegen stage — no shuffle, no extra pass — but the
    token array is evaluated exactly once per document."""
    tokd = df.select(F.col(id_col).alias(out_id), tokens(normalize(text_col)).alias("__tok"))
    return tokd.select(
        out_id, F.explode(shingles_of_tokens(F.col("__tok"), k)).alias("shingle")
    )


def chunks(col: Column | str, size: int = 500, stride: int = 400) -> Column:
    """Overlapping fixed-width character chunks (RAG/context-window prep):
    windows of ``size`` chars starting every ``stride`` chars (overlap =
    size - stride). Pure ``sequence``+``transform`` — stays in codegen,
    output rows ≈ input chars / stride regardless of document count.
    Empty text → empty array."""
    t = _c(col)
    starts = F.sequence(F.lit(1), F.greatest(F.length(t), F.lit(1)), F.lit(stride))
    return F.when(F.length(t) > 0, F.transform(starts, lambda s: F.substring(t, s, size))).otherwise(
        F.array().cast("array<string>")
    )


#: PII patterns kept to the Java-regex ∩ RE2 common subset (no lookaround,
#: no backrefs) so the DuckDB oracle runs the *same* expressions.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


def scrub_pii(col: Column | str) -> Column:
    """Redact email addresses and phone-shaped digit runs with typed
    placeholders — the minimal PII pass every training corpus gets.
    Two chained ``regexp_replace`` (JVM, codegen'd); order matters
    (emails first, so their digit fragments can't half-match as phones)."""
    no_email = F.regexp_replace(_c(col), EMAIL_RE, "[EMAIL]")
    return F.regexp_replace(no_email, PHONE_RE, "[PHONE]")
