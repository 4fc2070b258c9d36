"""Text-analysis Column combinators — tokenization, shingling, portable
hashing, quality metrics, language ID.

Everything is built from JVM-side ``pyspark.sql.functions`` (codegen'd,
no Python in the hot path), and every function has a DuckDB twin so the
driver oracle can replay it exactly.  The portable polynomial hash is
the engine-neutral anchor: Spark's ``xxhash64`` and DuckDB's ``hash``
disagree, so any hash that must be oracle-checkable is computed with
explicit 64-bit integer arithmetic both engines implement identically.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Hash domain.  MOD < 2^31 keeps all second-level folds (shingle
# combination, minhash permutations) far below 2^63 — no overflow in
# either engine's BIGINT.
HASH_MOD = 1_000_000_007


def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens, empties dropped."""
    return F.filter(
        F.split(F.lower(text), r"\s+"), lambda t: F.length(t) > 0
    )


def sql_tokens(expr: str) -> str:
    return (
        f"list_filter(regexp_split_to_array(lower({expr}), '\\s+'), "
        "t -> length(t) > 0)"
    )


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct n-word shingles (space-joined).  Declarative: transform
    over an index sequence + slice; no UDF, no explode until the caller
    wants rows."""
    return F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def sql_word_shingles(toks_expr: str, n: int = 3) -> str:
    """DuckDB twin of word_shingles (list_transform over a range).

    The short-doc fallback COALESCEs to '': DuckDB's
    ``array_to_string([], ' ')`` is NULL (Spark's ``concat_ws`` is
    ''), and ``list_distinct`` silently DROPS the NULL — an empty or
    whitespace-only document would then have zero features and an
    all-ones majority signature on the oracle side while Spark votes
    md5('') (round-12 review catch, confirmed against DuckDB 1.0)."""
    return (
        f"list_distinct(CASE WHEN len({toks_expr}) >= {n} THEN "
        f"list_transform(range(0, len({toks_expr}) - {n} + 1), "
        f"i -> array_to_string(list_slice({toks_expr}, i + 1, i + {n}), ' ')) "
        f"ELSE [coalesce(array_to_string({toks_expr}, ' '), '')] END)"
    )


def poly_hash(s: Column) -> Column:
    """Portable string hash -> [0, HASH_MOD): md5 truncated to 60 bits.

    Both engines md5 the UTF-8 bytes and agree on the hex digest, so
    taking the first 15 hex chars as an integer is engine-equal
    (verified incl. unicode).  md5 is a single JVM intrinsic per value —
    the previous per-character list_reduce polynomial evaluated an
    interpreted lambda per code point, which dominated every dedup /
    fingerprint benchmark (~10x slower at sf0.1).  This is the basis
    for document fingerprints and minhash/simhash signatures.
    """
    return (
        F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint") % HASH_MOD
    )


def sql_poly_hash(expr: str) -> str:
    """DuckDB twin of poly_hash (same digest, same truncation)."""
    return f"((('0x' || substr(md5({expr}), 1, 15))::BIGINT) % {HASH_MOD})"


def h60(s: F.Column) -> F.Column:
    """The repo-wide 60-bit integer md5 hash, un-modded — THE canonical
    definition (digest.py, sketches.py, windows.py all route here so a
    width/truncation change cannot silently fork between engines)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def sql_h60(expr: str) -> str:
    """DuckDB twin of h60."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def punct_count(text: Column) -> Column:
    """Count of non-alphanumeric, non-whitespace chars (explicit class —
    Java regex and RE2 agree on it)."""
    return F.length(text) - F.length(F.regexp_replace(text, r"[^A-Za-z0-9\s]", ""))


def sql_punct_count(expr: str) -> str:
    return (
        f"(length({expr}) - length(regexp_replace({expr}, '[^A-Za-z0-9\\s]', '', 'g')))"
    )


STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    # tiny marker lists; deterministic heuristic, not a model
    "en": ("the", "and", "of", "is", "a"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
}


def stopword_count(toks: Column) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))


def sql_stopword_count(toks_expr: str) -> str:
    in_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"len(list_filter({toks_expr}, t -> t IN ({in_list})))"


def _isin_filter(markers: tuple[str, ...]):
    # NB: higher-order-function lambdas must be unary — a second param
    # (even defaulted) is interpreted as the element index.
    return lambda t: t.isin(*markers)


def lang_scores(toks: Column) -> dict[str, Column]:
    return {
        lang: F.size(F.filter(toks, _isin_filter(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(toks: Column) -> Column:
    """argmax over marker-hit counts; ties + zero-hits -> 'und'.
    Deterministic tie order: the LANG_MARKERS iteration order, expressed
    as a strict > chain so both engines agree."""
    scores = lang_scores(toks)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang, score in scores.items():
        take = score > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, score).otherwise(best_score)
    return best_lang


def sql_lang_id(toks_expr: str) -> str:
    """DuckDB twin of lang_id (same strict-> argmax chain)."""
    score_exprs = {}
    for lang, markers in LANG_MARKERS.items():
        in_list = ", ".join(f"'{w}'" for w in markers)
        score_exprs[lang] = f"len(list_filter({toks_expr}, t -> t IN ({in_list})))"
    lang_expr = "'und'"
    score_expr = "0"
    for lang, s in score_exprs.items():
        lang_expr = f"CASE WHEN {s} > {score_expr} THEN '{lang}' ELSE {lang_expr} END"
        score_expr = f"CASE WHEN {s} > {score_expr} THEN {s} ELSE {score_expr} END"
    return lang_expr


# second-level base for combining token hashes into shingle hashes;
# (h1*B2 + h2)*B2 + h3 stays < 2^63 because each term < HASH_MOD < 2^30
SHINGLE_BASE = 1_000_003


def hashed_word_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct n-word shingles as fixed-width BIGINT hashes.

    Tokens are poly-hashed ONCE; each shingle hash folds the n token
    hashes with a second-level polynomial — no shingle strings are ever
    built, so downstream shuffles move 8-byte keys instead of multi-
    byte text (the fixed-width-shuffle-keys rule).  Collisions are
    ~|shingles|^2 / 2 / HASH_MOD — dedup on hashed shingles is the
    standard production trade; the DuckDB twin replays the identical
    construction so results stay oracle-exact.

    Short docs (< n tokens) fold all their tokens into one shingle,
    mirroring word_shingles' single-joined-shingle fallback.
    """
    return hashed_shingles_from(F.transform(toks, poly_hash), n)


def rolling_window_hashes(th: Column, n: int = 3) -> Column:
    """ORDERED rolling n-gram hashes from an already-hashed token array
    (one entry per window position; shorter-than-n docs fold all their
    tokens into one hash).  This is the rolling-hash primitive: shingle
    sets are its distinct-ed form, winnowing fingerprints select minima
    over it.

    Callers must bind the hashed-token array to a real column first
    (one projection) — this expression references it ~n+2 times, and
    every reference to an inline `transform(toks, poly_hash)` would
    re-hash every token (catastrophic: O(tokens) per reference).

    Windows come from zipping n shifted slices — each slice is O(m)
    array copy, the zip_with folds are flat (no nested HOF per
    position): ((h1*B + h2) % P * B + h3) % P per window.
    """

    def fold_all(arr: Column) -> Column:
        return F.aggregate(
            arr,
            F.lit(0).cast("bigint"),
            lambda acc, h: (acc * SHINGLE_BASE + h) % HASH_MOD,
        )

    m = F.size(th) - (n - 1)
    acc = F.slice(th, 1, m)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(th, 1 + j, m),
            lambda x, y: (x * SHINGLE_BASE + y) % HASH_MOD,
        )
    return F.when(F.size(th) >= n, acc).otherwise(F.array(fold_all(th)))


def hashed_shingles_from(th: Column, n: int = 3) -> Column:
    """Distinct shingle hashes = the rolling windows as a set."""
    return F.array_distinct(rolling_window_hashes(th, n))


def sql_rolling_window_hashes_body(n: int = 3) -> str:
    """Body over a bound ``__th`` hashed-token list (DuckDB)."""
    fold_all = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), __th), "
        f"(acc, h) -> (acc * {SHINGLE_BASE} + h) % {HASH_MOD})"
    )
    win = "__th[i + 1]"
    for j in range(1, n):
        win = f"(({win}) * {SHINGLE_BASE} + __th[i + {1 + j}]) % {HASH_MOD}"
    return (
        f"CASE WHEN len(__th) >= {n} THEN "
        f"list_transform(range(0, len(__th) - {n} + 1), i -> {win}) "
        f"ELSE [{fold_all}] END"
    )


def sql_hashed_word_shingles(toks_expr: str, n: int = 3) -> str:
    """DuckDB twin of hashed_word_shingles (same two-level fold)."""
    th = f"list_transform({toks_expr}, t -> {sql_poly_hash('t')})"
    return (
        f"(SELECT list_distinct({sql_rolling_window_hashes_body(n)}) "
        f"FROM (SELECT {th} AS __th))"
    )
