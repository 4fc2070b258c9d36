"""BPE merge-table induction — distributed tokenizer training.

The second iterative operator in the engine (next to the
large-star/small-star connected components in dedup.py): byte-pair
encoding learns its merge table greedily — count adjacent symbol pairs
over the vocabulary, fuse the most frequent pair, repeat.  Real BPE
trainers (Sennrich et al. 2016, arXiv:1508.07909) run exactly this loop
over a WORD-COUNT table, not the raw corpus: the corpus collapses to
(word, count) once — one corpus-sized shuffle — and every merge round
then touches only the vocabulary, which Heaps' law keeps tiny relative
to a 100 TB corpus.  That is the scale story: the iteration cost is
O(vocab x rounds), independent of corpus size.

Plan per round: explode adjacent pairs weighted by word count -> one
(a, b)-keyed aggregation (map-side partials over the small vocab) ->
deterministic argmax (total DESC, then lexicographic) via a 1-row
limit -> apply the merge with a greedy left-to-right fold
(F.aggregate with a struct accumulator — the skip flag makes
overlapping matches like "a a a" fold exactly as a sequential scanner
would).  The vocab is localCheckpoint-ed each round so the fold
lineage stays flat instead of nesting n_merges interpreted HOFs deep
(the same lineage-truncation discipline as connected components).

The driver holds only the n_merges winning pairs (the merge table IS
the output and is tiny by definition); the pair counting never leaves
the cluster.  The DuckDB oracle unrolls the same rounds as nested CTEs
— DuckDB 1.0's list_reduce corrupts LIST fields inside struct
accumulators, so its fold encodes the skip state as an uppercase
sentinel element ('<SKIP>') instead; tokens() lowercases, so the
sentinel cannot collide with a real symbol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from eventstreamd_spark.functions.text import sql_tokens, tokens
from eventstreamd_spark.plans.memo import shared

N_MERGES = 8


def _char_syms(term: F.Column) -> F.Column:
    """Word -> array of single-character symbols (explicit substring
    transform; portable, no regex-split edge cases)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(term)),
        lambda i: term.substr(i, F.lit(1)),
    )


def _adjacent_pairs(syms: F.Column) -> F.Column:
    """Array of (a, b) structs for adjacent symbol pairs (empty when
    fewer than two symbols)."""
    return F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.struct(
                F.element_at(syms, i).alias("a"),
                F.element_at(syms, i + 1).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))


def _apply_merge(syms: F.Column, a: str, b: str) -> F.Column:
    """Greedy left-to-right merge of adjacent (a, b) -> a||b.

    Struct-accumulator fold: the skip flag consumes the right symbol of
    a fused pair, so overlapping candidates ("a a a" under merge (a,a))
    fold to [aa, a] exactly like a sequential scanner.
    """
    merged = F.lit(a + b)
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(False).alias("skip"),
    )

    def step(acc, i):
        # F.get is 0-based and null-safe: at i == size(syms) the lookahead
        # returns NULL (!= b) instead of depending on AND short-circuit to
        # dodge an ANSI INVALID_ARRAY_INDEX.
        take = (
            (i < F.size(syms))
            & (F.element_at(syms, i) == F.lit(a))
            & (F.get(syms, i) == F.lit(b))
        )
        return (
            F.when(
                acc["skip"],
                F.struct(acc["out"].alias("out"), F.lit(False).alias("skip")),
            )
            .when(
                take,
                F.struct(
                    F.concat(acc["out"], F.array(merged)).alias("out"),
                    F.lit(True).alias("skip"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(F.element_at(syms, i))).alias(
                        "out"
                    ),
                    F.lit(False).alias("skip"),
                )
            )
        )

    return F.aggregate(
        F.sequence(F.lit(1), F.size(syms)),
        init,
        step,
        lambda acc: acc["out"],
    )


def bpe_merge_table(docs: DataFrame, n_merges: int = N_MERGES) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges over the corpus
    vocabulary; returns (merge_rank, lhs, rhs, pair_count).

    The merge-table half of the session's shared
    ``bpe_induction_relation`` (plans/memo.py): TRAIN runs once per
    session and both BPE queries read the artifact."""
    induction = shared(bpe_induction_relation, docs, n_merges=n_merges)
    return induction.filter(F.col("merge_rank").isNotNull()).select(
        "merge_rank", "lhs", "rhs", "pair_count"
    )


def bpe_induction_relation(
    docs: DataFrame, n_merges: int = N_MERGES
) -> DataFrame:
    """The induction's TWO outputs — the merge table and the final
    vocabulary — packed into ONE relation so a single training run can
    be shared by both consumers: merge rows carry NULL ``term``,
    vocabulary rows carry NULL ``merge_rank``.  Each consumer filters
    its half back out (``bpe_merge_table`` / ``bpe_encode_stats``)."""
    spark = docs.sparkSession
    merges, vocab = _induce(docs, n_merges)
    mt = spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_count bigint"
    )
    return mt.select(
        "merge_rank",
        "lhs",
        "rhs",
        "pair_count",
        F.lit(None).cast("string").alias("term"),
        F.lit(None).cast("bigint").alias("cnt"),
        F.lit(None).cast("array<string>").alias("syms"),
    ).unionByName(
        vocab.select(
            F.lit(None).cast("int").alias("merge_rank"),
            F.lit(None).cast("string").alias("lhs"),
            F.lit(None).cast("string").alias("rhs"),
            F.lit(None).cast("bigint").alias("pair_count"),
            "term",
            "cnt",
            "syms",
        )
    )


def _induce(
    docs: DataFrame, n_merges: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Run the merge rounds; returns (merge table rows, the vocabulary
    frame with ALL learned merges applied) — the second return is what
    the encoder consumes."""
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    vocab = (
        tok.groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .select("term", "cnt", _char_syms(F.col("term")).alias("syms"))
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pairs = (
            vocab.select("cnt", F.explode_outer(_adjacent_pairs(F.col("syms"))).alias("p"))
            .filter(F.col("p").isNotNull())
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("total"))
        )
        best = pairs.orderBy(F.desc("total"), F.asc("a"), F.asc("b")).limit(1).collect()
        if not best:
            break
        a, b, total = best[0]["a"], best[0]["b"], best[0]["total"]
        merges.append((rank, a, b, int(total)))
        vocab = vocab.select(
            "term", "cnt", _apply_merge(F.col("syms"), a, b).alias("syms")
        ).localCheckpoint()
    return merges, vocab


def sql_bpe_merge_table(
    table: str = "documents", n_merges: int = N_MERGES
) -> str:
    """DuckDB twin: the same rounds unrolled as CTE levels, greedy
    fold with the sentinel-encoded skip state."""
    parts = _sql_rounds(table, n_merges, full_vocab=False)
    union = " UNION ALL ".join(
        f"SELECT {k} AS merge_rank, a AS lhs, b AS rhs, total AS pair_count "
        f"FROM best{k}"
        for k in range(1, n_merges + 1)
    )
    return ",\n".join(parts) + "\nSELECT * FROM (" + union + ") ORDER BY merge_rank"


def _sql_rounds(table: str, n_merges: int, full_vocab: bool) -> list[str]:
    """The induction rounds as CTE parts.  ``full_vocab=True`` also
    applies the LAST merge to the vocabulary (the encoder needs the
    final vocab; the merge-table output does not)."""
    toks = sql_tokens("text")
    fold = (
        "list_reduce("
        "list_prepend(CAST([] AS VARCHAR[]), "
        "list_transform(range(1, len(syms) + 1), x -> [CAST(x AS VARCHAR)])), "
        "(acc, e) -> CASE "
        "WHEN len(acc) > 0 AND acc[len(acc)] = '<SKIP>' "
        "  THEN list_slice(acc, 1, len(acc) - 1) "
        "WHEN CAST(e[1] AS INT) < len(syms) "
        "  AND syms[CAST(e[1] AS INT)] = a AND syms[CAST(e[1] AS INT) + 1] = b "
        "  THEN list_append(list_append(acc, a || b), '<SKIP>') "
        "ELSE list_append(acc, syms[CAST(e[1] AS INT)]) END)"
    )
    parts = [
        "WITH v0 AS ("
        "  SELECT term, cnt, "
        "    list_transform(range(1, length(term) + 1), i -> term[i:i]) AS syms "
        "  FROM (SELECT term, count(*) AS cnt FROM ("
        f"    SELECT unnest({toks}) AS term FROM {table}) GROUP BY term))"
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f"p{k} AS ("
            f"  SELECT s.syms[i] AS a, s.syms[i + 1] AS b, "
            f"    CAST(sum(s.cnt) AS BIGINT) AS total "
            f"  FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS i "
            f"        FROM v{k - 1}) s "
            f"  GROUP BY 1, 2)"
        )
        parts.append(
            f"best{k} AS (SELECT a, b, total FROM p{k} "
            f"ORDER BY total DESC, a, b LIMIT 1)"
        )
        if k < n_merges or full_vocab:
            parts.append(
                f"v{k} AS (SELECT term, cnt, {fold} AS syms "
                f"FROM v{k - 1}, best{k})"
            )
    return parts


def bpe_encode_stats(docs: DataFrame, n_merges: int = N_MERGES) -> DataFrame:
    """Apply the learned merge table: per-document BPE token counts —
    the ENCODE half of the tokenizer (the induction above is TRAIN).

    The scale trick is that encoding is a VOCABULARY computation, not
    a corpus one: every occurrence of a word encodes identically, so
    the merges are applied once per distinct term (Heaps'-law-sized)
    and the corpus pass is a broadcast join of the (term -> symbol
    count) map onto exploded tokens — O(vocab x merges) fold work plus
    one corpus-speed join, never O(corpus x merges).  Zero-token
    documents survive with zero counts (left join + coalesce).

    Output (all BIGINT, exact oracle): n_word_tokens, n_chars_tokens
    (pre-BPE symbol count), n_bpe_tokens (post-merge symbol count).
    """
    # ENCODE reads the trained vocabulary half of the shared artifact
    # instead of re-running the n_merges driver-sequenced rounds
    # (8 vocab-pair shuffles + 8 best-pair collects) a second time
    vocab = (
        shared(bpe_induction_relation, docs, n_merges=n_merges)
        .filter(F.col("term").isNotNull())
        .select("term", "cnt", "syms")
    )
    enc = vocab.select(
        "term",
        F.length("term").cast("bigint").alias("n_chars_t"),
        F.size("syms").cast("bigint").alias("n_syms"),
    )
    doc_terms = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    per_doc = (
        doc_terms.join(F.broadcast(enc), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("nw"),
            F.sum("n_chars_t").alias("nc"),
            F.sum("n_syms").alias("nb"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("nw"), F.lit(0)).cast("bigint").alias("n_word_tokens"),
            F.coalesce(F.col("nc"), F.lit(0)).cast("bigint").alias("n_chars_tokens"),
            F.coalesce(F.col("nb"), F.lit(0)).cast("bigint").alias("n_bpe_tokens"),
        )
    )


def sql_bpe_encode_stats(
    table: str = "documents", n_merges: int = N_MERGES
) -> str:
    """DuckDB twin: the induction CTE ladder (with the final vocab
    materialized) feeding the same join-and-count."""
    toks = sql_tokens("text")
    parts = _sql_rounds(table, n_merges, full_vocab=True)
    return (
        ",\n".join(parts)
        + f""",
doc_terms AS (
  SELECT doc_id, unnest({toks}) AS term FROM {table}
),
per_doc AS (
  SELECT t.doc_id, count(*) AS nw,
         sum(length(t.term)) AS nc, sum(len(f.syms)) AS nb
  FROM doc_terms t JOIN v{n_merges} f USING (term)
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.nw, 0) AS BIGINT) AS n_word_tokens,
       CAST(coalesce(p.nc, 0) AS BIGINT) AS n_chars_tokens,
       CAST(coalesce(p.nb, 0) AS BIGINT) AS n_bpe_tokens
FROM {table} d LEFT JOIN per_doc p USING (doc_id)
"""
    )
