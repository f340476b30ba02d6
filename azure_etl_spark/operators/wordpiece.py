"""In-engine WordPiece tokenizer training + encoding (Schuster &
Nakajima 2012; the BERT tokenizer — Devlin et al. 2018, arXiv:
1810.04805). Completes the production tokenizer family next to BPE
(``operators/tokenize.py``) and unigram-LM (``operators/unigram.py``);
the reference has no tokenizer ops (SURVEY.md §2 engine extension).

WordPiece differs from BPE in exactly two published ways:

1. **Training picks the pair maximizing the likelihood-ratio score**
   ``count(lhs, rhs) / (count(lhs) * count(rhs))`` — the merge that
   most increases a unigram LM's corpus likelihood — instead of the
   raw pair count. Ties break to the lexicographically smallest pair
   key, so training is fully deterministic.
2. **Non-initial symbols carry the ``##`` continuation marker** and
   merging strips the marker from the right-hand side
   (``h + ##e -> he``, ``##e + ##l -> ##el``), so the learned vocab
   distinguishes word-initial from word-internal pieces.

Everything else reuses the BPE machinery: the corpus is scanned ONCE
into a word-frequency table (Heaps' law keeps it sublinear in corpus
size), each merge round explodes adjacent symbol pairs on that small
table, takes a 1-row global argmax, and applies the winning merge with
one JVM ``replace`` over sentinel-wrapped symbol strings (see
``operators/tokenize.py`` for why the doubled inner sentinels make
``replace`` exactly the greedy leftmost merge). The score's extra cost
per round is one symbol-count aggregate + two broadcast-sized joins.

**Encoding is greedy longest-match-first** (the published WordPiece
algorithm, unlike BPE's merge replay): per word, repeatedly take the
LONGEST vocab piece prefixing the remaining suffix (non-initial pieces
match with their ``##`` form); if no piece matches, the whole word
becomes ``[UNK]``. The match loop is an ``F.aggregate`` fold (linear
plan size — the same CollapseProject-blowup avoidance as the unigram
Viterbi), only DISTINCT words run it, and the vocabulary rides along
as a broadcast 1-row map. Both the fold and the trained vocab unroll
into an exact DuckDB oracle (plans/queries.py ``wordpiece_train`` /
``wordpiece_encode_docs``).

Scale: one corpus word-count shuffle; ``n_merges`` linear vocab-table
passes with 1-row broadcasts; encode = one DP pass over distinct words
+ one join back. No UDFs, no driver-side data loops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from azure_etl_spark.operators.text import tokens
from azure_etl_spark.operators.tokenize import (
    DSEP,
    PSEP,
    SEP,
    _adjacent_pairs,
    _symbols,
    word_frequencies,  # noqa: F401  (re-export: the shared corpus scan)
)
from azure_etl_spark.session import local_frame

WP_WORD_MAX = 12  # words longer than this encode as [UNK] (BERT's cap, scaled)
UNK = "[UNK]"
CONT = "##"


def wp_symbolize(col) -> Column:
    """Word -> sentinel-wrapped symbol string with ``##`` continuation
    markers: ``abc`` -> ``\\x1fa\\x1f\\x1f##b\\x1f\\x1f##c\\x1f``."""
    c = F.col(col) if isinstance(col, str) else col
    chars = F.filter(F.split(c, r"(?!^)"), lambda x: F.length(x) > 0)
    marked = F.transform(
        chars,
        lambda ch, i: F.when(i == 0, ch).otherwise(F.concat(F.lit(CONT), ch)),
    )
    return F.concat(F.lit(SEP), F.array_join(marked, DSEP), F.lit(SEP))


def wordpiece_train(
    words: DataFrame, n_merges: int = 8
) -> tuple[DataFrame, list[DataFrame]]:
    """Learn ``n_merges`` WordPiece merges from a (word, cnt) table.

    Returns ``(merges, rounds)``: ``merges`` is (rank, lhs, rhs,
    merged, pair_count, score) ordered by learning rank; ``rounds``
    the per-round 1-row DataFrames (pat/rep included) for callers that
    need the replacement chain. ``score`` is the likelihood-ratio
    ``pair_count / (n_lhs * n_rhs)`` computed in DOUBLE from exact
    integer counts — both engines evaluate the identical expression,
    so the argmax (score desc, pair key asc) replays bit-for-bit in
    the SQL oracle.
    """
    cur = words.select(wp_symbolize("word").alias("s"), F.col("cnt")).localCheckpoint(
        eager=True
    )
    rounds: list[DataFrame] = []
    for r in range(1, n_merges + 1):
        syms = (
            cur.select(F.explode(_symbols("s")).alias("sym"), "cnt")
            .groupBy("sym")
            .agg(F.sum("cnt").alias("n"))
        )
        pairs = cur.select(
            F.explode(_adjacent_pairs(_symbols("s"))).alias("p"), "cnt"
        ).select(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"), "cnt")
        counted = pairs.groupBy("lhs", "rhs").agg(F.sum("cnt").alias("pair_count"))
        scored = (
            counted.join(
                F.broadcast(syms.select(F.col("sym").alias("lhs"), F.col("n").alias("__nl"))),
                "lhs",
            )
            .join(
                F.broadcast(syms.select(F.col("sym").alias("rhs"), F.col("n").alias("__nr"))),
                "rhs",
            )
            .withColumn(
                "score",
                F.col("pair_count").cast("double")
                / (F.col("__nl").cast("double") * F.col("__nr").cast("double")),
            )
        )
        key = F.struct(
            (-F.col("score")).alias("neg"),
            F.concat(F.col("lhs"), F.lit(PSEP), F.col("rhs")).alias("pk"),
        )
        merged_expr = F.concat(F.col("b.lhs"), F.expr("substring(b.rhs, 3)"))
        best = scored.agg(
            F.min_by(F.struct("lhs", "rhs", "pair_count", "score"), key).alias("b")
        ).select(
            F.lit(r).alias("rank"),
            F.col("b.lhs").alias("lhs"),
            F.col("b.rhs").alias("rhs"),
            merged_expr.alias("merged"),
            F.col("b.pair_count").alias("pair_count"),
            F.col("b.score").alias("score"),
            F.concat(
                F.lit(SEP), F.col("b.lhs"), F.lit(DSEP), F.col("b.rhs"), F.lit(SEP)
            ).alias("pat"),
            F.concat(F.lit(SEP), merged_expr, F.lit(SEP)).alias("rep"),
        ).localCheckpoint(eager=True)
        # exhausted-vocabulary guard, exactly like bpe_train: stop
        # before a NULL pattern poisons every word
        if best.first()["lhs"] is None:
            break
        rounds.append(best)
        cur = (
            cur.join(F.broadcast(best.select("pat", "rep")))
            .withColumn("s", F.replace(F.col("s"), F.col("pat"), F.col("rep")))
            .select("s", "cnt")
            .localCheckpoint(eager=True)
        )
    if not rounds:
        empty = local_frame(
            words.sparkSession,
            [],
            "rank int, lhs string, rhs string, merged string, "
            "pair_count bigint, score double",
        )
        return empty, rounds
    merges = rounds[0].drop("pat", "rep")
    for b in rounds[1:]:
        merges = merges.unionByName(b.drop("pat", "rep"))
    return merges, rounds


def wordpiece_vocab(words: DataFrame, rounds: list[DataFrame]) -> DataFrame:
    """(piece) vocabulary: the initial alphabet (every plain and
    ``##``-marked character of the training words) plus one merged
    piece per learned round — the standard grow-only WordPiece vocab
    (nothing is removed when a piece is later absorbed by a bigger
    merge, so greedy encode can always fall back)."""
    alphabet = (
        words.select(wp_symbolize("word").alias("s"))
        .select(F.explode(_symbols("s")).alias("piece"))
        .distinct()
    )
    out = alphabet
    for b in rounds:
        out = out.unionByName(b.select(F.col("merged").alias("piece")))
    return out.distinct()


def _vocab_map(vocab: DataFrame) -> DataFrame:
    """1-row (piece -> true) membership map for broadcast."""
    return vocab.agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct(F.col("piece"), F.lit(True))))
        ).alias("__wp")
    )


def with_wordpiece_tokens(
    df: DataFrame, word_col: str, map_df: DataFrame, out_col: str = "__toks"
) -> DataFrame:
    """Append the greedy longest-match-first WordPiece segmentation
    (array<string>) of ``word_col`` (length <= WP_WORD_MAX) under the
    broadcast vocab membership map. The loop is an ``F.aggregate``
    fold over WP_WORD_MAX steps with acc = (p, toks, fail): each step
    either consumes the longest matching piece at position ``p`` or
    marks the word failed (-> ``[UNK]``). A fold keeps the expression
    tree linear (the unigram module's CollapseProject note applies
    verbatim); candidate lookups are map ``element_at`` probes against
    the broadcast map — no shuffle, no UDF."""
    df = df.join(F.broadcast(map_df))
    W = F.col(word_col)
    vm = F.col("__wp")
    L = F.length(W)

    def piece_at(p: Column, k) -> Column:
        sub = F.substring(W, p, k if isinstance(k, Column) else F.lit(k))
        return F.when(p == 1, sub).otherwise(F.concat(F.lit(CONT), sub))

    def step(acc: Column, _t: Column) -> Column:
        p, toks, fail = acc["p"], acc["toks"], acc["fail"]
        active = (~fail) & (p <= L)
        k = F.lit(0)
        for kk in range(1, WP_WORD_MAX + 1):  # ascending: longest wins
            hit = (p + F.lit(kk - 1) <= L) & F.element_at(
                vm, piece_at(p, kk)
            ).isNotNull()
            k = F.when(hit, F.lit(kk)).otherwise(k)
        consumed = F.struct(
            (p + k).alias("p"),
            F.concat(toks, F.array(piece_at(p, k))).alias("toks"),
            F.lit(False).alias("fail"),
        )
        failed = F.struct(p.alias("p"), toks.alias("toks"), F.lit(True).alias("fail"))
        return F.when(~active, acc).otherwise(
            F.when(k == 0, failed).otherwise(consumed)
        )

    df = df.withColumn(
        out_col,
        F.aggregate(
            F.sequence(F.lit(1), F.lit(WP_WORD_MAX)),
            F.struct(
                F.lit(1).cast("int").alias("p"),
                F.array().cast("array<string>").alias("toks"),
                F.lit(False).alias("fail"),
            ),
            step,
            lambda acc: F.when(
                acc["fail"], F.array(F.lit(UNK))
            ).otherwise(acc["toks"]),
        ),
    )
    return df.drop("__wp")


def wordpiece_encode(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Segment each document's words under the trained vocabulary:
    adds ``wp_tokens`` (array<string>) and ``n_wp_tokens``. Words over
    WP_WORD_MAX chars become ``[UNK]`` (BERT's max_input_chars_per_word
    rule). Only DISTINCT words run the match loop; per-occurrence cost
    is one join — the same shape as ``unigram_encode``."""
    words_arr = F.filter(
        tokens(F.lower(F.col(text_col))), lambda x: x.rlike("^[a-z]+$")
    )
    dw = docs.select(id_col, F.posexplode(words_arr).alias("__pos", "__w"))
    short = dw.filter(F.length("__w") <= WP_WORD_MAX)
    longw = dw.filter(F.length("__w") > WP_WORD_MAX).select(
        id_col, "__pos", F.array(F.lit(UNK)).alias("__toks")
    )
    distinct_words = short.select(F.col("__w").alias("word")).distinct()
    seg = with_wordpiece_tokens(distinct_words, "word", _vocab_map(vocab)).select(
        F.col("word").alias("__w"), "__toks"
    )
    per_word = short.join(seg, "__w").select(id_col, "__pos", "__toks")
    agg = (
        per_word.unionByName(longw)
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__toks"))),
                    lambda s: s["__toks"],
                )
            ).alias("wp_tokens")
        )
    )
    return (
        docs.join(agg, id_col, "left")
        .withColumn(
            "wp_tokens",
            F.coalesce("wp_tokens", F.array().cast("array<string>")),
        )
        .withColumn("n_wp_tokens", F.size("wp_tokens"))
    )
