"""In-engine BPE tokenizer training (Sennrich et al. 2016, arXiv:1508.07909).

Classic byte-pair-encoding trains on a WORD-FREQUENCY table, not the raw
corpus: the corpus is scanned once to count distinct words (Heaps' law
keeps the vocabulary sublinear in corpus size — the 100 TB corpus
becomes a few-million-row word table), then every merge round runs on
that small table only. Each round is:

  1. explode adjacent symbol pairs weighted by word count,
  2. a 1-row global argmax (highest count, lexicographically smallest
     pair on ties — fully deterministic),
  3. broadcast the winning pair back and merge it inside every word.

All string work is JVM built-ins. A word's symbol sequence is encoded
as a single string with every symbol wrapped in US (``\\x1f``)
sentinels — ``abc`` -> ``\\x1fa\\x1f\\x1fb\\x1f\\x1fc\\x1f`` — so
"merge pair (a, b)" is exactly one ``replace`` of
``\\x1fa\\x1f\\x1fb\\x1f`` with ``\\x1fab\\x1f``: the doubled inner
sentinels make adjacent matches share no characters, which turns the
engine's leftmost-non-overlapping ``replace`` into precisely BPE's
greedy left-to-right merge (``a a a`` + pair ``(a,a)`` -> ``aa a``).
Both Spark and DuckDB implement ``replace`` with those semantics, so
the fixed ``n_merges`` rounds unroll into an exact SQL oracle
(plans/queries.py). Tokens are restricted to ``^[a-z]+$`` so the
sentinel bytes can never occur in a symbol.

Scale: one corpus-wide word-count shuffle, then ``n_merges`` linear
passes over the vocabulary table with a 1-row broadcast each — no
further corpus reads, no UDFs, no driver-side loops over data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from azure_etl_spark.operators.text import tokens
from azure_etl_spark.session import local_frame

SEP = "\x1f"  # US: wraps every symbol
DSEP = SEP + SEP  # between adjacent symbols
PSEP = "\x1e"  # RS: pair-key separator, sorts below [a-z] for tie-breaks


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over lowercased whitespace tokens matching ^[a-z]+$."""
    w = df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("word"))
    return (
        w.filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def symbolize(col) -> "F.Column":
    """Word -> sentinel-wrapped initial (character) symbol string."""
    c = F.col(col) if isinstance(col, str) else col
    chars = F.filter(F.split(c, r"(?!^)"), lambda x: F.length(x) > 0)
    return F.concat(F.lit(SEP), F.array_join(chars, DSEP), F.lit(SEP))


def _symbols(s) -> "F.Column":
    """Symbol string -> array of symbols."""
    c = F.col(s) if isinstance(s, str) else s
    return F.split(F.substring(c, 2, F.length(c) - 2), DSEP)


def _adjacent_pairs(arr) -> "F.Column":
    n = F.size(arr)
    return F.when(
        n > 1,
        F.zip_with(
            F.slice(arr, 1, n - 1),
            F.slice(arr, 2, n - 1),
            lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
        ),
    ).otherwise(F.array().cast("array<struct<lhs:string,rhs:string>>"))


def bpe_train(words: DataFrame, n_merges: int = 8) -> tuple[DataFrame, list[DataFrame]]:
    """Learn ``n_merges`` BPE merges from a (word, cnt) table.

    Returns ``(merges, rounds)``: ``merges`` is a DataFrame
    (rank, lhs, rhs, merged, pair_count) ordered by learning rank, and
    ``rounds`` the list of 1-row per-round DataFrames (each already
    localCheckpoint-ed) for callers that chain the merge replacements
    themselves (see :func:`bpe_encode`).
    """
    cur = words.select(symbolize("word").alias("s"), F.col("cnt")).localCheckpoint(
        eager=True
    )
    rounds: list[DataFrame] = []
    for r in range(1, n_merges + 1):
        pairs = cur.select(
            F.explode(_adjacent_pairs(_symbols("s"))).alias("p"), "cnt"
        ).select(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"), "cnt")
        counted = pairs.groupBy("lhs", "rhs").agg(F.sum("cnt").alias("pair_count"))
        key = F.struct(
            (-F.col("pair_count")).alias("neg"),
            F.concat(F.col("lhs"), F.lit(PSEP), F.col("rhs")).alias("pk"),
        )
        best = counted.agg(
            F.min_by(F.struct("lhs", "rhs", "pair_count"), key).alias("b")
        ).select(
            F.lit(r).alias("rank"),
            F.col("b.lhs").alias("lhs"),
            F.col("b.rhs").alias("rhs"),
            F.concat("b.lhs", "b.rhs").alias("merged"),
            F.col("b.pair_count").alias("pair_count"),
            F.concat(
                F.lit(SEP), F.col("b.lhs"), F.lit(DSEP), F.col("b.rhs"), F.lit(SEP)
            ).alias("pat"),
            F.concat(F.lit(SEP), F.col("b.lhs"), F.col("b.rhs"), F.lit(SEP)).alias(
                "rep"
            ),
        ).localCheckpoint(eager=True)
        # vocabulary fully merged before n_merges rounds: the argmax over
        # an empty pair table is a NULL row — stop instead of letting a
        # NULL pattern poison every word via replace(s, NULL, NULL)
        if best.first()["lhs"] is None:
            break
        rounds.append(best)
        cur = (
            cur.join(F.broadcast(best.select("pat", "rep")))
            .withColumn("s", F.replace(F.col("s"), F.col("pat"), F.col("rep")))
            .select("s", "cnt")
            .localCheckpoint(eager=True)
        )
    if not rounds:  # no adjacent pairs at all (every word is one symbol)
        empty = local_frame(
            words.sparkSession,
            [],
            "rank int, lhs string, rhs string, merged string, pair_count bigint",
        )
        return empty, rounds
    merges = rounds[0].drop("pat", "rep")
    for b in rounds[1:]:
        merges = merges.unionByName(b.drop("pat", "rep"))
    return merges, rounds


def bpe_encode(
    df: DataFrame, rounds: list[DataFrame], text_col: str = "text"
) -> DataFrame:
    """Apply learned merges to a corpus: adds ``bpe_tokens``
    (array<string>) and ``n_bpe_tokens``.

    The merge list is assembled into ONE rank-ordered array (a 1-row
    broadcast), and all merges apply in a single corpus pass: per word,
    ``aggregate`` folds the (pat, rep) array over the symbol string with
    one JVM ``replace`` per merge — chained replaces are exactly the
    fold, which is also how the oracle unrolls them. Zero shuffles, one
    scan, regardless of merge count.
    """
    if not rounds:
        return df.withColumn(
            "bpe_tokens",
            F.filter(tokens(F.lower(F.col(text_col))), lambda w: w.rlike("^[a-z]+$")),
        ).withColumn("n_bpe_tokens", F.size("bpe_tokens"))
    merged = rounds[0].select("rank", "pat", "rep")
    for b in rounds[1:]:
        merged = merged.unionByName(b.select("rank", "pat", "rep"))
    ms = merged.agg(
        F.array_sort(F.collect_list(F.struct("rank", "pat", "rep"))).alias("__ms")
    )
    words = F.filter(
        tokens(F.lower(F.col(text_col))), lambda w: w.rlike("^[a-z]+$")
    )
    out = df.join(F.broadcast(ms)).withColumn(
        "__syms",
        F.transform(
            words,
            lambda w: F.aggregate(
                F.col("__ms"),
                symbolize(w),
                lambda acc, m: F.replace(acc, m["pat"], m["rep"]),
            ),
        ),
    )
    toks = F.flatten(F.transform(F.col("__syms"), lambda s: _symbols(s)))
    return (
        out.withColumn("bpe_tokens", toks)
        .withColumn("n_bpe_tokens", F.size("bpe_tokens"))
        .drop("__syms", "__ms")
    )


# --------------------------------------- byte-fallback encode (round 8)

MARK = "▁"  # ▁ — SentencePiece word-boundary marker token


def _byte_tokens(w) -> "F.Column":
    """UTF-8 bytes of a word as ``<0xHH>`` tokens (uppercase hex).
    Guarded for the empty string: ``sequence(1, 0)`` DESCENDS in
    Spark, so an unguarded empty word would emit two bogus tokens."""
    hexs = F.hex(F.encode(w, "UTF-8"))
    return F.when(
        F.length(hexs) == 0, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), (F.length(hexs) / 2).cast("int")),
            lambda i: F.concat(
                F.lit("<0x"), F.substring(hexs, i * 2 - 1, F.lit(2)), F.lit(">")
            ),
        )
    )


def bpe_encode_bytes(
    df: DataFrame, rounds: list[DataFrame], text_col: str = "text"
) -> DataFrame:
    """Byte-fallback BPE encode (VERDICT r7 #8 — the GPT-2 contract:
    no token is ever UNK and no input is ever dropped): every word of
    the raw, case-preserved whitespace tokenization is emitted —
    ``^[a-z]+$`` words through the learned merges exactly like
    :func:`bpe_encode`, everything else (digits, punctuation, casing,
    any Unicode) as its UTF-8 bytes, one ``<0xHH>`` token per byte.
    Each word is preceded by the ``▁`` word-boundary marker token, so
    the flat stream is LOSSLESS: :func:`bpe_decode_bytes` reassembles
    the exact whitespace-normalized input (``" ".join(text.split())``
    — property-tested on arbitrary UTF-8; a literal ``▁`` character in
    the input is not ``[a-z]+`` so it byte-encodes, never colliding
    with the marker token).

    Adds ``bpe_tokens`` (array<string>), ``n_bpe_tokens`` and
    ``n_byte_tokens``. Same plan shape as :func:`bpe_encode`: the
    merge list is one broadcast row, all work is per-row JVM
    expressions — zero shuffles, one corpus pass.
    """
    from azure_etl_spark.operators.text import tokens

    # leading non-space whitespace survives trim() and split() then
    # yields an empty first token — drop empties (an empty "word" has
    # no bytes and must not emit a boundary marker)
    words = F.filter(tokens(F.col(text_col)), lambda w: F.length(w) > 0)

    def encode_word(w):
        if rounds:
            folded = F.aggregate(
                F.col("__ms"),
                symbolize(w),
                lambda acc, m: F.replace(acc, m["pat"], m["rep"]),
            )
        else:
            folded = symbolize(w)
        return F.concat(
            F.array(F.lit(MARK)),
            F.when(w.rlike("^[a-z]+$"), _symbols(folded)).otherwise(
                _byte_tokens(w)
            ),
        )

    if rounds:
        merged = rounds[0].select("rank", "pat", "rep")
        for b in rounds[1:]:
            merged = merged.unionByName(b.select("rank", "pat", "rep"))
        ms = merged.agg(
            F.array_sort(F.collect_list(F.struct("rank", "pat", "rep"))).alias(
                "__ms"
            )
        )
        out = df.join(F.broadcast(ms))
    else:
        out = df.withColumn("__ms", F.array())
    toks = F.flatten(F.transform(words, encode_word))
    return (
        out.withColumn("bpe_tokens", toks)
        .withColumn("n_bpe_tokens", F.size("bpe_tokens"))
        .withColumn(
            "n_byte_tokens",
            F.size(
                F.filter(
                    F.col("bpe_tokens"),
                    lambda t: t.rlike("^<0x[0-9A-F]{2}>$"),
                )
            ),
        )
        .drop("__ms")
    )


def bpe_decode_bytes(tokens_col) -> "F.Column":
    """Inverse of :func:`bpe_encode_bytes` as a pure expression: each
    token maps to a hex piece (``▁`` -> 20, ``<0xHH>`` -> HH, any
    other token -> hex of its UTF-8 bytes), the pieces concatenate
    into one byte string, and ONE UTF-8 decode reassembles the text —
    multi-byte characters split across ``<0xHH>`` tokens come back
    intact because assembly happens at the byte level, not per token.
    The leading marker's space is stripped; result ==
    ``" ".join(input.split())``."""
    c = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    piece = lambda t: (  # noqa: E731
        F.when(t == MARK, F.lit("20"))
        .when(t.rlike("^<0x[0-9A-F]{2}>$"), F.substring(t, 4, 2))
        .otherwise(F.hex(F.encode(t, "UTF-8")))
    )
    assembled = F.decode(F.unhex(F.concat_ws("", F.transform(c, piece))), "UTF-8")
    return F.regexp_replace(assembled, "^ ", "")
