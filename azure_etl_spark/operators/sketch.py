"""Mergeable sketches as plain DataFrames: a Bloom filter bit-table
(membership), a count-min counter-table (frequency; Cormode &
Muthukrishnan 2005), a log-histogram (quantiles), and a KMV k-minimum-
values table (distinct count + theta-style set overlap; Bar-Yossef et
al. 2002, Beyer et al. 2007) — plus the semi-join reduction the Bloom
table exists for: pruning a huge fact table against a dim key-set
BEFORE the shuffle.

Engine extension (the reference has no sketches; SURVEY.md §2 engine
adds — same family as the HLL rollup `hll_sketch_rollup_users`).
Spark's own runtime bloom-filter join (`spark.sql.optimizer.runtime.
bloomFilter.*`) injects the same reduction automatically in SOME
plans; this operator is the deterministic, composable version: the
sketch is a first-class DataFrame you can persist, merge across
shards/days, and reuse across queries — none of which the optimizer's
transient runtime filter can do. `bloom_filter_agg` itself is not a
SQL-exposed function in Spark 4, so the bit-table is built from
public primitives (`bit_or` over shifted bits).

Design — both sketches are TABLES, not opaque binaries:

- Bloom: ``(word: long, bits: long)`` rows — bit ``p`` of the filter
  lives at ``bits[p % 64]`` of the row with ``word == p // 64``. At
  most ``num_bits / 64`` rows regardless of input size. Merge across
  shards = union + ``bit_or`` per word. Membership probes are k
  BROADCAST joins (the bit-table is tiny) — the fact side never
  shuffles to be pruned.
- Count-min: ``(r: int, b: long, cnt: long)`` rows — depth x width
  counters, absent row == 0. Merge = union + sum per (r, b). Point
  estimate = min over the depth rows (classic CMS upper bound:
  ``est >= true``, within ``e*N`` at depth ``ln(1/delta)``).

Hashing: row ``r``'s hash of value ``v`` is the first 8 hex digits of
``md5("{r}:" || v)`` as a base-16 integer — the repo's standard
oracle-replayable bucket hash (see operators/quality.py
hashed_ngram_features and the simhash chunk oracles): Spark computes
it as ``conv(substring(md5(..), 1, 8), 16, 10)`` and DuckDB replays
it digit-by-digit with ``instr``, bit-for-bit.

Scale: building either sketch is one map pass + one aggregate whose
output is bounded by the sketch size (num_bits/64 or depth*width
rows), never by the data. Pruning k=3 probes on a 100 TB fact is 3
map-side broadcast joins + a filter — rows that cannot match never
reach the join Exchange, which is the whole point.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from azure_etl_spark.session import local_frame


def _row_hash(c: Column, salt: int | str, bits: int = 32) -> Column:
    """First-``bits/4``-hex-digits md5 bucket hash of
    ``"{salt}:" || value`` as BIGINT in [0, 2^bits) — identical
    integer in Spark (conv) and DuckDB (digit-by-digit instr)."""
    if bits % 4 or not 4 <= bits <= 60:
        raise ValueError(f"hash bits must be a multiple of 4 in [4, 60], got {bits}")
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), c.cast("string"))), 1, bits // 4
        ),
        16,
        10,
    ).cast("bigint")


def _shl1(nbits: Column) -> Column:
    """``1L << nbits`` with a COLUMN shift amount (PySpark's
    ``F.shiftleft`` only accepts a literal)."""
    return F.call_function("shiftleft", F.lit(1).cast("bigint"), nbits)


def _bucket_upper(b: Column) -> Column:
    """Upper bound ``2^b - 1`` of log-histogram bucket ``b``, with the
    top bucket (b >= 63, i.e. any value >= 2^62) pinned to
    ``Long.MAX_VALUE``: ``shiftleft(1L, 63)`` wraps to ``Long.MIN`` and
    the ``- 1`` then raises ARITHMETIC_OVERFLOW under Spark 4's default
    ANSI mode (and DuckDB's ``(1::BIGINT << 63) - 1`` errors the same
    way) — the oracles special-case identically."""
    return (
        F.when(b >= 63, F.lit((1 << 63) - 1))
        .otherwise(_shl1(b) - F.lit(1))
        .cast("bigint")
    )


# --------------------------------------------------------------- Bloom


def bloom_table(
    df: DataFrame, col: str | Column, num_bits: int = 1 << 16, k: int = 3
) -> DataFrame:
    """Build the Bloom filter of ``col``'s values as a ``(word, bits)``
    bit-table: ``k`` salted-md5 positions per value, ``bit_or``-folded
    into 64-bit words. At most ``num_bits // 64`` rows. No false
    negatives ever; false-positive rate ~``(1 - e^{-kn/m})^k``.

    Mergeable: :func:`bloom_merge` unions shard tables word-wise, and
    ``bloom(A ∪ B) == merge(bloom(A), bloom(B))`` exactly.
    """
    if num_bits % 64:
        raise ValueError("num_bits must be a multiple of 64")
    c = F.col(col) if isinstance(col, str) else col
    pos = df.select(
        F.explode(
            F.array(*[(_row_hash(c, r) % num_bits).alias(f"p{r}") for r in range(k)])
        ).alias("pos")
    )
    return (
        pos.groupBy((F.col("pos") / 64).cast("bigint").alias("word"))
        .agg(
            F.bit_or(
                _shl1((F.col("pos") % 64).cast("int"))
            ).alias("bits")
        )
    )


def bloom_merge(*tables: DataFrame) -> DataFrame:
    """Union Bloom bit-tables built with the SAME (num_bits, k):
    word-wise ``bit_or``. The caller owns parameter consistency (the
    table carries no metadata — it is just bits)."""
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("word").agg(F.bit_or("bits").alias("bits"))


def bloom_prune(
    df: DataFrame,
    bloom: DataFrame,
    col: str | Column,
    num_bits: int = 1 << 16,
    k: int = 3,
) -> DataFrame:
    """Keep only rows whose ``col`` MIGHT be in the Bloom filter —
    k broadcast joins against the bit-table + a bit test each; a
    missing word row means those bits are 0 (fail). Guarantees: every
    row whose key IS in the built set passes (no false negatives);
    rows that pass despite not matching are the documented Bloom false
    positives, removed by whatever exact join/filter follows.

    The input never shuffles: each probe is a map-side
    BroadcastHashJoin, so at 100 TB the non-matching bulk dies before
    any Exchange.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = df
    for r in range(k):
        pos = _row_hash(c, r) % num_bits
        bl = bloom.select(
            (F.col("word")).alias(f"__bw{r}"), F.col("bits").alias(f"__bb{r}")
        )
        mask = _shl1((pos % 64).cast("int"))
        out = (
            out.withColumn(f"__bw{r}", (pos / 64).cast("bigint"))
            .join(F.broadcast(bl), f"__bw{r}", "left")
            # missing word row -> bits NULL -> coalesce to 0 -> fail
            .filter(F.coalesce(F.col(f"__bb{r}").bitwiseAND(mask), F.lit(0)) != 0)
            .drop(f"__bw{r}", f"__bb{r}")
        )
    return out


def bloom_pruned_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    num_bits: int = 1 << 16,
    k: int = 3,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``fact`` to ``dim`` with a Bloom semi-join reduction:
    build the bit-table over ``dim``'s keys, prune ``fact`` map-side,
    then run the real join. Because Bloom has no false negatives, the
    result is IDENTICAL to the plain join for ``inner``/``left_semi``
    (false positives are removed by the join itself) — which is also
    the correctness oracle.

    Use when dim's key set is too large for a broadcast HASH join but
    its BITS are not (10^8 keys fit 10 bits/key ≈ 125 MB): fact rows
    that cannot match never enter the shuffle.
    """
    if how not in ("inner", "left_semi", "semi"):
        raise ValueError(
            "bloom pruning preserves semantics only for inner/semi joins"
        )
    bloom = bloom_table(dim.select(dim_key), dim_key, num_bits=num_bits, k=k)
    pruned = bloom_prune(fact, bloom, fact_key, num_bits=num_bits, k=k)
    return pruned.join(dim, pruned[fact_key] == dim[dim_key], how)


# ----------------------------------------------------------- count-min


def cms_table(
    df: DataFrame,
    col: str | Column,
    depth: int = 4,
    width: int = 1024,
    weight: Column | None = None,
) -> DataFrame:
    """Count-min sketch of ``col``'s value frequencies as a
    ``(r, b, cnt)`` counter-table: ``depth`` salted hash rows x
    ``width`` buckets, built by one explode + one aggregate whose
    output is bounded at depth*width rows (absent row == counter 0).

    ``weight`` (round 13) builds the same counters from PRE-AGGREGATED
    ``(value, count)`` rows: each row contributes ``weight`` instead of
    1, so ``cms_table(counts, v, weight=counts.n) ==
    cms_table(stream, v)`` exactly when ``counts`` is the stream's
    value-frequency table. A caller that already aggregates the stream
    (for an exact top-k, say) can then feed the sketch from the
    vocabulary-sized counts — sharing one pass + one Exchange with the
    other consumer instead of re-scanning the raw stream
    (spark_optimization_guide §2.3/§2.4).

    Mergeable: :func:`cms_merge` sums shard tables pointwise, and
    ``cms(A ∪ B) == merge(cms(A), cms(B))`` exactly — build per
    shard/day/partition, merge cheap, estimate anywhere.
    """
    c = F.col(col) if isinstance(col, str) else col
    extra = [weight.cast("bigint").alias("__w")] if weight is not None else []
    rb = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        (_row_hash(c, r) % width).alias("b"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rb"),
        *extra,
    )
    agg = F.sum("__w") if weight is not None else F.count("*")
    return rb.groupBy(F.col("rb.r").alias("r"), F.col("rb.b").alias("b")).agg(
        agg.alias("cnt")
    )


def cms_merge(*tables: DataFrame) -> DataFrame:
    """Union CMS counter-tables built with the SAME (depth, width):
    pointwise sum per (r, b)."""
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("r", "b").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    col: str | Column,
    depth: int = 4,
    width: int = 1024,
    out_col: str = "est",
) -> DataFrame:
    """Point-frequency estimates for ``probes``' values: min over the
    ``depth`` counters each value hashes to (absent counter == 0).
    Classic CMS guarantee: ``est >= true count`` always, and
    ``est <= true + e*N`` with probability ``1 - delta`` at
    ``width = ceil(e/ε)``, ``depth = ceil(ln 1/delta)``.

    The probe side explodes ``depth`` rows per value and joins the
    counter-table — broadcastable (<= depth*width rows), so
    estimating is map-side too.
    """
    c = F.col(col) if isinstance(col, str) else col
    name = col if isinstance(col, str) else "value"
    # probe under a reserved internal name: a probed column literally
    # named 'r'/'b'/'cnt' would collide with the sketch's own columns
    # in the join/groupBy (ADVICE r7) — rename back only on output
    probed = probes.select(c.alias("__cms_v")).dropDuplicates().select(
        "__cms_v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        (_row_hash(F.col("__cms_v"), r) % width).alias("b"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rb"),
    ).select("__cms_v", "rb.r", "rb.b")
    return (
        probed.join(F.broadcast(sketch), ["r", "b"], "left")
        .groupBy("__cms_v")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias(out_col))
        .withColumnRenamed("__cms_v", name)
    )


def cms_join_size_estimate(a: DataFrame, b: DataFrame) -> DataFrame:
    """Equi-join OUTPUT-CARDINALITY estimate from two CMS counter-tables
    built with the SAME (depth, width) over the two join keys — the
    classic sketch inner-product estimator (AGMS / Cormode &
    Muthukrishnan 2005 §4.2): the true join size is
    ``sum_v count_a(v) * count_b(v)``, and each hash row's bucket-wise
    inner product ``sum_b cnt_a[r,b] * cnt_b[r,b]`` OVERCOUNTS it only
    by colliding cross terms — so ``min over rows >= true`` always,
    within ``e * N_a * N_b`` at ``width = ceil(e/ε)`` with probability
    ``1 - delta`` at ``depth = ceil(ln 1/delta)``.

    One row ``(est: bigint)``, computed from two <= depth*width-row
    frames: the planner-style "how badly does this join blow up"
    question answered BEFORE committing a 100 TB shuffle, from sketches
    that were built per shard/day and merged (:func:`cms_merge`) — the
    whole decision never touches the data. Pure BIGINT products, so a
    SQL oracle replays the estimate bit-for-bit.
    """
    pa = a.select("r", "b", F.col("cnt").alias("__ca"))
    pb = b.select("r", "b", F.col("cnt").alias("__cb"))
    ip = pa.join(pb, ["r", "b"]).groupBy("r").agg(
        F.sum(F.col("__ca") * F.col("__cb")).cast("bigint").alias("ip")
    )
    # a hash row with NO shared buckets has inner product 0 (and then
    # the true join size must be 0, since every row's ip >= true) — an
    # inner join would drop that row and the min would overestimate;
    # rebuild the row axis from both sketches and default missing to 0
    rows = pa.select("r").union(pb.select("r")).distinct()
    per_row = rows.join(ip, "r", "left").select(
        F.coalesce(F.col("ip"), F.lit(0)).cast("bigint").alias("ip")
    )
    return per_row.agg(
        F.coalesce(F.min("ip"), F.lit(0)).cast("bigint").alias("est")
    )


def cms_total(sketch: DataFrame) -> DataFrame:
    """Total item count ``N`` recovered from the sketch itself: every
    item increments exactly one bucket of row 0, so the sum of row 0's
    counters IS the stream length. One-row DataFrame ``(n: long)`` —
    no second pass over the data, works after any number of merges."""
    return sketch.filter(F.col("r") == 0).agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("n")
    )


def cms_heavy_hitters(
    sketch: DataFrame,
    candidates: DataFrame,
    col: str | Column,
    phi_num: int,
    phi_den: int,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Values whose estimated frequency is at least ``phi_num/phi_den``
    of the stream length ``N`` (recovered from the sketch, not the
    data): ``est * phi_den >= N * phi_num`` — the threshold compare is
    pure BIGINT arithmetic, so Spark and a SQL oracle agree bit-for-bit
    (no float phi).

    Guarantee (one-sided, from ``est >= true``): every TRUE
    phi-heavy-hitter among the candidates is returned — misses are
    impossible; extras are values the CMS collision error lifted over
    the bar, bounded by the classic ``e*N/width`` term. Candidate
    values not present in the stream get ``est`` = their collision
    floor, so feed candidates from the data (or a superset — harmless).

    Scale: the probe side is |distinct candidates| x depth rows against
    a broadcast counter-table, then one integer filter — no shuffle of
    anything data-sized; the sketch + threshold carry the whole
    decision.
    """
    name = col if isinstance(col, str) else "value"
    est = cms_estimate(sketch, candidates, col, depth=depth, width=width)
    n = cms_total(sketch)
    return (
        est.crossJoin(F.broadcast(n))
        .filter(F.col("est") * F.lit(phi_den) >= F.col("n") * F.lit(phi_num))
        .select(name, "est", "n")
    )


# ------------------------------------------------- log-histogram (quantiles)


def loghist_table(df: DataFrame, col: str | Column) -> DataFrame:
    """Quantile summary of a NON-NEGATIVE integer column as a
    ``(b, cnt)`` log-histogram: bucket ``b`` = bit-length of the value
    (``length(bin(v))``; 0 and 1 share bucket 1), so bucket ``b``
    covers ``[2^(b-1), 2^b - 1]`` and the whole table is at most 63
    rows whatever the data. The deterministic, persistable, mergeable
    sibling of ``percentile_approx`` — same motivation as
    :func:`cms_table` vs ``approx_count_distinct``: build per
    shard/day, merge = pointwise sum (exact), estimate anywhere.

    A negative value fails the job (``raise_error`` folded into the
    bucket expression) rather than silently corrupting the bucket
    order — scale non-positive domains into >= 0 first.
    """
    c = F.col(col) if isinstance(col, str) else col
    v = c.cast("bigint")
    bucket = F.when(v >= 0, F.length(F.bin(v)).cast("int")).otherwise(
        F.raise_error(
            F.concat(F.lit("loghist_table: negative value "), v.cast("string"))
        ).cast("int")
    )
    return df.select(bucket.alias("b")).groupBy("b").agg(
        F.count("*").alias("cnt")
    )


def loghist_merge(*tables: DataFrame) -> DataFrame:
    """Union log-histograms: pointwise sum per bucket — exact, so
    per-shard build + merge == one whole-corpus build."""
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("b").agg(F.sum("cnt").alias("cnt"))


def loghist_bucket(
    df: DataFrame,
    col: str | Column,
    quantiles: list[tuple[int, int]],
    bucket_col: str = "bucket",
) -> DataFrame:
    """Quantile bucketing WITHOUT a global sort — the scale path the
    ``ntile_deciles_orders`` description promises: exact ntile needs a
    total order (one task sorts the whole input; see the plan lint's
    GLOBAL_WINDOW_ALLOWED note), while this derives cutpoints from the
    <= 63-row log-histogram and assigns each row's bucket with a pure
    expression against the broadcast cutpoint array. Plan shape: one
    63-row aggregate + a BroadcastNestedLoopJoin of ONE row — the data
    never shuffles, never sorts, and bucketing composes with
    per-shard sketch merges (:func:`loghist_merge`), which ntile
    can't.

    Bucket rule: ``1 + #distinct cutpoints strictly below v`` — rows
    equal to a cutpoint fall in the LOWER bucket; duplicate cutpoint
    estimates (coarse buckets at low quantile spread) are deduped so
    bucket ids stay dense. Same factor-of-2 coarseness contract as
    :func:`loghist_quantiles`: bucket POPULATIONS are approximate
    (boundaries are bucket upper bounds), bucket MEMBERSHIP is exact
    and deterministic given the sketch — replayable bit-for-bit by a
    SQL oracle, unlike ntile-by-percentile_approx whose sketch is
    opaque and engine-specific.

    ``col`` must be the same non-negative BIGINT-castable expression a
    :func:`loghist_table` build would see.
    """
    c = F.col(col) if isinstance(col, str) else col
    v = c.cast("bigint")
    cut = loghist_quantiles(loghist_table(df, col), quantiles)
    cuts = cut.agg(F.array_sort(F.collect_set("est")).alias("__cuts"))
    return (
        df.crossJoin(F.broadcast(cuts))
        .withColumn(
            bucket_col,
            (
                F.lit(1)
                + F.size(F.filter(F.col("__cuts"), lambda x: x < v))
            ).cast("int"),
        )
        .drop("__cuts")
    )


def kmv_table(
    df: DataFrame, col: str | Column, k: int = 256, bits: int = 32
) -> DataFrame:
    """Distinct-count summary of ``col`` as a KMV (k-minimum-values)
    sketch (Bar-Yossef et al. 2002; Beyer et al. 2007): the ``k``
    smallest DISTINCT ``bits``-bit salted-md5 hashes of the values, as
    a one-column ``(hv: bigint)`` table with at most ``k`` rows.

    ``bits`` picks the hash width: 32 (default) is fine to ~10^8
    distincts (conflation term n²/2³³ stays under the estimator
    noise); 48 is the 100 TB scale path — collision-free in practice
    to ~10^10 distincts, still pure BIGINT end-to-end (measured
    head-to-head in SCALE.md / tools/scale_probe_sketch.py). Pass the
    SAME bits to :func:`kmv_distinct_estimate` /
    :func:`kmv_intersect_estimate`.

    The deterministic, oracle-replayable sibling of Spark's opaque
    ``hll_sketch_agg`` binary (see ``hll_sketch_rollup_users``): the
    same bucket hash every sketch here uses, so a SQL engine replays
    the exact same ``k`` hashes digit-by-digit and the integer
    estimate matches bit-for-bit.

    Mergeable EXACTLY: every member of the union's k-min set is within
    its own shard's k-min set, so
    ``kmv(A ∪ B) == merge(kmv(A), kmv(B))`` — build per shard/day,
    merge cheap, estimate anywhere (:func:`kmv_merge`).

    Scale: the hash projection is map-side; the distinct's partial
    HashAggregate collapses duplicates before the Exchange, so the
    shuffle carries 8-byte distinct hashes only; the top-k is a
    TakeOrderedAndProject (per-partition k-min, then a k*partitions
    merge) — nothing data-sized is sorted globally.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        df.select(_row_hash(c, 0, bits=bits).alias("hv"))
        .distinct()
        .orderBy("hv")
        .limit(k)
    )


def kmv_merge(*tables: DataFrame, k: int = 256) -> DataFrame:
    """Union KMV sketches built with the SAME ``k``: distinct hashes,
    keep the ``k`` smallest. Exact — equals the whole-corpus build."""
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.distinct().orderBy("hv").limit(k)


def kmv_distinct_estimate(
    sketch: DataFrame, k: int = 256, bits: int = 32
) -> DataFrame:
    """Distinct-count estimate from a KMV sketch as a one-row
    ``(n_seen, kth, est)`` DataFrame, in pure BIGINT arithmetic so a
    SQL oracle agrees bit-for-bit:

    - ``n_seen < k``  →  the sketch holds EVERY distinct hash, so the
      answer is exact: ``est = n_seen``.
    - otherwise       →  the classic unbiased KMV estimator
      ``est = (k-1) * 2^bits div kth`` where ``kth`` is the k-th
      smallest hash (the sketch's max) — the k-1 points before it are
      uniform on [0, kth), so spacing ~ kth/(k-1). Relative error
      ~ 1/sqrt(k-2) (6.3% at k=256, 3.1% at k=1024).

    ``bits`` must match the build (32 default; 48 = the large-n scale
    path, see :func:`kmv_table`). The estimator constant
    ``(k-1) * 2^bits`` must fit a signed 64-bit int — at bits=48 that
    caps k at 2^15, far above any useful accuracy point.
    """
    if (k - 1) * (1 << bits) >= 1 << 63:
        raise ValueError(
            f"(k-1)*2^{bits} overflows BIGINT; lower k (max {(1 << 63) // (1 << bits)})"
        )
    agg = sketch.agg(
        F.count("*").cast("bigint").alias("n_seen"),
        F.coalesce(F.max("hv"), F.lit(0)).cast("bigint").alias("kth"),
    )
    # `div` (integral division), NOT `/` + cast: bigint `/` is double
    # true-division whose rounding can cross an integer boundary — the
    # oracle's `//` would then disagree by one.
    ratio = F.expr(
        f"cast({(k - 1) * (1 << bits)} as bigint)"
        " div greatest(kth, cast(1 as bigint))"
    )
    return agg.select(
        "n_seen",
        "kth",
        F.when(F.col("n_seen") < k, F.col("n_seen"))
        .otherwise(ratio)
        .cast("bigint")
        .alias("est"),
    )


def kmv_intersect_estimate(
    a: DataFrame, b: DataFrame, k: int = 256, bits: int = 32
) -> DataFrame:
    """Theta-sketch-style set-overlap estimate from two KMV sketches
    built with the same ``k`` (the KMV synopsis *is* a theta sketch
    with theta = kth hash): one row
    ``(matches, k_used, union_est, inter_est)``.

    The merged sketch's ``k_used`` smallest union hashes are a uniform
    sample of A ∪ B; ``matches`` of them lie in BOTH input sketches,
    so ``|A ∩ B| ≈ matches/k_used * |A ∪ B|`` — computed as the pure
    BIGINT ``(matches * union_est) div k_used`` (oracle-exact, no
    float Jaccard). Standard error ~ sqrt(J(1-J)/k).

    Everything joins over <= k-row frames — broadcast both ways,
    nothing data-sized moves.
    """
    x = kmv_merge(a, b, k=k)
    in_both = (
        x.join(F.broadcast(a), "hv", "left_semi")
        .join(F.broadcast(b), "hv", "left_semi")
    )
    est = kmv_distinct_estimate(x, k=k, bits=bits).select(
        F.col("n_seen").alias("k_used"), F.col("est").alias("union_est")
    )
    m = in_both.agg(F.count("*").cast("bigint").alias("matches"))
    return (
        m.crossJoin(F.broadcast(est))
        .select(
            "matches",
            "k_used",
            "union_est",
            F.expr(
                "(matches * union_est)"
                " div greatest(k_used, cast(1 as bigint))"
            )
            .cast("bigint")
            .alias("inter_est"),
        )
    )


def kmv_diff_estimate(
    a: DataFrame, b: DataFrame, k: int = 256, bits: int = 32
) -> DataFrame:
    """Theta-sketch-style set-DIFFERENCE estimate ``|A \\ B|`` from two
    KMV sketches built with the same ``k`` — completing the set algebra
    next to :func:`kmv_intersect_estimate` (the union estimate is the
    merged sketch's own :func:`kmv_distinct_estimate`): one row
    ``(in_a_only, k_used, union_est, diff_est)``.

    Same sampling argument: the merged sketch's ``k_used`` smallest
    union hashes are a uniform sample of A ∪ B; ``in_a_only`` of them
    lie in A's sketch but not B's, so ``|A \\ B| ≈ in_a_only/k_used *
    |A ∪ B|`` — computed as pure BIGINT ``(in_a_only * union_est) div
    k_used``. Everything joins over <= k-row broadcast frames.
    """
    x = kmv_merge(a, b, k=k)
    a_only = (
        x.join(F.broadcast(a), "hv", "left_semi")
        .join(F.broadcast(b), "hv", "left_anti")
    )
    est = kmv_distinct_estimate(x, k=k, bits=bits).select(
        F.col("n_seen").alias("k_used"), F.col("est").alias("union_est")
    )
    m = a_only.agg(F.count("*").cast("bigint").alias("in_a_only"))
    return (
        m.crossJoin(F.broadcast(est))
        .select(
            "in_a_only",
            "k_used",
            "union_est",
            F.expr(
                "(in_a_only * union_est)"
                " div greatest(k_used, cast(1 as bigint))"
            )
            .cast("bigint")
            .alias("diff_est"),
        )
    )


def kmv_grouped_table(
    df: DataFrame,
    key: str,
    col: str | Column,
    k: int = 256,
    bits: int = 32,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Per-key KMV sketches as a ``(key, hv)`` table — at most ``k``
    rows per key: the rollup form of :func:`kmv_table`, the
    deterministic/replayable twin of ``hll_sketch_agg`` partials in
    ``hll_sketch_rollup_users``. Build per shard/day, persist as a
    plain table ANY engine can read, merge per key with
    :func:`kmv_grouped_merge` (exact), estimate per key with
    :func:`kmv_grouped_estimate`.

    Scale: ``dropDuplicates`` partial-aggregates (key, hash) map-side,
    so the one Exchange carries fixed-width distinct pairs; the k-min
    per key is a rank window, never a per-key ``collect_set`` (which
    would buffer a key's ENTIRE distinct set on one executor — the
    thing this sketch exists to avoid). The window still SORTS each
    key in a single task (disk-backed, but one thread), so a hot key
    with 10^9 distincts serializes on that task: pass ``salt_buckets``
    (e.g. 64) for the skew path — stage 1 ranks within
    ``(key, hv % S)`` so the hot key's distinct hashes split across
    ``S`` independent sort tasks, keeping <= k per bucket; stage 2
    ranks the <= S*k survivors per key. Output is IDENTICAL to the
    unsalted build: any hash among a key's k smallest overall has
    fewer than k smaller hashes in the WHOLE key, hence fewer than k
    in its own bucket — stage 1 can never drop a final survivor
    (property-tested; wall-clock measured in SCALE.md /
    tools/scale_probe_sketch.py).
    """
    from pyspark.sql import Window

    c = F.col(col) if isinstance(col, str) else col
    pairs = df.select(
        F.col(key), _row_hash(c, 0, bits=bits).alias("hv")
    ).dropDuplicates([key, "hv"])
    if salt_buckets is not None and salt_buckets > 1:
        wb = Window.partitionBy(
            key, F.pmod(F.col("hv"), F.lit(salt_buckets))
        ).orderBy("hv")
        pairs = (
            pairs.withColumn("__bn", F.row_number().over(wb))
            .filter(F.col("__bn") <= k)
            .drop("__bn")
        )
    w = Window.partitionBy(key).orderBy("hv")
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_grouped_merge(*tables: DataFrame, key: str, k: int = 256) -> DataFrame:
    """Union per-key KMV tables built with the SAME (k, bits): distinct
    per (key, hv), keep each key's k smallest. Exact — equals the
    whole-corpus build per key (same argument as :func:`kmv_merge`,
    applied keywise)."""
    from pyspark.sql import Window

    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    w = Window.partitionBy(key).orderBy("hv")
    return (
        out.dropDuplicates([key, "hv"])
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_grouped_estimate(
    sketch: DataFrame, key: str, k: int = 256, bits: int = 32
) -> DataFrame:
    """Per-key distinct estimates from a grouped KMV table: one row
    ``(key, n_seen, kth, est)`` per key, same pure-BIGINT rule as
    :func:`kmv_distinct_estimate` (exact below k, ``(k-1)*2^bits div
    kth`` at k). The aggregate is over <= k rows per key — sketch-
    sized, whatever the data was."""
    if (k - 1) * (1 << bits) >= 1 << 63:
        raise ValueError(
            f"(k-1)*2^{bits} overflows BIGINT; lower k (max {(1 << 63) // (1 << bits)})"
        )
    agg = sketch.groupBy(key).agg(
        F.count("*").cast("bigint").alias("n_seen"),
        F.coalesce(F.max("hv"), F.lit(0)).cast("bigint").alias("kth"),
    )
    ratio = F.expr(
        f"cast({(k - 1) * (1 << bits)} as bigint)"
        " div greatest(kth, cast(1 as bigint))"
    )
    return agg.select(
        key,
        "n_seen",
        "kth",
        F.when(F.col("n_seen") < k, F.col("n_seen"))
        .otherwise(ratio)
        .cast("bigint")
        .alias("est"),
    )


def loghist_quantiles(
    sketch: DataFrame, quantiles: list[tuple[int, int]]
) -> DataFrame:
    """Quantile estimates from the log-histogram: for each
    ``(q_num, q_den)`` ratio, the answer is the upper bound
    ``2^b - 1`` of the first bucket whose cumulative count reaches
    ``ceil(q * N)`` — found with the integer compare
    ``cum * q_den >= N * q_num`` (no float q, so a SQL oracle agrees
    bit-for-bit). Guarantee: ``true_quantile <= est < 2 * true + 1`` for
    ``true >= 1``, and ``est <= 1`` at ``true == 0`` (0 and 1 share
    bucket 1 — property-tested edge)
    (the bucket brackets the true value within a factor of 2 — the
    price of a 63-row summary; tighten by bucketing a scaled column).

    The whole computation is over the <= 63-row sketch: one window
    cumulative sum, a broadcast join against the quantile list, one
    min per ratio. Nothing data-sized moves.

    The total ``N`` rides the SAME window frame as the cumulative sum
    (unbounded-both-sides) instead of a separate ``agg`` — round 13:
    consuming ``sketch`` twice re-executed its whole upstream subtree
    (an uncached sketch straight off :func:`loghist_table` re-scanned
    and re-aggregated the full input for the one-row total; see
    spark_optimization_guide §2.4 — remove recomputed passes). Both
    window expressions share one sort of the <= 63 sketch rows, the
    values are identical, and an empty sketch still yields an empty
    result exactly as the old inner join did.
    """
    from pyspark.sql import Window

    spark = sketch.sparkSession
    w_cum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = sketch.select(
        "b",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).cast("bigint").alias("n"),
    )
    qs = local_frame(
        spark, [(int(a), int(c)) for a, c in quantiles], "q_num int, q_den int"
    )
    picked = (
        cum.crossJoin(F.broadcast(qs))
        .filter(F.col("cum") * F.col("q_den") >= F.col("n") * F.col("q_num"))
        .groupBy("q_num", "q_den")
        .agg(F.min("b").alias("b"))
    )
    return picked.select(
        "q_num",
        "q_den",
        _bucket_upper(F.col("b")).alias("est"),
    )


def loghist_grouped_table(
    df: DataFrame, key: str, col: str | Column
) -> DataFrame:
    """Per-key log-histograms as a ``(key, b, cnt)`` table — at most 63
    rows per key whatever the data: the rollup form of
    :func:`loghist_table`, completing the grouped sketch family next to
    :func:`kmv_grouped_table` (distinct) and the HLL rollup
    (``hll_sketch_rollup_users``). The curation use-case is per-domain
    length distributions: build per shard/day, merge exactly with
    :func:`loghist_grouped_merge` (pointwise sum per key), answer
    per-key quantiles anywhere with :func:`loghist_grouped_quantiles`.

    Scale: ONE groupBy shuffle whose partial HashAggregate collapses to
    <= 63 rows per key map-side — hot keys cost the same as cold ones
    (the histogram is the skew guard; contrast the grouped-KMV window,
    which needs the salted path for hot keys).
    """
    c = F.col(col) if isinstance(col, str) else col
    v = c.cast("bigint")
    bucket = F.when(v >= 0, F.length(F.bin(v)).cast("int")).otherwise(
        F.raise_error(
            F.concat(
                F.lit("loghist_grouped_table: negative value "),
                v.cast("string"),
            )
        ).cast("int")
    )
    return (
        df.select(F.col(key), bucket.alias("b"))
        .groupBy(key, "b")
        .agg(F.count("*").alias("cnt"))
    )


def loghist_grouped_merge(*tables: DataFrame, key: str) -> DataFrame:
    """Union per-key log-histograms: pointwise sum per (key, bucket) —
    exact, so per-shard build + merge == one whole-corpus build."""
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy(key, "b").agg(F.sum("cnt").alias("cnt"))


def loghist_grouped_quantiles(
    sketch: DataFrame, key: str, quantiles: list[tuple[int, int]]
) -> DataFrame:
    """Per-key quantile estimates from a grouped log-histogram: one row
    ``(key, q_num, q_den, est)`` per key x ratio, same pure-BIGINT
    first-bucket-reaching-ceil(q*N) rule (and the same
    ``true <= est < 2*true + 1``-for-``true >= 1`` bracket, ``est <= 1``
    at zero) as :func:`loghist_quantiles`.
    The cumulative window partitions BY KEY over <= 63 rows per key —
    sketch-sized, never the single-task global window the plan lint
    bans. The per-key total ``N`` rides the same per-key window frame
    (unbounded-both-sides) instead of a separate ``groupBy`` + join —
    round 13, same reasoning as :func:`loghist_quantiles`: the second
    consumption of ``sketch`` re-executed its whole upstream subtree
    (a full input re-scan when the sketch is uncached) AND paid a join;
    one Window node now computes both, values identical (every key in
    ``cum`` had a matching ``n`` row, so the old inner join never
    dropped rows).
    """
    from pyspark.sql import Window

    spark = sketch.sparkSession
    base = (
        Window.partitionBy(key).orderBy("b")
    )
    cum = sketch.select(
        key,
        "b",
        F.sum("cnt")
        .over(base.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("cnt")
        .over(
            base.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("bigint")
        .alias("n"),
    )
    qs = local_frame(
        spark, [(int(a), int(c)) for a, c in quantiles], "q_num int, q_den int"
    )
    picked = (
        cum.crossJoin(F.broadcast(qs))
        .filter(F.col("cum") * F.col("q_den") >= F.col("n") * F.col("q_num"))
        .groupBy(key, "q_num", "q_den")
        .agg(F.min("b").alias("b"))
    )
    return picked.select(
        key,
        "q_num",
        "q_den",
        _bucket_upper(F.col("b")).alias("est"),
    )


# ------------------------------------------- KLL-style rank sketch (round 8)


_KLL_BITS = 48


def _kll_level_power(h: Column, bits: int = _KLL_BITS) -> Column:
    """``2^(trailing zeros of h)`` — the row's geometric LEVEL, encoded
    as the largest power of two dividing its hash (``h & -h``; ``h==0``
    maps to ``2^bits``). A row survives level ``L`` iff
    ``h % 2^L == 0`` iff ``p >= 2^L`` — KLL's per-level coin flips with
    the coins replaced by key-hash bits, so both Spark and a SQL oracle
    flip them identically."""
    return (
        F.when(h == 0, F.lit(1 << bits))
        .otherwise(h.bitwiseAND(h * F.lit(-1)))
        .cast("bigint")
    )


def _kll_meta(rows: DataFrame, k: int, group_cols: tuple = ()) -> DataFrame:
    """(n, lvl) per group (one global row when ``group_cols`` is
    empty): ``lvl`` = smallest level whose survivor count
    ``S(L) = #rows with trailing-zeros >= L`` fits in ``k``. Computed
    from the <= 49-row LEVEL HISTOGRAM + a suffix cumulative sum —
    S is monotone and steps only at present levels, so the answer is
    ``max(l+1 where S(l) > k)`` or 0 — instead of bits+1 wide
    conditional aggregates (that version worked but generated a
    49-case codegen blob measured at ~5 s of compile time per plan).
    Round 14: the suffix cumulative sum runs as an in-row ``aggregate``
    fold over the level-descending histogram ARRAY inside the same
    grouped aggregate that sums ``n`` — one aggregate instead of
    window + re-aggregate, dropping the per-group Sort+Window (and the
    global case's single-partition window exchange). Because levels
    descend and the running sum only grows, the first fold step whose
    running sum exceeds ``k`` carries the LARGEST qualifying ``l`` —
    exactly the window version's ``max(l+1 where S(l) > k)``; no step
    qualifying leaves the fold's 0, the old ``coalesce(.., 0)``. The
    histogram array is <= bits+1 = 49 elements per group — sketch-
    sized, never data."""
    lv = (F.length(F.bin(F.col("p"))) - 1).cast("int")
    hist = rows.groupBy(*group_cols, lv.alias("l")).agg(F.count("*").alias("cnt"))
    agg = hist.groupBy(*group_cols).agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.reverse(F.array_sort(F.collect_list(F.struct("l", "cnt")))).alias(
            "__hl"
        ),
    )
    lvl = F.aggregate(
        F.col("__hl"),
        F.struct(
            F.lit(0).cast("bigint").alias("s"), F.lit(0).cast("int").alias("lvl")
        ),
        lambda acc, x: F.struct(
            (acc["s"] + x["cnt"]).alias("s"),
            F.when(
                (acc["lvl"] == 0) & (acc["s"] + x["cnt"] > F.lit(k)),
                x["l"] + 1,
            )
            .otherwise(acc["lvl"])
            .cast("int")
            .alias("lvl"),
        ),
    )["lvl"]
    return agg.select(*group_cols, "n", lvl.cast("int").alias("lvl"))


def kll_table(
    df: DataFrame,
    col: str | Column,
    key: str | Column,
    k: int = 1024,
    bits: int = _KLL_BITS,
) -> DataFrame:
    """Rank/quantile summary of ``col`` as a deterministic KLL-style
    level sample: a ``(v, p, n, lvl)`` table of at most ``k`` rows.

    KLL (Karnin-Lang-Liberty 2016) keeps a geometric hierarchy of
    buffers where compaction flips a coin per pair and keeps one item
    with doubled weight. This is the deterministic, SQL-replayable
    version of exactly that mechanism: row ``r`` survives to level
    ``L`` iff its salted-md5 key hash has ``L`` trailing zero bits
    (probability ``2^-L`` — the coin flips are the hash bits, the same
    discipline that makes KMV's estimate replay bit-for-bit in DuckDB),
    and the sketch stores the survivors of the smallest level whose
    survivor count fits in ``k``. Every survivor represents ``2^lvl``
    rows; rank estimates follow from the weighted cumulative count plus
    the EXACT total ``n`` carried on every row.

    ``key`` names a per-row identity column (a primary key / doc id —
    every table this engine persists has one): hashing the KEY makes
    the sample uniform over ROWS (duplicate values sampled
    independently), deterministic across retries/shards, and
    replayable by the oracle. Guarantees: survivors are a uniform
    ``2^-lvl`` row sample with expected size in ``(k/2, k]``; rank
    error at quantile q is ``O(sqrt(q(1-q)/k))`` w.h.p. — ~1.6% of N
    at k=1024, q=0.5 — versus loghist_table's factor-of-2 VALUE
    bracket (measured head-to-head in SCALE.md). Coarser than true
    KLL's O(1/k) for equal k — the price of deterministic replay —
    but tightened by raising k, and the whole sketch is still
    <= k rows.

    EXACTLY mergeable (:func:`kll_merge`): the level-L survivor set is
    a pure function of the key hashes, and every union-level survivor
    is within each shard's stored set (shard levels are never above
    the union's), so ``merge(kll(A), kll(B)) == kll(A ∪ B)`` — the
    same build-per-shard / merge-anywhere contract as the rest of the
    sketch family (KMV/CMS/Bloom/loghist), persistable as a snapshot
    table.

    Scale: one pass computing ``bits+1`` conditional partial counts
    (collapses map-side to one row), then one filter pass against the
    broadcast 1-row threshold — no sort, no global window; the shuffle
    carries <= k survivor rows plus one metadata row.
    """
    c = F.col(col) if isinstance(col, str) else col
    kc = F.col(key) if isinstance(key, str) else key
    h = _row_hash(kc, "kll", bits=bits)
    rows = df.select(
        c.cast("bigint").alias("v"), _kll_level_power(h, bits).alias("p")
    )
    meta = _kll_meta(rows, k)
    return (
        rows.crossJoin(F.broadcast(meta))
        .filter(F.col("p") >= _shl1(F.col("lvl")))
        .select("v", "p", "n", "lvl")
    )


def kll_merge(*tables: DataFrame, k: int = 1024, bits: int = _KLL_BITS) -> DataFrame:
    """Union KLL level samples built with the SAME (key, k, bits):
    pool the survivors, re-pick the smallest level >= every input's
    level whose pooled survivor count fits in ``k``, re-filter. Because
    survivor sets are pure functions of the key hashes, the result is
    IDENTICAL to building one sketch over the concatenated inputs
    (asserted by tests/test_sketch.py) — per-shard build, merge
    anywhere. Inputs must be non-overlapping row sets (double-counting
    rows double-counts ``n``, same contract as every count-carrying
    sketch here). An EMPTY input sketch contributes nothing (its n was
    0 by construction)."""
    tagged = [
        t.select("v", "p", "n", "lvl", F.lit(i).alias("__t"))
        for i, t in enumerate(tables)
    ]
    pool = tagged[0]
    for t in tagged[1:]:
        pool = pool.unionByName(t)
    per_sketch = pool.groupBy("__t").agg(
        F.max("n").alias("n"), F.max("lvl").alias("lvl")
    )
    meta_in = per_sketch.agg(
        F.sum("n").cast("bigint").alias("n"), F.max("lvl").alias("maxlvl")
    )
    meta = meta_in.crossJoin(
        _kll_meta(pool.select("p"), k).select(F.col("lvl").alias("plvl"))
    ).select(
        "n",
        F.greatest(F.col("plvl"), F.col("maxlvl")).alias("lvl"),
    )
    return (
        pool.select("v", "p")
        .crossJoin(F.broadcast(meta))
        .filter(F.col("p") >= _shl1(F.col("lvl")))
        .select("v", "p", "n", "lvl")
    )


def kll_quantiles(
    sketch: DataFrame, quantiles: list[tuple[int, int]]
) -> DataFrame:
    """Quantile estimates from the KLL level sample: each survivor
    carries weight ``2^lvl``; the q-quantile estimate is the smallest
    survivor value whose weighted cumulative count reaches
    ``ceil(q*n)`` — the integer compare
    ``rank * 2^lvl * q_den >= n * q_num`` (no floats anywhere, so a
    SQL oracle replays it bit-for-bit; needs ``n * q_den < 2^63``).
    Output: one ``(q_num, q_den, est)`` row per EVERY requested ratio:
    when no survivor reaches the weighted rank (total survivor mass
    ``S * 2^lvl`` can fall short of ``n`` — the level filter discards
    real mass, so high quantiles like p99 hit this on ~40% of random
    datasets), the estimate CLAMPS to the maximum survivor value
    instead of silently dropping the row (round-9 ADVICE fix; the max
    survivor is the sketch's best upper-tail answer and keeps
    downstream consumers like :func:`kll_bucket` at the cutpoint
    count they asked for).

    The ranking happens INSIDE one sketch-sized aggregate (round 14):
    the survivors collapse to a sorted in-row array
    (``array_sort(collect_list(struct(v, p)))`` — the same (v, p)
    order the previous row_number window imposed, so ranks and
    therefore estimates are identical), and each requested ratio reads
    its estimate from that array with a ``filter``-by-rank expression.
    This removes the single-partition Window+Sort exchange, the
    broadcast cross join against a quantile table, and the final
    re-aggregation the round-13 shape paid — one aggregate over <= k
    rows is the whole plan (3 fewer Exchanges on the bench row). Rows
    with tied (v, p) get arbitrary relative ranks either way, and
    either order yields the same estimate (equal v). An EMPTY sketch
    still yields an empty result (the n IS NULL guard drops the
    aggregate's one all-null global row)."""
    agg = sketch.agg(
        F.array_sort(F.collect_list(F.struct("v", "p"))).alias("__s"),
        F.max("n").alias("n"),
        F.max("lvl").alias("lvl"),
    )
    # rank of element i (0-based) is i+1; reached <=>
    # rank * 2^lvl * q_den >= n * q_num — the identical pure-BIGINT
    # rule, evaluated per array element instead of per window row
    ests = F.array(
        *[
            F.struct(
                F.lit(int(qn)).alias("q_num"),
                F.lit(int(qd)).alias("q_den"),
                F.coalesce(
                    F.try_element_at(
                        F.filter(
                            F.col("__s"),
                            lambda x, i: (i + F.lit(1))
                            * _shl1(F.col("lvl"))
                            * F.lit(int(qd))
                            >= F.col("n") * F.lit(int(qn)),
                        ),
                        F.lit(1),
                    )["v"],
                    F.try_element_at(F.col("__s"), F.lit(-1))["v"],
                )
                .cast("bigint")
                .alias("est"),
            )
            for qn, qd in quantiles
        ]
    )
    return (
        agg.where(F.col("n").isNotNull())
        .select(F.explode(ests).alias("__q"))
        .select("__q.q_num", "__q.q_den", "__q.est")
    )


def kll_grouped_table(
    df: DataFrame,
    key: str,
    col: str | Column,
    row_key: str | Column,
    k: int = 256,
    bits: int = _KLL_BITS,
) -> DataFrame:
    """Per-key KLL level samples as one ``(key, v, p, n, lvl)`` table —
    <= k survivor rows PER KEY whatever the data: the rollup form of
    :func:`kll_table`, completing the grouped sketch family
    (grouped KMV / grouped loghist / HLL rollup). Build per shard/day,
    merge with :func:`kll_grouped_merge`, answer per-key quantiles
    anywhere with :func:`kll_grouped_quantiles`.

    Scale: ONE groupBy computing the per-key level counts (bits+1
    conditional sums collapse map-side), broadcast-sized per-key
    thresholds join back, filter. Hot keys cost one extra count column,
    never a blown bucket — the level threshold rises with the key's
    row count."""
    c = F.col(col) if isinstance(col, str) else col
    rk = F.col(row_key) if isinstance(row_key, str) else row_key
    h = _row_hash(rk, "kll", bits=bits)
    rows = df.select(
        F.col(key), c.cast("bigint").alias("v"), _kll_level_power(h, bits).alias("p")
    )
    meta = _kll_meta(rows, k, group_cols=(key,))
    return (
        rows.join(F.broadcast(meta), key)
        .filter(F.col("p") >= _shl1(F.col("lvl")))
        .select(key, "v", "p", "n", "lvl")
    )


def kll_grouped_quantiles(
    sketch: DataFrame, key: str, quantiles: list[tuple[int, int]]
) -> DataFrame:
    """Per-key quantile estimates from a grouped KLL sample: one
    ``(key, q_num, q_den, est)`` row per key x ratio — the same pure-
    BIGINT weighted-rank rule as :func:`kll_quantiles`, including the
    max-survivor clamp when no survivor reaches the weighted rank
    (round-9 ADVICE fix: every (key, ratio) pair always gets a row).
    Round 14: like :func:`kll_quantiles`, the per-key ranking happens
    inside one grouped aggregate (sorted in-row survivor array +
    filter-by-rank expressions — identical ranks, identical estimates)
    instead of a per-key window + broadcast quantile table + second
    aggregate; each key's array is <= k elements by construction."""
    agg = sketch.groupBy(key).agg(
        F.array_sort(F.collect_list(F.struct("v", "p"))).alias("__s"),
        F.max("n").alias("n"),
        F.max("lvl").alias("lvl"),
    )
    ests = F.array(
        *[
            F.struct(
                F.lit(int(qn)).alias("q_num"),
                F.lit(int(qd)).alias("q_den"),
                F.coalesce(
                    F.try_element_at(
                        F.filter(
                            F.col("__s"),
                            lambda x, i: (i + F.lit(1))
                            * _shl1(F.col("lvl"))
                            * F.lit(int(qd))
                            >= F.col("n") * F.lit(int(qn)),
                        ),
                        F.lit(1),
                    )["v"],
                    F.try_element_at(F.col("__s"), F.lit(-1))["v"],
                )
                .cast("bigint")
                .alias("est"),
            )
            for qn, qd in quantiles
        ]
    )
    return agg.select(F.col(key), F.explode(ests).alias("__q")).select(
        key, "__q.q_num", "__q.q_den", "__q.est"
    )


def kll_grouped_merge(
    *tables: DataFrame, key: str, k: int = 256, bits: int = _KLL_BITS
) -> DataFrame:
    """Union per-key KLL level samples built with the SAME (row key, k,
    bits): pool survivors per key, re-pick each key's level (>= every
    input's level for that key, pooled survivor count <= k), re-filter
    — per-key ``merge == whole-build`` EXACT identity by the same
    argument as :func:`kll_merge`, and both merge inputs are <= k rows
    per key, so the fold is sketch-sized whatever the stream volume."""
    tagged = [
        t.select(key, "v", "p", "n", "lvl", F.lit(i).alias("__t"))
        for i, t in enumerate(tables)
    ]
    pool = tagged[0]
    for t in tagged[1:]:
        pool = pool.unionByName(t)
    per_sketch = pool.groupBy(key, "__t").agg(
        F.max("n").alias("n"), F.max("lvl").alias("lvl")
    )
    meta_in = per_sketch.groupBy(key).agg(
        F.sum("n").cast("bigint").alias("n"), F.max("lvl").alias("maxlvl")
    )
    pooled = _kll_meta(pool.select(key, "p"), k, group_cols=(key,)).select(
        key, F.col("lvl").alias("plvl")
    )
    meta = meta_in.join(pooled, key).select(
        key, "n", F.greatest(F.col("plvl"), F.col("maxlvl")).alias("lvl")
    )
    return (
        pool.select(key, "v", "p")
        .join(F.broadcast(meta), key)
        .filter(F.col("p") >= _shl1(F.col("lvl")))
        .select(key, "v", "p", "n", "lvl")
    )


def kll_bucket(
    df: DataFrame,
    col: str | Column,
    key: str | Column,
    quantiles: list[tuple[int, int]],
    bucket_col: str = "bucket",
    k: int = 1024,
) -> DataFrame:
    """Quantile bucketing WITHOUT a global sort at KLL precision — the
    upgrade of :func:`loghist_bucket` (round 8): cutpoints come from
    the <= k-row KLL level sample (~1/sqrt(k) rank error, vs loghist's
    factor-of-2 bucket bounds), and each row's bucket is a pure
    expression against the broadcast cutpoint array. Same plan shape
    ntile can't match at scale: sketch aggregate + a 1-row broadcast
    NLJ — the data never shuffles, never sorts, and the cutpoints
    compose with per-shard sketch merges (:func:`kll_merge`).

    Same bucket rule as loghist_bucket: ``1 + #distinct cutpoints
    strictly below v`` (rows equal to a cutpoint fall in the LOWER
    bucket; duplicate cutpoint estimates dedup so ids stay dense) —
    deterministic given the sketch, replayable bit-for-bit by a SQL
    oracle."""
    c = F.col(col) if isinstance(col, str) else col
    v = c.cast("bigint")
    cut = kll_quantiles(kll_table(df, col, key, k=k), quantiles)
    cuts = cut.agg(F.array_sort(F.collect_set("est")).alias("__cuts"))
    return (
        df.crossJoin(F.broadcast(cuts))
        .withColumn(
            bucket_col,
            (
                F.lit(1)
                + F.size(F.filter(F.col("__cuts"), lambda x: x < v))
            ).cast("int"),
        )
        .drop("__cuts")
    )
