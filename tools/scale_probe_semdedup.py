#!/usr/bin/env python
"""Measured scaling for the round-5 additions: semantic_dedup (SemDeDup)
and BPE tokenizer training/encoding.

Replicates the sf0.1 fixtures with per-replica perturbed content (same
scheme as scale_probe_dedup: circular-shifted embeddings, word-suffix
tagged text so the vocabulary grows with the corpus), then times:

- semantic_dedup with the SemDeDup provisioning rule k ~ k0*sqrt(N):
  assignment work is rows*k = O(N^1.5) and intra-cluster pair work is
  O(N^2/k) = O(N^1.5) — balanced, never corpus-quadratic. A fixed k is
  ALSO probed at the largest factor to show the quadratic trap the rule
  avoids (mirrors the fixed-vs-adaptive LSH planes finding).
- bpe_train (word count shuffle + per-merge vocab passes) and
  bpe_encode (single corpus pass) at fixed 8 merges.

These runs time SemDeDup's distributed path (``driver_max_rows=0``).
``--tiers`` instead times, per factor and with the same sqrt-k rule
(``--k`` fixes k instead), three arms: the driver tier (its budget
raised so that no cap binds), the distributed path, and the default
budget (the tier, or above its caps the wasted probe plus the
distributed path). Arms alternate ``--repeats`` times (default 3);
it reports medians and checks that every arm returns the same rows.

    python tools/scale_probe_semdedup.py [factor ...]   # default: 1 8 32
    python tools/scale_probe_semdedup.py --tiers [--repeats R] [--k K] [factor ...]

``SPARK_GRAFT_SF_DIR`` picks the base tables (default sf0.1: 2,000
vectors; sf0.01 has 500), ``SPARK_GRAFT_CPUS`` the local cores
(default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from azure_etl_spark.session import session_builder  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def timed(action) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = action()
    return round(time.perf_counter() - t0, 2), out


def _alpha_tag(i: int) -> str:
    """Replica tag in [a-z]+ (build()'s '~r{i}' scheme would be rejected
    by word_frequencies' ^[a-z]+$ gate, freezing the vocabulary)."""
    s = ""
    i += 1
    while i:
        i, r = divmod(i, 26)
        s += chr(ord("a") + r)
    return s


def _alpha_perturbed_docs(spark, n: int):
    """Replica-suffixed words that STAY alphabetic, so the vocabulary
    (and therefore BPE's per-round working set) grows ~n-fold."""
    from azure_etl_spark.sources.files import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    parts = []
    for i in range(n):
        suf = "" if i == 0 else _alpha_tag(i)
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), r"\s+"),
                        lambda w: F.concat(w, F.lit(suf)),
                    ),
                    " ",
                ).alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(max(4, n)).localCheckpoint(eager=True)


def _replicated_embeddings(spark, n: int):
    from azure_etl_spark.sources.files import load_table
    from scale_probe_dedup import _shift_vec

    base = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    parts = [
        base.select(
            (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
            _shift_vec(F.col("embedding"), i).alias("embedding"),
        )
        for i in range(n)
    ]
    emb = parts[0]
    for p in parts[1:]:
        emb = emb.unionByName(p)
    return emb.repartition(max(4, n)).localCheckpoint(eager=True)


def probe_factor(spark, n: int, fixed_k: bool = False) -> dict:
    from azure_etl_spark.operators.similarity import semantic_dedup
    from azure_etl_spark.operators.tokenize import (
        bpe_encode,
        bpe_train,
        word_frequencies,
    )

    out: dict = {"factor": n}
    emb = _replicated_embeddings(spark, n)
    docs = _alpha_perturbed_docs(spark, n)
    out["doc_rows"] = docs.count()
    out["emb_rows"] = emb.count()

    k = 8 if fixed_k else max(8, int(8 * (n ** 0.5)))
    out["k"] = k
    t, _ = timed(
        lambda: semantic_dedup(
            emb, k=k, max_iter=3, threshold=0.95, driver_max_rows=0
        )
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    out["semantic_dedup_s"] = t

    t, wf = timed(lambda: word_frequencies(docs).localCheckpoint(eager=True))
    out["word_count_s"] = t
    out["vocab_rows"] = wf.count()
    t, trained = timed(lambda: bpe_train(wf, n_merges=8))
    out["bpe_train_s"] = t
    _, rounds = trained
    t, _ = timed(
        lambda: bpe_encode(docs, rounds)
        .select("doc_id", "n_bpe_tokens")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    out["bpe_encode_s"] = t
    return out


def probe_tiers(spark, n: int, repeats: int, k: int | None = None) -> dict:
    """Driver tier vs distributed path on the same replicated input."""
    from collections import Counter
    from statistics import median

    from azure_etl_spark.operators.similarity import semantic_dedup

    emb = _replicated_embeddings(spark, n)
    rows = emb.count()
    k = k or max(8, int(8 * (n ** 0.5)))
    # the tier arm's budget is large enough that none of its caps binds
    arms = {"tier": 64 * max(rows, 20_000), "dist": 0, "default": None}
    times: dict[str, list[float]] = {a: [] for a in arms}
    results = {}
    for r in range(repeats):
        order = list(arms) if r % 2 == 0 else list(arms)[::-1]
        for arm in order:
            kw = {} if arms[arm] is None else {"driver_max_rows": arms[arm]}
            t0 = time.perf_counter()
            out = semantic_dedup(emb, k=k, max_iter=3, threshold=0.95, **kw)
            out.write.format("noop").mode("overwrite").save()
            times[arm].append(round(time.perf_counter() - t0, 2))
            if r == 0:
                plan = out._jdf.queryExecution().analyzed().toString()
                results[arm] = ("LocalRelation" in plan, sorted(out.collect()))
    sizes = Counter(r["cid"] for r in results["dist"][1]).values()
    dim = len(emb.head()["embedding"])
    return {
        "factor": n, "emb_rows": rows, "k": k,
        "fit_work": rows * k * dim * 3,
        "pair_work": sum(s * s for s in sizes) * dim,
        **{f"{a}_s": median(ts) for a, ts in times.items()},
        "runs": times,
        "tier_engaged": results["tier"][0],
        "default_engaged": results["default"][0],
        "equal": results["tier"][1] == results["dist"][1] == results["default"][1],
    }


def main() -> None:
    args = sys.argv[1:]
    tiers = "--tiers" in args
    opts = {"--repeats": 3, "--k": None}
    for opt in opts:
        if opt in args:
            i = args.index(opt)
            opts[opt] = int(args[i + 1])
            del args[i : i + 2]
    factors = [int(a) for a in args if a != "--tiers"] or [1, 8, 32]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = session_builder(
        app_name="semdedup-scale-probe", master=f"local[{cpus}]"
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if tiers:
        for n in factors:
            out = probe_tiers(spark, n, opts["--repeats"], opts["--k"])
            print(json.dumps(out), flush=True)
        return
    rows = []
    for n in factors:
        rows.append(probe_factor(spark, n))
        print(json.dumps(rows[-1]))
    # the quadratic trap: fixed k at the largest factor
    trap = probe_factor(spark, factors[-1], fixed_k=True)
    trap["note"] = "fixed_k"
    print(json.dumps(trap))


if __name__ == "__main__":
    main()
