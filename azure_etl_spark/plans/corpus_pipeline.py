"""End-to-end training-corpus curation pipeline.

The medallion pipeline (plans/pipeline.py) is the reference's dataflow;
this is its LLM-training-data sibling: the standard curation funnel
(language gate -> quality gate -> exact dedup -> near-dup dedup ->
optional semantic dedup -> decontamination -> shard + pack) composed
from the engine's operators into one testable object. Every stage is
DataFrame -> DataFrame; per-stage survivor counts are recorded in
``stage_counts``. Stages whose output feeds MULTIPLE consumers are
persisted and counted (the count materializes the cache); single-
consumer boundaries (the row-local gates, decontamination) ride their
exact counts as Observation metrics on the next stage's job instead —
round 10 cut the funnel's driver-synchronized barrier count roughly in
half this way without changing any recorded value.

Scale shape per stage (details at the operators and SCALE.md):
- language / quality gates: map-only column predicates, no shuffle;
- exact dedup: one fixed-width shuffle keyed by md5(content);
- near-dup: MinHash band join (O(bands x docs)) + component resolution,
  the only super-linear stage, bounded by candidate pairs;
- decontamination: eval n-gram set is broadcast, train side never
  shuffles;
- shard+pack: deterministic md5 shard id (reproducible across runs and
  engines) + contiguous token-budget fill within each shard.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from azure_etl_spark.operators.curation import contamination_overlap, pack_token_budget
from azure_etl_spark.operators.dedup import (
    exact_text_dedup,
    minhash_near_dup_pairs,
    resolve_duplicate_clusters,
)
from azure_etl_spark.operators.sampling import deterministic_shard
from azure_etl_spark.operators.text import quality_score, token_count


_MEDIA_ROUTES = ("image/pnm", "audio/wav", "video/pnm-stream")


def _media_hasher(mtype: str):
    from azure_etl_spark.operators.audiohash import audio_perceptual_hash
    from azure_etl_spark.operators.imagehash import (
        image_perceptual_hash,
        video_pooled_dhash,
    )

    return {
        "image/pnm": image_perceptual_hash,
        "audio/wav": audio_perceptual_hash,
        "video/pnm-stream": video_pooled_dhash,
    }[mtype]


def _present_routes(media: DataFrame) -> tuple:
    """The known media types ACTUALLY present, via one column-pruned
    distinct over the (tiny-width) type column. Costs one cheap job;
    saves planning + codegen of the absent modalities' hash expression
    trees (the audio/video fingerprints are hundreds of codegen'd
    expressions each) — on a single-modality table that fixed cost
    dwarfed the data work (round 10). Falls back to the full route list
    only in the no-known-media case so callers still get a correctly
    typed empty frame."""
    present = {
        r["media_type"]
        for r in media.select("media_type").distinct().collect()
    }
    routes = tuple(m for m in _MEDIA_ROUTES if m in present)
    return routes or _MEDIA_ROUTES[:1]


def perceptual_hash_mixed(
    media: DataFrame,
    id_col: str = "doc_id",
    out_col: str = "__ph",
    routes: tuple | None = None,
) -> DataFrame:
    """(id_col, media_type, out_col) for a mixed-modality media table:
    each media_type routes to its perceptual hash (image dhash, audio
    Haitsma-Kalker fingerprint, video pooled-frame dhash). Unknown
    media types are ignored rather than failing (they simply never
    hash or pair); absent ones are pruned from the plan entirely.

    ``routes`` (round 13) declares the modalities present, skipping the
    ``_present_routes`` probe job — the declared-schema analogue for
    modality routing. The probe is one cheap-LOOKING distinct, but when
    ``media`` sits behind an opaque producer (a ``mapInPandas`` decoder
    / synthesizer), column pruning cannot reach inside it, so the probe
    EXECUTES the producer end-to-end once and the hash pass executes it
    again (spark_optimization_guide §4.1: opaque operations defeat
    pruning). A caller that knows its modalities pays one pass instead
    of two. A declared route absent from the data costs only its
    (empty) plan branch; media of an UNDECLARED type is ignored —
    exactly as an unknown type is — so declare every type you want
    paired."""
    out: DataFrame | None = None
    for mtype in routes if routes is not None else _present_routes(media):
        if mtype not in _MEDIA_ROUTES:
            raise ValueError(
                f"unknown media route {mtype!r}; known: {_MEDIA_ROUTES}"
            )
        part = media.filter(F.col("media_type") == mtype).select(id_col, "media")
        hashed = _media_hasher(mtype)(part, "media", out_col).select(
            id_col, F.lit(mtype).alias("media_type"), out_col
        )
        out = hashed if out is None else out.unionByName(hashed)
    return out


def media_near_dup_pairs(
    media: DataFrame, id_col: str = "doc_id", routes: tuple | None = None
) -> DataFrame:
    """(id_a, id_b, hamming) near-dup pairs across a mixed-modality
    media table (doc_id, media, media_type): each modality runs its own
    perceptual hash (absent modalities pruned from the plan), then ONE
    shared pigeonhole chunk join with ``media_type`` in the candidate
    key — pairs never cross modalities (a WAV cannot near-dup a PNM),
    enforced by the scoped join key instead of a join per modality
    (same pairs, one self-join instead of three)."""
    from azure_etl_spark.operators.imagehash import hash64_near_dup_pairs

    hashed = perceptual_hash_mixed(
        media, id_col=id_col, out_col="__ph", routes=routes
    )
    return hash64_near_dup_pairs(
        hashed, id_col, "__ph", scope_cols=("media_type",)
    ).select("id_a", "id_b", "hamming")


def media_near_dup_keep_best(
    media: DataFrame,
    id_col: str = "doc_id",
    keep_by: "F.Column | None" = None,
) -> DataFrame:
    """Resolve media near-dup GROUPS to their best member — the media
    twin of the text side's quality-aware canonical keep
    (``operators/dedup.resolve_duplicate_clusters``, round-7; VERDICT
    r6 #2). Pairs come from :func:`media_near_dup_pairs` (per-modality
    perceptual hash + pigeonhole chunk join), components from the same
    Pregel min-label propagation the text path uses, and the surviving
    representative is the argmax of ``keep_by`` (ties to lowest id) —
    NOT the lowest id, which over-drops chains (a~b, b~c, a!~c under
    keep-min loses both b and c even though c is no dup of a; the
    component resolution keeps one member per CHAIN instead).

    ``keep_by`` defaults to payload byte size (``length(media)`` — the
    highest-resolution/least-truncated copy); pass any score column
    over ``media``'s columns (e.g. ``image_luminance_sum``'s output)
    for a content-aware choice. Cost beyond pair mining: component
    rounds over pair ids only + one argmax over cluster members —
    payloads never shuffle.
    """
    from azure_etl_spark.operators.dedup import resolve_duplicate_clusters

    pairs = media_near_dup_pairs(media, id_col=id_col)
    if keep_by is None:
        keep_by = F.length(F.col("media"))
    return resolve_duplicate_clusters(media, pairs, id_col=id_col, keep_by=keep_by)


@dataclass
class CurationPipeline:
    """Curation funnel over a (doc_id, text, lang, ...) corpus."""

    target_langs: tuple = ("en", "es", "fr", "de", "zh")
    min_quality: float = 0.35
    near_dup_threshold: float = 0.6
    contamination_ngram: int = 8
    n_shards: int = 8
    token_budget: int = 512
    # semantic dedup (SemDeDup) — active when run() receives embeddings.
    # None (default) = the paper's sqrt rule, k = max(8, ceil(sqrt(n)))
    # over the surviving-doc count: SemDeDup's pair stage is Σ(cluster²),
    # so a FIXED k makes it quadratic in corpus size (measured 7.4x cost
    # at 10x docs with k=8, round 10) while sqrt-scaled k keeps average
    # cluster size ~sqrt(n) and pair work ~n^1.5. Pass an int to pin k.
    semantic_k: int | None = None
    semantic_threshold: float = 0.95
    # optional context-window chunking before shard+pack (the unit that
    # is packed becomes the chunk, not the document); stride defaults to
    # chunk_words (no overlap) when unset
    chunk_words: int | None = None
    chunk_stride: int | None = None
    # per-stage survivor counts are part of run()'s observable contract
    # ("observed", the default): each multi-consumer stage persists and
    # counts — ~8 driver-synchronized barriers, the funnel's wall-time
    # floor (SCALE.md round 12). "off" (round 13, VERDICT r12 #6) FUSES
    # the funnel: no persists, no count jobs, stage_counts stays empty,
    # run() returns one lazy plan whose terminal action executes the
    # whole funnel as a single DAG (Catalyst reuses exchanges for
    # multi-consumer subtrees or recomputes map-side work — both
    # cheaper than a barrier when nobody reads the counts). Callers
    # that need the sqrt-rule SemDeDup k under "off" should pin
    # ``semantic_k``; otherwise one survivor count still runs for it.
    # SemDeDup's driver tier also stays eager under "off": when the
    # surviving embeddings fit its budget, its collect is one more job
    # (after the 1-row length probe the distributed path runs too) that
    # runs while run() builds the plan.
    counts: str = "observed"
    # declared media modalities (round 13): when set, the media stage
    # routes by declaration instead of probing the media frame with a
    # distinct — which EXECUTES an opaque media producer (mapInPandas
    # decode/synth) once for the probe and again for the hashes. Same
    # output whenever the declaration covers the types present (an
    # undeclared type is ignored exactly as an unknown one would be).
    media_routes: tuple | None = None
    stage_counts: dict = field(default_factory=dict)

    def _advance(self, name: str, df: DataFrame, prev: DataFrame | None) -> DataFrame:
        """Record a stage's survivor count WITHOUT re-running the whole
        upstream funnel: persist the stage, count it (the count also
        materializes the cache), release the previous stage's blocks.
        Before round 9 each ``.count()`` recomputed the full lineage —
        O(stages^2) total compute, with MinHash/SemDeDup re-executed
        per later stage; measured 60 s -> 13 s on the 500-doc fixture,
        and at 100 TB the difference is the job being runnable at all.
        Peak cache is two adjacent survivor sets (MEMORY_AND_DISK, so
        an executor that can't hold a stage spills instead of dying).
        In ``counts="off"`` mode the persist REMAINS (measured round
        13: without it the funnel's multi-consumer stage outputs —
        survivors feeding both pair mining and cluster resolution —
        recompute, 1.7x slower at sf0.1) but fills LAZILY on first
        use: no count job, no driver barrier, blocks evict LRU
        instead of being explicitly released.
        The session's ``canChangeCachedPlanOutputPartitioning`` lets AQE
        size each persisted stage from its real bytes (see session.py):
        a few hundred survivors cache in one or two partitions instead
        of the initial shuffle count, so every later re-read (pair
        mining, cluster resolution, media hashing, SemDeDup) runs only
        the tasks the data needs. A consumer that keyed on the cached
        frame's hash partitioning may pay one extra exchange; survivor
        sets and counts are unchanged."""
        from pyspark import StorageLevel

        if self.counts == "off":
            return df.persist(StorageLevel.MEMORY_AND_DISK)

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self.stage_counts[name] = df.count()
        if prev is not None:
            prev.unpersist(blocking=False)
        return df

    def run(
        self,
        docs: DataFrame,
        eval_docs: DataFrame | None = None,
        embeddings: DataFrame | None = None,
        media: DataFrame | None = None,
    ) -> DataFrame:
        """``embeddings`` (doc_id, embedding) enables the SemDeDup stage:
        only survivors' embeddings are clustered, and a doc is dropped
        when a lower-id same-cluster survivor is cosine-similar above
        ``semantic_threshold``.

        ``media`` (doc_id, media binary, media_type in 'image/pnm' |
        'audio/wav' | 'video/pnm-stream') enables the round-6
        MULTIMODAL dedup stage: perceptual hashes per modality
        (dhash / Haitsma-Kalker fingerprint / pooled-frame dhash), the
        shared pigeonhole chunk join for pairs, and the same
        cluster-resolution policy as text near-dup — a doc whose
        attached media is a near-duplicate of a better/lower-id
        survivor's media is dropped. Payloads never shuffle; the pair
        stage moves 4 x 16-byte rows per item."""
        # the row-local gates and the exact-dedup window run as ONE job:
        # input / lang-gate / quality-gate survivor counts ride as
        # Observation metrics on the same linear plan whose count()
        # materializes the exact-dedup cache (round 10 — four
        # driver-synchronized count jobs collapsed into one; the
        # observed values are exact row counts, identical to the
        # per-stage count() they replace, and the gate frames had no
        # other consumer than the next stage)
        if self.counts not in ("observed", "off"):
            raise ValueError(
                f"counts must be 'observed' or 'off', got {self.counts!r}"
            )
        if self.counts == "off":
            gated = docs.filter(
                F.col("lang").isin(list(self.target_langs))
            ).filter(quality_score("text") >= self.min_quality)
            kept = self._advance("exact_dedup", exact_text_dedup(gated), None)
        else:
            from pyspark.sql import Observation

            obs_input, obs_lang, obs_q = (
                Observation(), Observation(), Observation(),
            )
            gated = (
                docs.observe(obs_input, F.count(F.lit(1)).alias("n"))
                .filter(F.col("lang").isin(list(self.target_langs)))
                .observe(obs_lang, F.count(F.lit(1)).alias("n"))
                .filter(quality_score("text") >= self.min_quality)
                .observe(obs_q, F.count(F.lit(1)).alias("n"))
            )
            kept = self._advance("exact_dedup", exact_text_dedup(gated), None)
            counts = {
                "input": int(obs_input.get["n"]),
                "lang_gate": int(obs_lang.get["n"]),
                "quality_gate": int(obs_q.get["n"]),
                "exact_dedup": self.stage_counts.pop("exact_dedup"),
            }
            counts.update(self.stage_counts)  # funnel order preserved
            self.stage_counts.clear()
            self.stage_counts.update(counts)

        pairs = minhash_near_dup_pairs(kept, threshold=self.near_dup_threshold)
        kept = self._advance(
            "near_dedup", resolve_duplicate_clusters(kept, pairs), kept
        )

        if media is not None:
            pairs_m = media_near_dup_pairs(
                media.join(kept.select("doc_id"), "doc_id"),
                routes=self.media_routes,
            )
            # curation-grade keep policy: within a media near-dup
            # cluster keep the member whose TEXT scores best (ties ->
            # lowest id) — near-identical media usually differ in the
            # attached caption/transcript quality, which is what the
            # training corpus actually keeps
            kept = self._advance(
                "media_dedup",
                resolve_duplicate_clusters(
                    kept, pairs_m, keep_by=quality_score("text")
                ),
                kept,
            )

        if embeddings is not None:
            import math

            from azure_etl_spark.operators.similarity import semantic_dedup

            surviving = embeddings.join(kept.select("doc_id"), "doc_id")
            # sqrt rule over the (already counted) survivor set — an
            # upper bound on joined vectors, deterministic across
            # partitionings, and free (no extra job)
            k_sem = self.semantic_k
            if k_sem is None:
                # "off" mode has no recorded counts: the sqrt rule needs
                # ONE survivor count (pin semantic_k to avoid it)
                prev_count = (
                    kept.count()
                    if self.counts == "off"
                    else list(self.stage_counts.values())[-1]
                )
                k_sem = max(8, math.ceil(math.sqrt(max(prev_count, 1))))
            dropped = semantic_dedup(
                surviving,
                k=k_sem,
                threshold=self.semantic_threshold,
                id_col="doc_id",
            ).filter(~F.col("kept")).select("doc_id")
            kept = self._advance(
                "semantic_dedup", kept.join(dropped, "doc_id", "left_anti"), kept
            )

        obs_decon = None
        decon_prev = None
        if eval_docs is not None:
            flagged = contamination_overlap(
                kept, eval_docs, n=self.contamination_ngram
            )
            contaminated = flagged.filter(F.col("contaminated")).select("doc_id")
            if self.counts == "off":
                kept = kept.join(contaminated, "doc_id", "left_anti")
            else:
                from pyspark.sql import Observation

                # the decontaminated set has exactly ONE consumer
                # (pack), so its count rides as an Observation on the
                # pack job instead of a separate materialization
                # (round 10 — one less driver-synchronized barrier;
                # value identical)
                obs_decon = Observation()
                decon_prev = kept
                kept = kept.join(contaminated, "doc_id", "left_anti").observe(
                    obs_decon, F.count(F.lit(1)).alias("n")
                )
                self.stage_counts["decontaminated"] = -1  # placeholder, keeps order

        if self.chunk_words:
            from azure_etl_spark.operators.curation import chunk_sliding_windows

            chunks = self._advance(
                "chunked",
                chunk_sliding_windows(
                    kept,
                    window=self.chunk_words,
                    stride=self.chunk_stride or self.chunk_words,
                ),
                decon_prev if decon_prev is not None else kept,
            )
            if obs_decon is not None:  # materialized by the chunk count
                self.stage_counts["decontaminated"] = int(obs_decon.get["n"])
                obs_decon, decon_prev = None, None
            kept = chunks  # packed's _advance releases this stage
            # shard by (doc, chunk) so chunk placement is deterministic
            # yet chunks of one doc spread across shards (mixing)
            sharded = chunks.withColumn(
                "shard",
                deterministic_shard(
                    F.concat_ws(":", F.col("doc_id"), F.col("chunk_idx")),
                    self.n_shards,
                ),
            ).withColumn("n_tokens", F.col("n_words"))
            order_cols: tuple = ("doc_id", "chunk_idx")
        else:
            sharded = kept.withColumn(
                "shard", deterministic_shard("doc_id", self.n_shards)
            ).withColumn("n_tokens", token_count("text"))
            order_cols = ("doc_id",)
        packed = pack_token_budget(
            sharded, budget=self.token_budget, shard_col="shard",
            order_cols=order_cols, n_tokens=F.col("n_tokens"),
        )
        packed = self._advance(
            "packed", packed, decon_prev if decon_prev is not None else kept
        )
        if obs_decon is not None:  # materialized by the pack count
            self.stage_counts["decontaminated"] = int(obs_decon.get["n"])
        return packed
