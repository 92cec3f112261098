"""Document-curation pipeline: the composed training-data job.

Chains the engine's text-analysis and dedup operators into the standard
pretraining curation flow over a documents table:

    lang-id -> quality gate -> exact dedup -> near-dup clusters (MinHash
    LSH candidates -> Jaccard verify -> connected components) -> keep one
    canonical doc per cluster -> summary stats

Every stage is a DataFrame transform (no driver loops); the near-dup
stage is the LSH->verify->cluster pattern that scales: candidates come
from an equi-join on band buckets, verification touches only candidate
pairs, and clustering is min-label propagation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import (
    duplicate_clusters,
    exact_dedup,
    keep_canonical,
    minhash_lsh_candidates,
    ngram_jaccard_for_pairs,
)
from .textops import language_id, quality_score


def curate_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_langs: tuple[str, ...] | None = None,
    min_quality_pct: int = 40,
    near_dup_jaccard_pct: int = 80,
    site_template_col: str | None = None,
    max_surprisal_milli: int | None = None,
    require_gopher_pass: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Returns ``(kept_docs, funnel)``.

    ``kept_docs``: surviving documents with ``pred_lang`` and quality
    columns attached.  ``funnel``: one row per stage with documents
    remaining after it (the curation report).

    The stage boundaries are cached, so the funnel counts and the
    multi-use candidate set don't recompute the scoring / minhash
    expressions (at production scale you would instead commit each
    stage to a table and resume between them — the snapshot layer exists
    for exactly that).

    ``site_template_col`` (opt-in) names a site-key column and engages
    :func:`html_extract.site_template_strip` as stage 0: shared nav /
    footer / banner lines are removed BEFORE scoring and dedup, because
    template text both inflates quality scores and — worse — creates
    false near-dup merges between unrelated pages of the same site
    (their shingle overlap is the template, not the content).  Docs
    whose every line was template or blank drop out here; they would
    die at the quality gate anyway.  Default off: the q35 oracle pins
    the strip-free funnel.

    ``max_surprisal_milli`` (opt-in) engages the LM gibberish gate as
    stage 2b: corpus-unigram surprisal (``textops.unigram_surprisal``,
    self-trained on the post-quality survivors so junk removed upstream
    does not pollute the vocabulary) drops docs scoring ABOVE the cap —
    the rare-token-soup tail.  Docs the scorer emits no row for (NULL
    text) pass through; the predicate only removes scored outliers.
    Default off for the same oracle-pinning reason.

    ``require_gopher_pass`` (opt-in) engages the Gopher rule battery
    (:func:`textops.gopher_quality_flags`) as stage 2c — the published
    Rae et al. filter set on top of the engine's composite
    ``quality_pct`` gate.  Pure row-local integer predicates (zero
    shuffle); the flag columns are dropped after filtering so the
    downstream schema is unchanged.  Default off: q35 pins the
    flag-free funnel.
    """
    if site_template_col is not None:
        from .html_extract import site_template_strip

        stripped = site_template_strip(
            docs, id_col=id_col, site_col=site_template_col, text_col=text_col
        ).select(F.col("doc_id").alias(id_col), F.col("main_text"))
        docs = (
            docs.drop(text_col)
            .join(stripped, on=id_col)
            .withColumnRenamed("main_text", text_col)
        )
    scored = quality_score(language_id(docs, text_col), text_col).cache()

    lang_pred = (
        F.col("pred_lang").isin(*keep_langs) if keep_langs else F.lit(True)
    )
    qual_pred = F.col("quality_pct") >= min_quality_pct
    stage1 = scored.filter(lang_pred)
    stage2 = stage1.filter(qual_pred)

    lm_stage = None
    if max_surprisal_milli is not None:
        from .textops import unigram_surprisal

        scores = unigram_surprisal(stage2, id_col, text_col).select(
            F.col(id_col), F.col("surprisal_milli")
        )
        stage2 = (
            stage2.join(scores, on=id_col, how="left")
            .filter(
                F.coalesce(
                    F.col("surprisal_milli") <= max_surprisal_milli, F.lit(True)
                )
            )
            .drop("surprisal_milli")
            .cache()
        )
        lm_stage = stage2

    gopher_stage = None
    if require_gopher_pass:
        from .textops import gopher_quality_flags

        flagged = gopher_quality_flags(stage2, text_col=text_col)
        # derive the added columns instead of hardcoding the flag list —
        # a new rule column must not silently leak into kept_docs
        added = [c for c in flagged.columns if c not in stage2.columns]
        stage2 = flagged.filter(F.col("gopher_pass")).drop(*added).cache()
        gopher_stage = stage2

    # exact dedup: drop all but the min-id member of each fingerprint group
    exact_losers = (
        exact_dedup(stage2, id_col, text_col)
        .select(F.explode(F.expr("slice(doc_ids, 2, size(doc_ids))")).alias(id_col))
    )
    stage3 = stage2.join(exact_losers, on=id_col, how="left_anti").cache()

    # near-dup: LSH candidates -> exact Jaccard verify (per candidate pair
    # ONLY — two equi-joins attach the texts; never an all-pairs join over
    # the candidate universe) -> cluster -> keep
    candidates = minhash_lsh_candidates(stage3, id_col, text_col).select("a_id", "b_id")
    verified = ngram_jaccard_for_pairs(
        candidates, stage3, id_col, text_col, min_jaccard_pct=near_dup_jaccard_pct
    )
    clusters = duplicate_clusters(verified.select("a_id", "b_id"), partitions=8)
    kept = keep_canonical(stage3, clusters, id_col)

    # funnel: one row per stage, built lazily as a union of aggregates so
    # materializing it is a single Spark action.  Stages 0-2 are cascading
    # row-local predicates over `scored`, so their three counts come from
    # ONE conditional aggregate (one pass over the corpus).
    base_counts = scored.agg(
        F.count(F.lit(1)).alias("c0"),
        F.coalesce(F.sum(lang_pred.cast("long")), F.lit(0)).alias("c1"),
        F.coalesce(F.sum((lang_pred & qual_pred).cast("long")), F.lit(0)).alias("c2"),
    )
    funnel = (
        base_counts.select(
            F.explode(
                F.array(
                    F.struct(F.lit("0_input").alias("stage"), F.col("c0").alias("docs")),
                    F.struct(F.lit("1_lang").alias("stage"), F.col("c1").alias("docs")),
                    F.struct(F.lit("2_quality").alias("stage"), F.col("c2").alias("docs")),
                )
            ).alias("s")
        )
        .select("s.stage", "s.docs")
        .unionByName(
            stage3.agg(F.count(F.lit(1)).alias("docs"))
            .select(F.lit("3_exact_dedup").alias("stage"), "docs")
        )
        .unionByName(
            kept.agg(F.count(F.lit(1)).alias("docs"))
            .select(F.lit("4_near_dedup").alias("stage"), "docs")
        )
    )
    if lm_stage is not None:
        funnel = funnel.unionByName(
            lm_stage.agg(F.count(F.lit(1)).alias("docs"))
            .select(F.lit("2b_lm_surprisal").alias("stage"), "docs")
        )
    if gopher_stage is not None:
        funnel = funnel.unionByName(
            gopher_stage.agg(F.count(F.lit(1)).alias("docs"))
            .select(F.lit("2c_gopher").alias("stage"), "docs")
        )
    return kept, funnel


def curate_to_training_assembly(
    docs: DataFrame,
    splits: dict[str, int] | None = None,
    pack_budget: int = 2048,
    pack_shards: int = 16,
    **curate_kwargs,
) -> tuple[DataFrame, DataFrame]:
    """The full training-data assembly: curation funnel -> leakage-safe
    split -> per-split sequence packing.

    Returns ``(assembled, funnel)`` where ``assembled`` carries one row
    per surviving document with ``(split, shard, n_tokens, bin_idx,
    bin_fill)`` — everything a training-data loader needs to materialize
    packed sequences per split.  Composition notes: the split key is the
    exact-dup group's canonical id, and the funnel's exact-dedup stage
    has already reduced each group to its canonical member, so split
    assignment here degenerates to a pure projection per group of one;
    packing runs independently per (split, shard), keeping the
    sequential fill confined to one task (operators/packing.py).
    """
    from .packing import pack_sequences
    from .sampling import leakage_safe_split

    kept, funnel = curate_documents(docs, **curate_kwargs)
    split_df = leakage_safe_split(
        kept, splits or {"train": 9000, "val": 500, "test": 500}
    )
    packed = None
    names = sorted((splits or {"train": 9000, "val": 500, "test": 500}))
    for name in names:
        part = split_df.filter(F.col("split") == name)
        p = pack_sequences(part, budget=pack_budget, shards=pack_shards)
        p = p.withColumn("split", F.lit(name))
        packed = p if packed is None else packed.unionByName(p)
    assembled = split_df.select("doc_id", "split", "pred_lang", "quality_pct").join(
        packed.select("doc_id", "shard", "n_tokens", "bin_idx", "bin_fill"),
        on="doc_id",
    )
    return assembled, funnel
