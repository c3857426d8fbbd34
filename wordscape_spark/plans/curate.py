"""End-to-end curation plan: Gopher quality gates → exact dedup →
MinHash+LSH near-dedup → per-language token budget, as ONE composed
DataFrame chain with a funnel-metrics table.

Reference analog: WordScape runs its stage-E assembly as separate scripts
(quality filter, bytehash dedup in `download_dump_data.py:155-168`,
dataset shaping in `app/src/extensions/`); a training-data user runs them
as one job.  This plan is that job — the "switch to this repo and run
everything you run today" composition over the extracted/normalized text
table.

Scale shape (100 TB):
* the quality gate is a per-row flag on the corpus scan (zero Exchange —
  `gopher_quality(keep_cols=...)` rides the payload columns through, no
  join back);
* exact dedup aggregates (bytehash, doc_id) only and rejoins by doc_id —
  the text column never shuffles for it;
* near-dedup shuffles band keys and shingle sets, never text: one band
  self-join exchange, and the verify joins read every document's
  shingles by doc_id (operators/dedup.py scale notes); cluster labels
  are (doc_id, cluster_id) over duplicate docs only, one checkpointed
  round per propagation step;
* the token budget is the stream-decomposed window (no per-language
  single-partition sort — operators/shaping.py);
* each stage consumes the previous one lazily.  The funnel table
  aggregates every stage, which re-derives upstream stages once per
  aggregate — at sf this is free; on a real run wrap stage boundaries in
  plans.checkpoint-style bucket commits (stage outputs are also the
  natural resume points) or persist() the two dedup survivor frames.
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from wordscape_spark.operators import dedup as D
from wordscape_spark.operators import quality_rules as QR
from wordscape_spark.operators import shaping as SH
from wordscape_spark.operators import text as T

STAGES = ("input", "quality", "exact_dedup", "near_dedup", "token_budget")


def curate(
    docs: DataFrame,
    *,
    min_words: int = 10,
    jaccard_threshold: float = 0.5,
    budget_per_lang: int = 2_000,
    n_streams: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> dict[str, DataFrame]:
    """Run the curation chain; returns ``{stage: surviving DataFrame}`` in
    STAGES order.  Every stage frame carries
    (doc_id string, lang, text, tokens) — the final stage adds
    ``cum_tokens``.  doc_id comparisons (exact-dedup keep, cluster
    representative, budget order) are STRING ordering throughout, matching
    the dedup operators' internal casts."""
    base = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(lang_col).alias("lang"),
        F.col(text_col).alias("text"),
    ).withColumn(
        "tokens", F.expr(T.token_exprs("text", "spark")["tokens_ws"])
    )

    quality = (
        QR.gopher_quality(
            base, min_words=min_words, keep_cols=("lang", "text", "tokens")
        )
        .filter("gopher_pass")
        .select("doc_id", "lang", "text", "tokens")
    )

    keep = D.exact_duplicate_groups(quality).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    # persist the two dedup survivor frames: they each feed three
    # consumers (the next stage, the budget chain, and one funnel
    # aggregate per downstream stage), and without the pin every funnel
    # row re-derives the whole upstream chain — measured 18 s → ~7 s for
    # the funnel at the correctness scale.  On a real 100 TB run the
    # stage boundaries commit through plans.checkpoint instead.
    exact = quality.join(keep, "doc_id", "semi").persist()

    pairs = D.minhash_duplicate_pairs(exact, threshold=jaccard_threshold)
    clusters = D.duplicate_clusters(pairs)
    near = D.keep_cluster_representatives(exact, clusters).persist()

    budget = SH.token_budget_sample(
        near, budget_per_lang=budget_per_lang, n_streams=n_streams
    )

    return {
        "input": base,
        "quality": quality,
        "exact_dedup": exact,
        "near_dedup": near,
        "token_budget": budget,
    }


def funnel(stages: dict[str, DataFrame]) -> DataFrame:
    """(stage_order, stage, n_docs, n_tokens) — one row per stage, the
    job's audit record (the analog of the reference's per-stage log
    tallies).  Single-row aggregates unioned; no data motion beyond each
    stage's own plan."""
    parts = [
        df.agg(
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum("tokens"), F.lit(0)).cast("bigint").alias(
                "n_tokens"
            ),
        ).select(
            F.lit(i).cast("int").alias("stage_order"),
            F.lit(name).alias("stage"),
            "n_docs",
            "n_tokens",
        )
        for i, (name, df) in enumerate(stages.items())
    ]
    return reduce(DataFrame.unionByName, parts)
