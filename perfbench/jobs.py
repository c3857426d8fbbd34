"""The user jobs the workloads time, called through the public functions.

``extract`` is ``scripts/run_extract.py`` and ``curate`` is
``scripts/run_curate.py``, step for step.  ``span`` wraps each call into a
layer; the untimed default does nothing.
"""

from __future__ import annotations

import contextlib
import os

EXTRACT_BUCKETS = 64  # run_extract.py's --buckets default
# extract_skew routes its planted ~110k-span docs to the salted path by
# passing a lower threshold through the job's ExtractConfig; at the default
# 150k only ~300k-span docs are salted, and one of those costs ~30 s a job.
SKEW_SALT_THRESHOLD = 50_000
# run_curate.py defaults, except a budget that trims the largest language
CURATE_ARGS = {
    "min_words": 10,
    "jaccard_threshold": 0.5,
    "budget_per_lang": 200_000,
    "n_streams": 32,
}


def _no_span(name: str):
    return contextlib.nullcontext()


def extract_config(workload: str):
    from wordscape_spark.config import DEFAULT_CONFIG, ExtractConfig

    if workload == "extract_skew":
        return ExtractConfig(salt_threshold=SKEW_SALT_THRESHOLD)
    return DEFAULT_CONFIG


def extract(spark, input_dir: str, out_dir: str, cfg, span=_no_span) -> None:
    from wordscape_spark.plans import checkpoint as CP
    from wordscape_spark.sources.tables import read_docs

    with span("tables.read_docs"):
        docs = read_docs(spark, input_dir)
    with span("checkpoint.run_extract_checkpointed"):
        CP.run_extract_checkpointed(
            spark, docs, out_dir, n_buckets=EXTRACT_BUCKETS, cfg=cfg
        )
    with span("checkpoint.metrics_table"):
        CP.metrics_table(spark, out_dir).first()


def curate(spark, input_dir: str, out_dir: str, span=_no_span) -> None:
    from wordscape_spark.plans import curate as CU

    docs = spark.read.parquet(input_dir)
    with span("curate.curate"):
        stages = CU.curate(docs, **CURATE_ARGS)
    with span("curate.dataset_write"):
        final = stages["token_budget"].persist()
        final.write.mode("overwrite").parquet(os.path.join(out_dir, "dataset"))
    with span("curate.funnel"):
        funnel = CU.funnel(stages)
        funnel.write.mode("overwrite").parquet(os.path.join(out_dir, "funnel"))
        funnel.orderBy("stage_order").collect()


def _warm_batches(batches):
    # the worker-side imports every workload's Python UDFs need
    import wordscape_spark.core.classify  # noqa: F401
    import wordscape_spark.operators.extract  # noqa: F401

    yield from batches


def warm_workers(spark, nproc: int) -> None:
    """Start and initialize one Python worker per core."""
    spark.range(0, nproc, 1, nproc).mapInArrow(_warm_batches, "id long").collect()
