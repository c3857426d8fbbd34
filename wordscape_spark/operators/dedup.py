"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Reference analog: WordScape dedups at URL/bytehash level (A6/A9/A12/B6/E6,
e.g. /root/reference/app/src/cc_processing/deduplicate.py:10-56 builds an
in-driver hash set).  Here dedup is distributed: hashes are columns, dedup is
a shuffle/broadcast anti-join or LSH band join — no driver-side state.

Determinism & oracle parity: every hash is md5-derived
(``conv(substr(md5(x),1,15),16,10)`` ⇔ DuckDB ``('0x'||substr(md5(x),1,15))
::BIGINT``), so the DuckDB oracle reproduces signatures bit-for-bit.

Scale notes (100 TB):
* signatures are computed per-row with array expressions (no explode) — one
  narrow map stage, whole-stage codegen;
* LSH candidates come from a shuffle-merge band self-join: one exchange of
  (band_key, doc_id) pairs feeds both sides — band keys are md5 strings,
  well distributed, AQE handles residual skew;
* candidate verification joins the candidate pairs to every document's
  shingle set by doc_id (no prefilter), never all-pairs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation

MINHASH_K = 16
LSH_BANDS = 4  # 4 bands × 4 rows
SHINGLE_N = 3


def _hash64_spark(expr: str) -> str:
    return f"CAST(conv(substr(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def _hash64_duck(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def tokens_expr(col: str, dialect: str) -> str:
    if dialect == "spark":
        return f"split(lower(trim({col})), '\\\\s+')"
    return f"regexp_split_to_array(lower(trim({col})), '\\s+')"


def shingles_expr(col: str, dialect: str, n: int = SHINGLE_N) -> str:
    """Distinct word n-gram shingles as an array expression (no explode).

    Spark side: the token array is bound ONCE via the single-element-array
    lambda trick (same guard as ``simhash``) — a bare ``{toks}[i + j]``
    inside the per-shingle lambda would re-run the split per ELEMENT,
    turning the stage O(tokens²) per document (measured 9.2 s → 0.4 s over
    the 50k-doc corpus when fixed).  DuckDB binds list expressions once,
    so the direct form stays for the oracle dialect."""
    toks = tokens_expr(col, dialect)
    if dialect == "spark":
        parts = ", ".join(f"t[i + {j}]" for j in range(n))
        inner = (
            f"array_distinct(CASE WHEN size(t) < {n} THEN array() "
            f"ELSE transform(sequence(0, size(t) - {n}), "
            f"i -> concat_ws(' ', {parts})) END)"
        )
        return f"transform(array({toks}), t -> {inner})[0]"
    # duckdb: lists are 1-indexed
    parts = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(n))
    return (
        f"list_distinct(CASE WHEN len({toks}) < {n} THEN [] "
        f"ELSE list_transform(range(1, len({toks}) - {n} + 2), "
        f"i -> {parts}) END)"
    )


def minhash_exprs(
    dialect: str, k: int = MINHASH_K, fast: bool = False
) -> list[str]:
    """k minhash values over a `sh` (shingles array) column.

    ``fast=True`` (opt-in; the default is the md5 variant) uses xxhash64 —
    one 64-bit hash per (i, shingle), no string md5/hex math (~10×
    cheaper).  The md5 variant is the default because the DuckDB oracle
    can reproduce it bit-for-bit.
    """
    out = []
    for i in range(k):
        if dialect == "spark":
            if fast:
                h = f"xxhash64({i}, s)"
            else:
                h = _hash64_spark(f"concat('{i}:', s)")
            out.append(
                f"CASE WHEN size(sh) = 0 THEN {2**62} "
                f"ELSE array_min(transform(sh, s -> {h})) END"
            )
        else:
            h = _hash64_duck(f"'{i}:' || s")
            out.append(
                f"CASE WHEN len(sh) = 0 THEN {2**62} "
                f"ELSE list_min(list_transform(sh, s -> {h})) END"
            )
    return out


def band_key_expr(band: int, dialect: str, rows: int = MINHASH_K // LSH_BANDS) -> str:
    cols = [f"mh{band * rows + j}" for j in range(rows)]
    if dialect == "spark":
        joined = ", ".join(f"CAST({c} AS STRING)" for c in cols)
        return f"md5(concat_ws(',', {joined}))"
    joined = " || ',' || ".join(f"{c}::VARCHAR" for c in cols)
    return f"md5({joined})"


def with_minhash(
    df: DataFrame, text_col: str = "text", fast: bool = False
) -> DataFrame:
    """doc_id + shingles + minhash signature + LSH band keys."""
    df = df.withColumn("sh", F.expr(shingles_expr(text_col, "spark")))
    for i, e in enumerate(minhash_exprs("spark", fast=fast)):
        df = df.withColumn(f"mh{i}", F.expr(e))
    for b in range(LSH_BANDS):
        df = df.withColumn(f"band{b}", F.expr(band_key_expr(b, "spark")))
    return df


def minhash_duplicate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    fast: bool = False,
) -> DataFrame:
    """Near-duplicate pairs: LSH candidate generation + exact-Jaccard verify.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard ≥ threshold.
    No cache: the band self-join is hinted ``shuffle_merge`` so both of its
    sides read one reused exchange (a broadcast side would evaluate the
    signature expressions a second time), and the verify joins read
    ``(doc_id, sh)``, which column pruning reduces to shingling alone.
    """
    sigs = with_minhash(
        df.select(F.col(id_col).cast("string").alias("doc_id"), text_col),
        fast=fast,
    )
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("key"))
                for b in range(LSH_BANDS)
            ])
        ).alias("bk"),
    ).select("doc_id", "bk.band_id", "bk.key")

    candidates = (
        bands.alias("a")
        .join(
            bands.hint("shuffle_merge").alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )

    sh = sigs.select("doc_id", "sh")
    verified = (
        candidates.join(sh.withColumnRenamed("doc_id", "doc_a")
                        .withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("sh", "sh_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.expr(
                "round(CASE WHEN size(array_union(sh_a, sh_b)) = 0 THEN 0D "
                "ELSE CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE) / "
                "size(array_union(sh_a, sh_b)) END, 6)"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return verified


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs (no hashing, no bands).

    Shingle sets are exploded to (shingle → doc) postings; candidate pairs
    are docs sharing ≥1 shingle; the intersection size is a distributed
    groupBy count (shingles are distinct per doc), sizes join back for
    |A∪B| = |A|+|B|−|A∩B|.  This is the oracle-grade exact measure — the
    posting self-join grows quadratically inside hot shingles, so at
    10^12 rows ``minhash_duplicate_pairs`` (banded LSH, same verify
    formula) is the scale path and this operator is for bounded slices /
    validation samples.

    ``max_shingle_df`` is the standard hot-shingle cap (prefix-filtering
    trick): shingles whose document frequency exceeds the cap are dropped
    from the postings BEFORE the self-join, removing the quadratic blowup
    inside boilerplate shingles.  Error bound: |A∪B| still uses the full
    shingle-set sizes, and dropping a shingle can only shrink the counted
    intersection, so the capped jaccard is a LOWER bound of the exact value
    — pairs can be missed (never spuriously added) and only when a true-pair
    intersection consists largely of corpus-hot (≥cap docs) shingles, which
    near-duplicate pairs by definition do not.  Default off (exact).
    """
    shs = df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(shingles_expr(text_col, "spark")).alias("sh"),
    )
    sizes = shs.select("doc_id", F.size("sh").alias("n_sh"))
    # explode_outer + isNotNull: stops InferFiltersFromGenerate inlining
    # the shingle expression into pushed-down predicates (3x tokenize);
    # the isNotNull filter on the exploded ATTRIBUTE drops the null rows
    # outer emits for shingle-less docs, matching inner explode exactly
    posts = (
        shs.select("doc_id", F.explode_outer("sh").alias("s"))
        .filter(F.col("s").isNotNull())
    )
    if max_shingle_df is not None:
        hot = (
            posts.groupBy("s")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("s")
        )
        # hot shingles are few by construction — broadcast anti-join
        posts = posts.join(F.broadcast(hot), "s", "left_anti")
    inter = (
        posts.alias("a")
        .join(posts.alias("b"), "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("n_sh", "na")
        .join(sizes.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("n_sh", "nb")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ------------------------------------------------------------------ simhash

SIMHASH_BITS = 60  # stay within positive int64


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash over whitespace tokens (token weight = occurrences).

    Array-expression formulation (no explode), LINEAR in tokens: the token
    hashes are bound ONCE per row, then each bit sums ±1 per occurrence —
    Σ_{occurrences} ±1 ≡ Σ_{distinct} count·(±1), without the
    per-distinct-token array rescans (which were O(60·distinct·n): a
    100k-token doc cost ~10^10 comparisons).

    Binding uses the single-element-array lambda trick rather than a
    chained select: a `hs` alias referenced once inside the per-bit lambda
    passes CollapseProject's used-once guard and gets INLINED — i.e. the
    whole tokenize+hash transform re-evaluated for each of the 60 bits
    (measured 15×: 17.9s → 1.2s over sf0.1 documents; same trap as
    fingerprint.winnow_fingerprints, where it was O(grams²)).
    """
    toks = tokens_expr(text_col, "spark")
    h = _hash64_spark("t")
    hs = f"transform({toks}, t -> {h})"
    bit_sums = (
        f"transform(sequence(0, {SIMHASH_BITS - 1}), b -> "
        f"aggregate(hs, 0L, (acc, v) -> acc + "
        f"(CASE WHEN (shiftright(v, b) & 1) = 1 THEN 1 ELSE -1 END)))"
    )
    sim = (
        f"aggregate(zip_with({bit_sums}, sequence(0, {SIMHASH_BITS - 1}), "
        f"(s, b) -> CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), b) "
        f"ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.expr(f"transform(array({hs}), hs -> {sim})[0]").alias("simhash"),
    )


def simhash_expr_duck(text_col: str) -> str:
    """DuckDB twin of ``simhash`` (oracle use) — same linear form."""
    toks = tokens_expr(text_col, "duckdb")
    h = _hash64_duck("t")
    hs = f"list_transform({toks}, t -> {h})"
    bit_sums = (
        f"list_transform(range(0, {SIMHASH_BITS}), b -> "
        f"list_sum(list_transform({hs}, v -> "
        f"CASE WHEN ((v >> b) & 1) = 1 THEN 1 ELSE -1 END)))"
    )
    return (
        f"CAST(list_sum(list_transform(list_zip({bit_sums}, "
        f"range(0, {SIMHASH_BITS})), z -> "
        f"CASE WHEN z[1] > 0 THEN (1::BIGINT << z[2]) ELSE 0::BIGINT END)) "
        f"AS BIGINT)"
    )


# ------------------------------------------------- duplicate clustering


def duplicate_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-duplicate pairs → (doc_id, cluster_id).

    cluster_id = the smallest doc_id reachable through duplicate edges
    (min-label propagation, a.k.a. hash-to-min).  Each iteration is one
    join + aggregate, converging in O(diameter) rounds — duplicate
    clusters are tiny in practice, so 2-3 rounds.  The loop runs on the
    driver but all data stays distributed (no collect).

    ``edges`` holds both directions of every pair plus a self-loop per
    doc, so one round — ``edges ⋈ labels`` on ``b``, grouped by ``a`` —
    yields both the new label (``min``) and the doc's own old label, and
    convergence is observed on that same aggregate: one action per round,
    the eager ``localCheckpoint`` that truncates lineage.  ``labels`` is
    referenced once per round, and the checkpoint replaces it with a leaf,
    so every round plans a constant-size query.  On a real cluster with
    executor loss, set ``spark.checkpoint.dir`` and switch to
    ``checkpoint()`` for replayability — the label frame is (doc_id,
    cluster_id) over duplicate docs only, so it is small either way.

    Raises RuntimeError when the label propagation has not converged after
    ``max_iterations`` (a duplicate chain longer than the budget) rather
    than silently returning split clusters.
    """
    a, b = F.col("doc_a"), F.col("doc_b")
    edges = (
        pairs.select(
            F.explode(
                F.array(*[
                    F.struct(x.alias("a"), y.alias("b"))
                    for x, y in ((a, b), (b, a), (a, a), (b, b))
                ])
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .persist()
    )
    try:
        # initial label: own id (one self-loop per doc)
        labels = edges.filter("a = b").select(
            F.col("a").alias("doc_id"), F.col("b").alias("cluster_id")
        )
        for _ in range(max_iterations):
            obs = Observation()
            labels = (
                edges.join(labels, F.col("b") == F.col("doc_id"))
                .groupBy(F.col("a").alias("doc_id"))
                .agg(
                    F.min("cluster_id").alias("cluster_id"),
                    F.min(F.when(F.col("a") == F.col("b"), F.col("cluster_id")))
                    .alias("own"),
                )
                .observe(
                    obs,
                    F.coalesce(
                        F.max(F.col("cluster_id") < F.col("own")), F.lit(False)
                    ).alias("changed"),
                )
                .select("doc_id", "cluster_id")
                .localCheckpoint(eager=True)
            )
            if not obs.get["changed"]:
                return labels
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iterations} "
            "iterations — raise max_iterations (a duplicate chain longer "
            "than the budget exists)"
        )
    finally:
        edges.unpersist()


def keep_cluster_representatives(
    df: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Drop every near-duplicate except the cluster representative (the
    smallest id) — the distributed drop_duplicates(keep='first') analog."""
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# -------------------------------------------------------------- exact dedup


def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Content-hash groups (bytehash dedup, ref: download_dump_data.py:155-168).

    Returns (bytehash, n_docs, keep_doc_id): one row per distinct content,
    keeping the smallest doc_id — the distributed `drop_duplicates` analog.
    """
    return (
        df.select(
            F.col(id_col).cast("string").alias("doc_id"),
            F.sha2(F.col(text_col), 256).alias("bytehash"),
        )
        .groupBy("bytehash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )
