"""Similarity search over embedding columns.

* ``brute_force_topk`` — exact cosine top-k; the correctness baseline.
  Broadcast the (small) query set against the corpus: one scan, no shuffle of
  the corpus, per-partition top-k via window over (query, score).
* ``lsh_topk`` — random-hyperplane LSH bucketing: candidates share ≥1 band of
  sign bits, then exact re-rank.  The 100 TB path: the corpus is scanned
  once to bucket signatures; the join is band-key equi-join, AQE-skew-safe.
* ``ivf_topk`` — inverted-file ANN (the FAISS-IVF shape): spherical k-means
  centroids trained driver-side on a bounded deterministic sample, every
  corpus vector assigned to its nearest centroid cell with a native column
  expression (one scan, no shuffle), queries probe their ``nprobe`` nearest
  cells, candidates re-ranked exactly.  At 100 TB the cell assignment is a
  partition column: probing prunes the scan to nprobe/nlist of the corpus.

Hyperplanes are seeded deterministically (md5 of (plane, dim)) and k-means
runs a fixed Lloyd schedule on a sorted sample, so results are reproducible
across runs/partitionings.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window


def _cosine_expr(a: str, b: str) -> str:
    dot = (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    )
    na = (
        f"sqrt(aggregate({a}, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * "
        f"CAST(v AS DOUBLE)))"
    )
    nb = (
        f"sqrt(aggregate({b}, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * "
        f"CAST(v AS DOUBLE)))"
    )
    return (
        f"CASE WHEN {na} = 0D OR {nb} = 0D THEN 0.0 "
        f"ELSE round({dot} / ({na} * {nb}), 4) END"
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cos) — exact top-k per query.

    Ties broken by neighbor_id for determinism; self-matches excluded.

    Execution: a vectorized candidate-pruning pass (``mapInArrow`` + one
    NumPy GEMM per Arrow batch) keeps, per (partition, query), only the
    rows whose raw cosine is within ``_PRUNE_MARGIN`` of the partition's
    k-th best — a *provable superset* of the exact top-k (see
    ``_PRUNE_MARGIN``) — then the surviving ~P·m·k pairs are re-scored
    and ranked by the exact same native expressions the all-pairs form
    used, so the output is bit-identical while the interpreted
    higher-order-function cosine runs on thousands of pairs instead of
    |corpus|·|queries| (measured 107 s → ~2 s at the 20k×206 driver
    scale).  Corpus vectors cross the Python boundary once and are
    re-emitted with their original Arrow type, so the final
    CAST-to-double arithmetic is unchanged."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    cand = _prune_candidates(c, q, k)
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", F.expr(_cosine_expr("qvec", "cvec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


# Candidate-pruning safety margin, in raw-cosine units.  The final ranking
# orders by (round(cos, 4) DESC, neighbor_id ASC): a row in the true top-k
# has at most k-1 rows with a strictly larger *rounded* cosine, and any row
# whose raw cosine exceeds it by ≥ 2e-4 necessarily rounds strictly higher,
# so within any partition the true-top-k row's raw cosine is ≥ (k-th
# largest raw in that partition) − 2e-4.  The rest of the margin absorbs
# the (≈1e-12) difference between the NumPy float64 GEMM and Spark's
# sequential double fold.  False keeps only add a few re-scored rows;
# there are no false drops.
_PRUNE_MARGIN = 5e-4

# Query rows gathered on the driver by the brute-force pruning pass.  They
# are broadcast as one float64 matrix: 50k queries of 1024 dims are
# ~400 MiB.  A larger query set is an error, not a driver OOM.
_MAX_QUERY_ROWS = 50_000


def _prune_candidates(c: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Superset-of-top-k candidate pairs: (neighbor_id, cvec, query_id).

    The query side, at most ``_MAX_QUERY_ROWS`` rows (``ValueError``
    beyond), is gathered once (the same bounded relation the all-pairs
    form broadcast) and shipped to the pruning tasks via a Spark
    broadcast variable.  Corpus rows whose vector is NULL or whose length
    differs from the query dimension are emitted unpruned for every query
    (their NULL cosine can still be ranked when a query has fewer than k
    well-formed competitors — identical to the all-pairs semantics)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, StructField, StructType

    spark = c.sparkSession
    q_rows = q.limit(_MAX_QUERY_ROWS + 1).collect()
    if len(q_rows) > _MAX_QUERY_ROWS:
        raise ValueError(
            f"brute_force_topk: more than {_MAX_QUERY_ROWS} query rows "
            f"(got at least {len(q_rows)}) — the query set is gathered on "
            "the driver and broadcast; use lsh_topk or ivf_topk"
        )
    q_ids = [r["query_id"] for r in q_rows]
    q_vecs = [r["qvec"] for r in q_rows]
    dims = {len(v) for v in q_vecs if v is not None}
    d = dims.pop() if len(dims) == 1 else None
    if d is not None and q_vecs and all(v is not None for v in q_vecs):
        qm = np.asarray(q_vecs, dtype=np.float64)
        qn = np.sqrt((qm * qm).sum(axis=1))
    else:  # ragged/NULL query vectors: no GEMM pruning possible
        qm = qn = None
    bc = spark.sparkContext.broadcast((q_ids, qm, qn))

    out_schema = StructType(
        [
            StructField("neighbor_id", c.schema["neighbor_id"].dataType),
            StructField("cvec", c.schema["cvec"].dataType),
            StructField("query_id", q.schema["query_id"].dataType),
        ]
    )

    def prune(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        qid_atype = to_arrow_schema(out_schema).field("query_id").type
        q_ids_l, qm_l, qn_l = bc.value
        m = len(q_ids_l)
        for batch in batches:
            n = batch.num_rows
            if n == 0 or m == 0:
                continue
            ids = batch.column(0)
            vecs = batch.column(1)
            if qm_l is None:
                emit_all, gemm_rows = list(range(n)), []
            else:
                lengths = (
                    np.diff(vecs.offsets.to_numpy(zero_copy_only=False))
                    if vecs.null_count == 0
                    else None
                )
                if lengths is not None and (lengths == qm_l.shape[1]).all():
                    emit_all, gemm_rows = [], list(range(n))
                else:  # mixed: GEMM the conforming rows, emit the rest
                    py = vecs.to_pylist()
                    gemm_rows = [
                        i
                        for i, v in enumerate(py)
                        if v is not None and len(v) == qm_l.shape[1]
                    ]
                    gset = set(gemm_rows)
                    emit_all = [i for i in range(n) if i not in gset]
            sel_rows: list[int] = []
            sel_qidx: list[int] = []
            if qm_l is not None and gemm_rows:
                d = qm_l.shape[1]
                garr = np.asarray(gemm_rows, dtype=np.int64)
                flat = vecs.flatten().to_numpy(zero_copy_only=False)
                if vecs.null_count == 0 and len(flat) == n * d:
                    cm = np.asarray(flat, dtype=np.float64).reshape(n, d)[
                        garr
                    ]
                else:
                    py = vecs.to_pylist()
                    cm = np.asarray(
                        [py[i] for i in gemm_rows], dtype=np.float64
                    )
                cn = np.sqrt((cm * cm).sum(axis=1))
                dot = cm @ qm_l.T  # (n_gemm, m)
                denom = cn[:, None] * qn_l[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    raw = np.where(denom > 0.0, dot / denom, 0.0)
                # self-match rows per id (exclude from threshold selection)
                id_list = ids.to_pylist()
                id_to_pos: dict = {}
                for pos, i in enumerate(gemm_rows):
                    id_to_pos.setdefault(id_list[i], []).append(pos)
                nn = len(gemm_rows)
                for j, qid in enumerate(q_ids_l):
                    col = raw[:, j]
                    self_pos = id_to_pos.get(qid)
                    if self_pos:
                        col = col.copy()
                        col[self_pos] = -np.inf
                    if nn > k:
                        kth = np.partition(col, nn - k)[nn - k]
                        keep = np.flatnonzero(
                            (col >= kth - _PRUNE_MARGIN) | np.isnan(col)
                        )
                    else:
                        keep = np.flatnonzero(
                            (col > -np.inf) | np.isnan(col)
                        )
                    sel_rows.extend(garr[keep].tolist())
                    sel_qidx.extend([j] * len(keep))
            for i in emit_all:
                sel_rows.extend([i] * m)
                sel_qidx.extend(range(m))
            if not sel_rows:
                continue
            idx = pa.array(sel_rows, type=pa.int64())
            out_qids = pa.array(
                [q_ids_l[j] for j in sel_qidx], type=qid_atype
            )
            yield pa.RecordBatch.from_arrays(
                [ids.take(idx), vecs.take(idx), out_qids],
                names=["neighbor_id", "cvec", "query_id"],
            )

    return c.mapInArrow(prune, schema=out_schema)


N_PLANES = 16
N_BANDS = 8


def _plane_component(plane: int, dim: int) -> str:
    """Deterministic pseudo-gaussian component in [-1, 1)."""
    return (
        f"(CAST(conv(substr(md5(concat('{plane}:', CAST({dim} AS STRING))), "
        f"1, 8), 16, 10) AS DOUBLE) / 2147483648.0 - 1.0)"
    )


def with_lsh_signature(
    df: DataFrame, vec_col: str = "embedding", n_planes: int = N_PLANES
) -> DataFrame:
    """Sign-bit signature per row: bit p = sign(<v, plane_p>)."""
    proj = (
        f"transform(sequence(0, {n_planes - 1}), p -> "
        f"aggregate(zip_with({vec_col}, sequence(0, size({vec_col}) - 1), "
        f"(x, d) -> CAST(x AS DOUBLE) * "
        f"(CAST(conv(substr(md5(concat(CAST(p AS STRING), ':', "
        f"CAST(d AS STRING))), 1, 8), 16, 10) AS DOUBLE) / 2147483648.0 - 1.0)"
        f"), 0D, (acc, v) -> acc + v))"
    )
    sig = (
        f"transform({proj}, s -> CASE WHEN s >= 0D THEN 1 ELSE 0 END)"
    )
    return df.withColumn("lsh_sig", F.expr(sig))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates must share one LSH band, then exact
    cosine re-rank.  Recall < 1 by design; bench compares against brute force."""
    rows = N_PLANES // N_BANDS

    def banded(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        df = with_lsh_signature(df, vec_col)
        bands = F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.expr(
                        "concat_ws(',', slice(lsh_sig, {}, {}))".format(
                            b * rows + 1, rows
                        )
                    ).alias("band_key"),
                )
                for b in range(N_BANDS)
            ])
        ).alias("bk")
        return df.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(vec_alias),
            bands,
        ).select(id_alias, vec_alias, "bk.band_id", "bk.band_key")

    qb = banded(queries, "query_id", "qvec")
    cb = banded(corpus, "neighbor_id", "nvec")
    candidates = (
        cb.join(F.broadcast(qb), ["band_id", "band_key"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "qvec", "neighbor_id", "nvec")
        .distinct()
    )
    scored = candidates.withColumn(
        "cos", F.expr(_cosine_expr("qvec", "nvec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------

IVF_NLIST = 8
IVF_NPROBE = 3
IVF_SAMPLE = 256
IVF_ITERS = 5


def _fold_dot(a: list[float], b: list[float]) -> float:
    """Sequential left-fold dot product — matches the operation order of
    Spark's ``aggregate(zip_with(...))`` so doubles are bit-identical
    between the driver-side trainer, the Spark assignment expression, and
    the pure-Python golden oracle."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _norm(v: list[float]) -> float:
    acc = 0.0
    for x in v:
        acc += x * x
    return acc ** 0.5


def train_ivf_centroids(
    sample: list[list[float]],
    nlist: int = IVF_NLIST,
    iters: int = IVF_ITERS,
) -> list[list[float]]:
    """Deterministic spherical k-means over a (sorted, bounded) sample.

    This is the IVF *training* step, which is driver-side by design — the
    standard IVF recipe (FAISS) trains centroids on a bounded sample
    (~10^5-10^6 vectors) regardless of corpus size; only assignment and
    search are distributed.  Init is deterministic farthest-first
    (k-means++ shape without the RNG): seed with the first sample vector,
    then repeatedly take the vector least similar to its nearest chosen
    centroid, ties to the lowest index — robust to however the sample is
    ordered, unlike a stride over the sample.  Updates are plain Lloyd
    steps on L2-normalized vectors, ties go to the lowest cell index —
    fully reproducible, no RNG.  Init cost is O(n·k), the same as one
    Lloyd iteration.
    """
    if not sample:
        return []
    unit = []
    for v in sample:
        n = _norm(v)
        unit.append([x / n for x in v] if n > 0 else list(v))
    nlist = min(nlist, len(unit))
    cents = [unit[0]]
    # best_s[i] = similarity of unit[i] to its nearest chosen centroid
    best_s = [_fold_dot(unit[0], v) for v in unit]
    while len(cents) < nlist:
        far = min(range(len(unit)), key=lambda i: (best_s[i], i))
        cents.append(unit[far])
        for i, v in enumerate(unit):
            s = _fold_dot(unit[far], v)
            if s > best_s[i]:
                best_s[i] = s
    for _ in range(iters):
        sums = [[0.0] * len(unit[0]) for _ in range(nlist)]
        counts = [0] * nlist
        for v in unit:
            best, best_s = 0, None
            for ci, c in enumerate(cents):
                s = _fold_dot(c, v)
                if best_s is None or s > best_s:
                    best, best_s = ci, s
            counts[best] += 1
            for d, x in enumerate(v):
                sums[best][d] += x
        for ci in range(nlist):
            if counts[ci] == 0:
                continue  # empty cell keeps its previous centroid
            mean = [s / counts[ci] for s in sums[ci]]
            n = _norm(mean)
            if n > 0:
                cents[ci] = [x / n for x in mean]
    return cents


def sample_order_key(id_val) -> str:
    """Pure-Python twin of the sampling order key used by
    ``sample_for_training`` — md5 of the stringified id.  Golden/oracle
    generators sort by this to reproduce the exact sample outside Spark
    (Spark ``md5(cast(id as string))``, DuckDB ``md5(id::VARCHAR)`` and
    ``hashlib.md5`` all agree byte-for-byte)."""
    import hashlib

    return hashlib.md5(str(id_val).encode()).hexdigest()


def sample_for_training(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int = IVF_SAMPLE,
) -> list[list[float]]:
    """Bounded deterministic training sample, decorrelated from id order.

    Takes the ``n`` vectors with the lowest ``md5(cast(id as string))``
    (TakeOrdered — per-partition top-n then merge, no global sort, no
    RNG).  Hash order matters at scale: ids arrive clustered (one crawl
    segment, one domain, one shard), so an id-ordered head is a
    *correlated* sample and k-means degenerates to centroids that all
    describe the first shard — measured on a skewed synthetic corpus this
    left >half the corpus in over-cap cells (BENCH/SEMDEDUP.md).  Hashing
    the id gives a uniform draw over the corpus while staying fully
    deterministic and mirrorable outside Spark (``sample_order_key``);
    md5 rather than xxhash64 precisely so the pure-Python golden
    generators can reproduce the sample."""
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
        .limit(n)
        .collect()
    )
    return [[float(x) for x in r[vec_col]] for r in rows]


def _score_cells(cents: list[list[float]], vec_col: str):
    """Column expr: per-cell dot product of the (unnormalized) vector with
    every unit centroid.  Argmax over these equals argmax cosine — the
    vector's own norm is a positive constant across cells."""
    cents_col = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in cents]
    )
    vec = F.col(vec_col).cast("array<double>")
    return F.transform(
        cents_col,
        lambda c: F.aggregate(
            F.zip_with(c, vec, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )


def with_ivf_cell(
    df: DataFrame,
    cents: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Adds ``ivf_cell`` (1-based; ties → lowest index).  Native expression,
    zero shuffle — at scale this becomes the table's partition column."""
    return (
        df.withColumn("_ivf_scores", _score_cells(cents, vec_col))
        .withColumn(
            "ivf_cell",
            F.expr(
                "CAST(array_position(_ivf_scores, "
                "array_max(_ivf_scores)) AS INT)"
            ),
        )
        .drop("_ivf_scores")
    )


def with_ivf_cell_rounded(
    df: DataFrame,
    cents: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """``with_ivf_cell`` with per-cell scores rounded to 6dp before the
    argmax — the cross-engine-stable assignment used where a SQL oracle
    recomputes the same argmax (float fold-association differences between
    engines are ~1e-9; rounding makes the tie-break identical)."""
    return (
        df.withColumn(
            "_ivf_scores",
            F.transform(
                _score_cells(cents, vec_col), lambda s: F.round(s, 6)
            ),
        )
        .withColumn(
            "ivf_cell",
            F.expr(
                "CAST(array_position(_ivf_scores, "
                "array_max(_ivf_scores)) AS INT)"
            ),
        )
        .drop("_ivf_scores")
    )


SEMDEDUP_CELL_TARGET = 1024  # aim cells at ~10^3 docs (SemDeDup paper scale)
SEMDEDUP_NLIST_CAP = 65_536  # driver-side k-means training bound (FAISS-ish)


def semantic_nlist(n_docs: int) -> int:
    """Derive the SemDeDup cell count from corpus cardinality: target
    ~``SEMDEDUP_CELL_TARGET`` docs per cell so the within-cell self-join
    stays O(N · cell_size), never O((N/constant)²).  A fixed small nlist
    is a scale-killer — with 8 cells the pair join is all-pairs with a
    constant shaved off.  Capped at ``SEMDEDUP_NLIST_CAP`` because the
    deterministic trainer runs driver-side; past the cap (n_docs ≳ 6.7e7)
    the per-cell pair cap bounds the work and a real deployment trains
    centroids with FAISS/GPU and shards hierarchically."""
    return min(
        max(IVF_NLIST, -(-n_docs // SEMDEDUP_CELL_TARGET)),
        SEMDEDUP_NLIST_CAP,
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int | None = None,
    max_cell_size: int = 4 * SEMDEDUP_CELL_TARGET,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster embeddings (the IVF k-means cells), mark within-cell pairs with
    cosine ≥ ``threshold`` as semantic duplicates, connected-components
    them, and keep the lowest-id representative per component.

    Returns the KEPT (id) rows.  Per the published algorithm, only
    within-cluster pairs are compared — cross-cluster near-duplicates are
    the algorithm's accepted miss (that locality is what makes it run at
    corpus scale: the pair join is an equi-join on the cell id, never a
    full cross join).  Plan shape: one scan for assignment (native
    expression), a cell-keyed self-join bounded by cell size, then the
    O(diameter) min-label rounds of ``duplicate_clusters``.

    ``nlist`` defaults to ``semantic_nlist(corpus.count())`` — cells sized
    for ~10^3 docs each.  Cells that still exceed ``max_cell_size`` (skewed
    embedding mass: near-constant pages, SEO spam) are EXCLUDED from
    pairing — documented lower-bound semantics, the same escape hatch as
    the Jaccard ``max_shingle_df`` cap: their docs are all kept, never
    mis-merged, and the join can't blow up on one hot cell."""
    from wordscape_spark.operators import dedup as D

    if nlist is None:
        nlist = semantic_nlist(corpus.count())
    # the training sample must grow with nlist (k-means with fewer points
    # than centroids degenerates); bounded driver-side like FAISS's
    # train-on-sample recipe
    sample_n = max(IVF_SAMPLE, 32 * nlist)
    cents = train_ivf_centroids(
        sample_for_training(corpus, id_col, vec_col, n=sample_n), nlist
    )
    assigned = with_ivf_cell_rounded(corpus, cents, vec_col).select(
        F.col(id_col).alias("doc_id"), F.col(vec_col).alias("vec"),
        "ivf_cell",
    )
    # hot-cell cap: count-only aggregate (≤ nlist rows), broadcast semi-join
    ok_cells = (
        assigned.groupBy("ivf_cell")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") <= max_cell_size)
        .select("ivf_cell")
    )
    assigned = assigned.join(F.broadcast(ok_cells), "ivf_cell", "left_semi")
    a = assigned.select(
        F.col("doc_id").alias("doc_a"), F.col("vec").alias("va"), "ivf_cell"
    )
    b = assigned.select(
        F.col("doc_id").alias("doc_b"), F.col("vec").alias("vb"), "ivf_cell"
    )
    pairs = (
        a.join(b, "ivf_cell")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("cos", F.expr(_cosine_expr("va", "vb")))
        .filter(F.col("cos") >= F.lit(threshold))
        .select("doc_a", "doc_b")
    )
    clusters = D.duplicate_clusters(pairs)
    return D.keep_cluster_representatives(
        corpus.select(F.col(id_col).alias("doc_id")), clusters
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Approximate top-k via IVF: assign corpus to cells, probe each query's
    ``nprobe`` best cells, exact cosine re-rank of the candidates.

    Plan shape at scale: one corpus scan for assignment (or zero, with
    ``ivf_cell`` maintained as a partition column), a broadcast equi-join on
    the cell id, and a window top-k — no corpus shuffle.
    """
    cents = train_ivf_centroids(
        sample_for_training(corpus, id_col, vec_col), nlist
    )
    c = with_ivf_cell(corpus, cents, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        "ivf_cell",
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("cell_score"), F.asc("ivf_cell")
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.posexplode(_score_cells(cents, vec_col)).alias(
                "cell0", "cell_score"
            ),
        )
        .withColumn("ivf_cell", (F.col("cell0") + 1).cast("int"))
        .withColumn("probe_rank", F.row_number().over(probe_w))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "qvec", "ivf_cell")
    )
    scored = (
        c.join(F.broadcast(q), "ivf_cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", F.expr(_cosine_expr("qvec", "nvec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )
