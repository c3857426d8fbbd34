import pyspark.sql.functions as F
import pytest

from wordscape_spark.operators import dedup as D


def test_connected_components(spark):
    # two clusters: {a,b,c,d} chained, {x,y}; singleton z untouched
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "doc_a string, doc_b string",
    )
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in D.duplicate_clusters(pairs).collect()
    }
    assert labels == {"a": "a", "b": "a", "c": "a", "d": "a",
                      "x": "x", "y": "x"}



def test_connected_components_budget_and_empty(spark):
    # a 4-node chain needs more than two propagation rounds: the budget
    # is enforced rather than split clusters returned
    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "doc_a string, doc_b string"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.duplicate_clusters(chain, max_iterations=2)
    # no pairs: the single observed round on empty input still reports
    empty = spark.createDataFrame([], "doc_a string, doc_b string")
    assert D.duplicate_clusters(empty).collect() == []

def test_keep_representatives(spark):
    docs = spark.createDataFrame(
        [(d, f"text {d}") for d in "abcdxyz"], "doc_id string, text string"
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "doc_a string, doc_b string"
    )
    clusters = D.duplicate_clusters(pairs)
    kept = sorted(
        r["doc_id"]
        for r in D.keep_cluster_representatives(docs, clusters).collect()
    )
    assert kept == ["a", "d", "x", "z"]


def test_long_chain_plan_stays_bounded(spark):
    # A 14-hop chain forces ~log(diameter) extra propagation rounds; the
    # labels frame is consumed twice per round, so without per-iteration
    # lineage truncation (localCheckpoint) the logical plan doubles each
    # round and the final plan string explodes into the megabytes.  Pin
    # both the correctness of the deep chain and a sane plan size.
    n = 15
    ids = [f"d{i:02d}" for i in range(n)]
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)],
        "doc_a string, doc_b string",
    )
    labels = D.duplicate_clusters(pairs)
    plan = labels._jdf.queryExecution().analyzed().toString()
    assert len(plan) < 100_000, f"plan grew to {len(plan)} chars"
    rows = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert rows == {i: ids[0] for i in ids}


def test_end_to_end_minhash_clustering(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.selectExpr("CAST(doc_id AS STRING) doc_id", "text").unionByName(
        docs.filter("doc_id % 20 = 0").selectExpr(
            "CAST(doc_id + 1000 AS STRING) doc_id", "text"
        )
    )
    pairs = D.minhash_duplicate_pairs(corpus, threshold=0.8, fast=True)
    clusters = D.duplicate_clusters(pairs)
    kept = D.keep_cluster_representatives(corpus, clusters)

    # exactly the non-representative cluster members are removed
    n_losers = clusters.filter("doc_id != cluster_id").count()
    assert kept.count() == corpus.count() - n_losers

    # an exact planted copy is never kept together with its original
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    for r in docs.filter("doc_id % 20 = 0").select("doc_id").collect():
        orig, copy = str(r["doc_id"]), str(r["doc_id"] + 1000)
        assert not (orig in kept_ids and copy in kept_ids)



def test_minhash_pairs_single_signature_pass(spark):
    """Near-dedup pins no cache: the band self-join's two sides share one
    exchange, so the signature expressions run once per document, and
    no persisted frame is left behind by the call."""
    rows = [
        (f"d{i:02d}", " ".join(f"w{i}x{j}" for j in range(30)))
        for i in range(12)
    ]
    rows += [(f"c{i:02d}", text) for i, (_, text) in enumerate(rows[:4])]
    corpus = spark.createDataFrame(rows, "doc_id string, text string")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())

    pairs = D.minhash_duplicate_pairs(corpus, threshold=0.8)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}

    assert got == {(f"c{i:02d}", f"d{i:02d}") for i in range(4)}
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    final = plan[plan.index("== Final Plan =="):plan.index("== Initial Plan ==")]
    assert final.count("array_min(") == D.MINHASH_K, final
    assert "InMemoryTableScan" not in final, final
    assert set(jsc.getPersistentRDDs().keySet()) <= before

def test_shingles_tokenizer_bound_once(spark):
    """The shingle transform must bind the token array once: CollapseProject
    inlining the split() into the per-shingle lambda re-tokenizes the
    document per element — O(tokens²) per doc (measured 9.2 s → 0.4 s on a
    50k-doc corpus when fixed).  Same guard as simhash/winnowing."""
    import pyspark.sql.functions as F

    from wordscape_spark.operators import dedup as D

    df = spark.createDataFrame([("d", "a b c d e")], "doc_id string, text string")
    optimized = (
        df.withColumn("sh", F.expr(D.shingles_expr("text", "spark")))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert optimized.count("split(") == 1, optimized


def test_dsir_grams_tokenizer_bound_once(spark):
    """DSIR's unigram+bigram gram expression must likewise tokenize once
    (the bigram lambda previously re-split per gram)."""
    import pyspark.sql.functions as F

    from wordscape_spark.operators import dsir as DS

    df = spark.createDataFrame([("d", "a b c d e")], "doc_id string, text string")
    optimized = (
        df.withColumn("g", F.expr(DS.gram_expr("text")))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert optimized.count("split(") == 1, optimized
