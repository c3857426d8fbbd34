"""Resume-idempotence: kill a checkpointed run after k buckets, re-run,
output must be identical to an uninterrupted run."""

import json
import pathlib

import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrameReader

from wordscape_spark import datagen
from wordscape_spark.plans import checkpoint as CP


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(datagen.ensure_interleaved(0.001))


def _collect(df):
    rows = df.select("doc_id", "ok", "text", "quality").collect()
    return sorted((r["doc_id"], r["ok"], r["text"], r["quality"]) for r in rows)


def _recount(spark, out):
    """{bucket: (n_docs, n_ok, n_rejected)} of the committed bucket dirs,
    counted by a Spark scan of the data; an empty bucket is absent."""
    rows = (
        spark.read.option("basePath", str(out))
        .parquet(str(pathlib.Path(out) / "bucket=*"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("ok").cast("long")).alias("n_ok"),
        )
        .collect()
    )
    return {r["bucket"]: (r["n"], r["n_ok"], r["n"] - r["n_ok"]) for r in rows}


def _lineage_counts(spark, out):
    return {
        r["bucket"]: (r["n_docs"], r["n_ok"], r["n_rejected"])
        for r in CP.read_lineage(spark, str(out)).collect()
    }


def test_resume_after_failure_is_identical(spark, docs, tmp_path_factory):
    clean_dir = str(tmp_path_factory.mktemp("cp_clean"))
    resumed_dir = str(tmp_path_factory.mktemp("cp_resumed"))

    baseline = CP.run_extract_checkpointed(spark, docs, clean_dir, n_buckets=4)

    with pytest.raises(RuntimeError, match="injected failure"):
        CP.run_extract_checkpointed(
            spark, docs, resumed_dir, n_buckets=4, fail_after=2
        )
    assert len(CP.completed_buckets(resumed_dir)) == 2

    resumed = CP.run_extract_checkpointed(spark, docs, resumed_dir, n_buckets=4)
    assert _collect(baseline) == _collect(resumed)

    # lineage accounting covers every bucket exactly once
    lineage = CP.read_lineage(spark, resumed_dir).collect()
    assert sorted(r["bucket"] for r in lineage) == [0, 1, 2, 3]

    metrics = CP.metrics_table(spark, resumed_dir).first()
    assert metrics["total_docs"] == docs.count()
    assert metrics["docs_per_sec"] > 0


def test_rerun_completed_is_noop(spark, docs, tmp_path):
    out = str(tmp_path / "cp")
    CP.run_extract_checkpointed(spark, docs, out, n_buckets=2)
    lineage_before = pathlib.Path(out, "lineage.jsonl").read_text()
    CP.run_extract_checkpointed(spark, docs, out, n_buckets=2)
    assert pathlib.Path(out, "lineage.jsonl").read_text() == lineage_before


def test_single_extraction_pass_regardless_of_buckets(
    spark, docs, tmp_path, monkeypatch
):
    """The staged design scans/classifies ONCE for any n_buckets — the r3
    per-bucket rescan (8× read amplification) must not come back."""
    calls = []
    real_extract = CP.X.extract

    def counting_extract(df, cfg):
        calls.append(1)
        return real_extract(df, cfg)

    monkeypatch.setattr(CP.X, "extract", counting_extract)
    CP.run_extract_checkpointed(spark, docs, str(tmp_path / "cp"), n_buckets=8)
    assert len(calls) == 1


def test_crash_between_rename_and_lineage_keeps_data(spark, docs, tmp_path):
    """A crash AFTER a bucket's rename but BEFORE its lineage append must
    not wipe the renamed data on resume (the rename is the data commit;
    the lineage row is the bookkeeping commit).  The resumed lineage rows
    of such buckets must equal a recount of their data, both when the
    staging manifest still holds their counts and when it does not and
    the resume recounts the committed files."""
    out = tmp_path / "cp"
    with pytest.raises(RuntimeError, match="injected failure"):
        CP.run_extract_checkpointed(
            spark, docs, str(out), n_buckets=4, fail_after=1
        )
    # simulate the crash window: rename staged-but-uncommitted buckets
    # into the output without writing their lineage rows; the second
    # victim's counts are also dropped from the manifest
    staged = sorted((out / "_staging").glob("bucket=*"))
    assert len(staged) >= 2
    victims = staged[:2]
    for victim in victims:
        victim.rename(out / victim.name)
    manifest = out / "_staging" / "_manifest.json"
    m = json.loads(manifest.read_text())
    del m["bucket_stats"][victims[1].name.split("=", 1)[1]]
    manifest.write_text(json.dumps(m))

    resumed = CP.run_extract_checkpointed(spark, docs, str(out), n_buckets=4)
    assert resumed.count() == docs.count()
    lineage = _lineage_counts(spark, out)
    assert sorted(lineage) == [0, 1, 2, 3]
    assert all(n_docs > 0 for n_docs, _, _ in lineage.values())
    recount = _recount(spark, out)
    for victim in victims:
        bucket = int(victim.name.split("=", 1)[1])
        assert lineage[bucket] == recount[bucket]
    metrics = CP.metrics_table(spark, str(out)).first()
    assert metrics["total_docs"] == docs.count()


def test_lineage_counts_equal_recount_of_committed_data(spark, docs, tmp_path):
    """Per-bucket counts come from the staged files' footers: at 64 buckets
    (empty, all-ok and rejecting buckets alike) every lineage row must
    equal a Spark recount of its committed ``bucket=`` directory."""
    out = tmp_path / "cp"
    CP.run_extract_checkpointed(spark, docs, str(out), n_buckets=64)
    lineage = _lineage_counts(spark, out)
    assert sorted(lineage) == list(range(64))
    recount = _recount(spark, out)
    assert lineage == {b: recount.get(b, (0, 0, 0)) for b in range(64)}
    assert any(n_rej > 0 for _, _, n_rej in lineage.values())
    assert any(n > 0 and n_ok == n for n, n_ok, _ in lineage.values())


def test_no_staged_read_back_and_metrics_start_no_job(
    spark, docs, tmp_path, monkeypatch
):
    """The staging write is the run's only Spark job over data: nothing
    reads under ``_staging`` back.  The metrics row is computed from the
    lineage rows on the driver, so collecting it starts no Spark job, and
    it equals Spark's aggregate of the lineage table."""
    paths = []
    real_parquet = DataFrameReader.parquet

    def recording_parquet(self, *p, **options):
        paths.extend(p)
        return real_parquet(self, *p, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", recording_parquet)
    out = str(tmp_path / "cp")
    CP.run_extract_checkpointed(spark, docs, out, n_buckets=4)
    monkeypatch.undo()
    assert paths
    assert not [p for p in paths if "_staging" in str(p)]

    sc = spark.sparkContext
    group = "checkpoint-metrics-probe"
    sc.setJobGroup(group, "metrics_table")
    try:
        got = CP.metrics_table(spark, out).first()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    want = CP.read_lineage(spark, out).agg(
        F.sum("n_docs").alias("total_docs"),
        F.sum("n_ok").alias("total_ok"),
        F.sum("n_rejected").alias("total_rejected"),
        F.sum("wall_secs").alias("total_wall_secs"),
        F.expr("round(sum(n_docs) / sum(wall_secs), 3)").alias("docs_per_sec"),
    ).first()
    assert got == want
    assert got["total_docs"] == docs.count()


def test_resume_after_commit_crash_recomputes_nothing(
    spark, docs, tmp_path, monkeypatch
):
    """A crash BETWEEN bucket commits leaves complete staged data; resume
    must be commit-only — extraction must not run again."""
    out = str(tmp_path / "cp")
    with pytest.raises(RuntimeError, match="injected failure"):
        CP.run_extract_checkpointed(spark, docs, out, n_buckets=4, fail_after=1)
    assert len(CP.completed_buckets(out)) == 1

    def bomb(df, cfg):
        raise AssertionError("extract re-ran on a commit-only resume")

    monkeypatch.setattr(CP.X, "extract", bomb)
    resumed = CP.run_extract_checkpointed(spark, docs, out, n_buckets=4)
    assert resumed.count() == docs.count()
    assert sorted(
        r["bucket"] for r in CP.read_lineage(spark, out).collect()
    ) == [0, 1, 2, 3]


def test_resume_with_different_n_buckets_fails_loudly(spark, docs, tmp_path):
    """Bucket indices are only meaningful under the modulus that produced
    them: resuming an out_dir with a different n_buckets must raise, not
    silently commit a subset and delete the rest."""
    out = str(tmp_path / "cp")
    with pytest.raises(RuntimeError, match="injected failure"):
        CP.run_extract_checkpointed(spark, docs, out, n_buckets=8, fail_after=1)
    with pytest.raises(ValueError, match="n_buckets=8"):
        CP.run_extract_checkpointed(spark, docs, out, n_buckets=4)
    # the original modulus still resumes cleanly
    resumed = CP.run_extract_checkpointed(spark, docs, out, n_buckets=8)
    assert resumed.count() == docs.count()


def test_returned_schema_matches_plain_extract(spark, docs, tmp_path):
    """The checkpoint layout's partition column must not leak into the
    returned DataFrame — callers expect EXTRACTED_SCHEMA parity."""
    plain = CP.X.extract(docs)
    ckpt = CP.run_extract_checkpointed(
        spark, docs, str(tmp_path / "cp"), n_buckets=2
    )
    assert "bucket" not in ckpt.columns
    assert sorted(ckpt.columns) == sorted(plain.columns)


def test_empty_bucket_crash_window_recovers(spark, docs, tmp_path):
    """A crash after an EMPTY bucket's mkdir commit but before its lineage
    append must not block resume (a bare dir has no parquet schema)."""
    two = docs.limit(2)
    out = tmp_path / "cp"
    with pytest.raises(RuntimeError, match="injected failure"):
        CP.run_extract_checkpointed(
            spark, two, str(out), n_buckets=8, fail_after=1
        )
    # simulate the crash window on a bucket with no rows: bare dir in the
    # output, no lineage row, absent from staging
    uncommitted = [
        b for b in range(8)
        if b not in CP.completed_buckets(str(out))
        and not (out / "_staging" / f"bucket={b}").exists()
    ]
    assert uncommitted, "need at least one empty pending bucket"
    victim = uncommitted[0]
    (out / f"bucket={victim}").mkdir()

    resumed = CP.run_extract_checkpointed(spark, two, str(out), n_buckets=8)
    assert resumed.count() == 2
    lineage = {r["bucket"]: r for r in CP.read_lineage(spark, str(out)).collect()}
    assert sorted(lineage) == list(range(8))
    assert lineage[victim]["n_docs"] == 0


def test_footer_counts_without_statistics(tmp_path):
    """A file written without column statistics has no null counts in its
    footer: its ok rows are counted from the ``reject_reason`` column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {"doc_id": ["a", "b", "c"], "reject_reason": [None, "min_text", None]}
    )
    pq.write_table(table, tmp_path / "part-0.parquet", row_group_size=2)
    pq.write_table(
        table, tmp_path / "part-1.parquet", write_statistics=False
    )
    assert CP._footer_counts(tmp_path) == (6, 4)
    assert CP._footer_counts(tmp_path / "absent") == (0, 0)
