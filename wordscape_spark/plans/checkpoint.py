"""Checkpointed, resumable extraction runs with lineage + metrics tables.

The reference resumes by reconciling logs against listings and anti-joining
already-processed hashes (cc_parse_merge_and_recover_urls.py:71-101,
download_dump_data.py:155-160).  Here the same pattern is table-ified:

* the input is split into ``n_buckets`` deterministic partitions
  (``pmod(xxhash64(doc_id), n)`` — the analog of Iceberg ``bucket(doc_id)``
  partitions on a real cluster);
* ONE extraction pass covers every pending bucket and writes
  ``partitionBy("bucket")`` into a staging directory (read amplification =
  the plain extract scan, NOT n_buckets full rescans — a hash-of-id
  predicate can never push down, so per-bucket filtering would re-read the
  whole input once per bucket: 800 TB of reads at 100 TB × 8 buckets);
* each staged bucket is then *committed*: its directory is atomically
  renamed into the output and a row is appended to the ``lineage`` table
  (bucket, status, n_docs, n_ok, n_rejected, wall_secs, docs_per_sec);
* on restart, committed buckets are skipped, and staged-but-uncommitted
  buckets from a crashed run are reused (the staging write is atomic via
  Spark's _SUCCESS commit protocol + a manifest), so a crash between
  commits resumes with ZERO recompute; a crash mid-staging discards the
  partial staging and re-extracts only the pending buckets.

Staging reuse assumes the input is immutable between kill and resume —
exactly the guarantee an Iceberg snapshot gives on a real cluster, where
this driver loop becomes Iceberg's atomic per-partition commits.

Per-bucket ``wall_secs`` attributes the shared staging pass proportionally
to the bucket's row count (the pass classifies all pending buckets at
once) plus that bucket's own commit time.

The staging write is the run's only Spark job over data.  Per-bucket
counts come from the staged files' parquet footers, read on the driver —
the analog of Iceberg's data-file metrics (``record_count``,
``null_value_counts``), which are merged without rescanning the files —
and the metrics table is computed from the lineage rows.
"""

from __future__ import annotations

import json
import pathlib
import shutil
import time

import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StructField, StructType

from wordscape_spark.config import DEFAULT_CONFIG, ExtractConfig
from wordscape_spark.operators import extract as X

LINEAGE_SCHEMA = (
    "bucket INT, status STRING, n_docs LONG, n_ok LONG, n_rejected LONG, "
    "wall_secs DOUBLE, docs_per_sec DOUBLE"
)

# what run_extract_checkpointed returns: the committed bucket dirs read
# with their known schema (no footer-inference job)
_COMMITTED_SCHEMA = StructType(
    X.EXTRACTED_SCHEMA.fields + [StructField("bucket", IntegerType())]
)


def _lineage_path(out_dir: str) -> pathlib.Path:
    return pathlib.Path(out_dir) / "lineage.jsonl"


def _lineage_rows(out_dir: str) -> list[dict]:
    p = _lineage_path(out_dir)
    if not p.exists():
        return []
    return [json.loads(line) for line in p.read_text().splitlines()]


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    p = _lineage_path(out_dir)
    if not p.exists():
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    return spark.read.schema(LINEAGE_SCHEMA).json(str(p))


def completed_buckets(out_dir: str) -> set[int]:
    return {
        int(row["bucket"])
        for row in _lineage_rows(out_dir)
        if row.get("status") == "done"
    }


def _footer_counts(bucket_dir: pathlib.Path) -> tuple[int, int]:
    """``(n, n_ok)`` of one bucket directory from its parquet footers, read
    on the driver: ``n`` sums the row counts, ``n_ok`` the null counts of
    ``reject_reason`` (NULL exactly on ok rows — every reject carries a
    reason).  A row group written without a null count is counted from
    that file's column instead.  A directory with no data files, or none
    at all, is ``(0, 0)``."""
    n = n_ok = 0
    for f in bucket_dir.glob("*.parquet"):
        if f.name.startswith(("_", ".")):  # hidden, as Spark's listing
            continue
        md = pq.read_metadata(f)
        col = [
            md.schema.column(i).path for i in range(md.num_columns)
        ].index("reject_reason")
        stats = [
            md.row_group(g).column(col).statistics
            for g in range(md.num_row_groups)
        ]
        if all(st is not None and st.has_null_count for st in stats):
            n_ok += sum(st.null_count for st in stats)
        else:
            n_ok += pq.read_table(f, columns=["reject_reason"])[0].null_count
        n += md.num_rows
    return n, n_ok


def _read_manifest(staging: pathlib.Path) -> dict | None:
    manifest = staging / "_manifest.json"
    if not manifest.exists() or not (staging / "_SUCCESS").exists():
        return None
    return json.loads(manifest.read_text())


def _staged_buckets(staging: pathlib.Path, n_buckets: int) -> set[int]:
    """Buckets reusable from a previous (possibly killed) run: requires the
    Spark _SUCCESS commit marker AND our manifest, AND the manifest's
    bucketing modulus to match this call's — staging written under a
    different ``n_buckets`` partitions the corpus differently, so reusing
    it would commit only the bucket dirs that exist under the new modulus
    and silently drop the rest.  Mismatch → not reusable → restaged."""
    m = _read_manifest(staging)
    if m is None or m.get("n_buckets") != n_buckets:
        return set()
    return set(m["buckets"])


def _check_run_meta(out: pathlib.Path, n_buckets: int) -> None:
    """Pin ``n_buckets`` for the lifetime of an output directory.  Bucket
    indices in lineage rows and ``bucket=`` dirs are only meaningful under
    the modulus that produced them; resuming with a different one would
    mix two incompatible partitionings of the same corpus — fail loudly
    instead (the Iceberg analog: you can't change a table's bucket spec
    mid-snapshot without a rewrite)."""
    meta = out / "_run_meta.json"
    if meta.exists():
        prior = json.loads(meta.read_text()).get("n_buckets")
        if prior != n_buckets:
            raise ValueError(
                f"checkpoint dir {out} was created with n_buckets={prior}; "
                f"resuming with n_buckets={n_buckets} would corrupt bucket "
                "accounting — use the original value or a fresh out_dir"
            )
    else:
        meta.write_text(json.dumps({"n_buckets": n_buckets}))


def run_extract_checkpointed(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    fail_after: int | None = None,
) -> DataFrame:
    """Run extraction with per-bucket commit + resume, scanning the input
    ONCE regardless of ``n_buckets``.

    ``fail_after`` aborts after N bucket commits (test hook for
    kill/resume).  Returns the unioned extracted output read from disk.
    """
    out = pathlib.Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    _check_run_meta(out, n_buckets)
    lineage = _lineage_path(str(out))
    staging = out / "_staging"

    done = completed_buckets(str(out))
    pending = [b for b in range(n_buckets) if b not in done]

    staging_wall = 0.0
    if pending:
        staged = _staged_buckets(staging, n_buckets)
        if not set(pending) <= staged:
            # (re-)stage: one extraction pass over every pending bucket.
            # The bucket assignment is recomputed on the OUTPUT from doc_id
            # (deterministic), so extract() needs no passthrough column.
            shutil.rmtree(staging, ignore_errors=True)
            t0 = time.monotonic()
            bucket_col = F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast(
                "int"
            )
            part = docs.withColumn("bucket", bucket_col)
            if done:  # resume with fresh staging: skip committed buckets
                part = part.filter(F.col("bucket").isin(pending))
            extracted = X.extract(part.drop("bucket"), cfg).withColumn(
                "bucket", bucket_col
            )
            # hash-distribute by bucket before the partitioned write —
            # Iceberg's write.distribution-mode=hash: one task per bucket
            # writes one file run instead of every task writing a sliver
            # into every bucket dir (task×bucket small files kill object
            # stores at scale).  The cost is one shuffle of the extracted
            # output; size n_buckets ≥ cluster write parallelism so the
            # write stage isn't throttled (8 here is a sandbox default —
            # a 1000-executor run wants 1024+ buckets).
            (
                extracted.repartition("bucket")
                .write.partitionBy("bucket")
                .mode("overwrite")
                .parquet(str(staging))
            )
            staging_wall = time.monotonic() - t0
            # per-bucket counts for proportional wall attribution, from the
            # staged files' footers — never the input, nor the data again.
            # Persisted in the manifest so a commit-only resume attributes
            # staging_wall against the ORIGINAL totals even after some
            # buckets have been renamed out of staging.  Empty buckets
            # wrote no directory and have no entry.
            stats = {
                int(d.name.split("=", 1)[1]): _footer_counts(d)
                for d in staging.glob("bucket=*")
            }
            (staging / "_manifest.json").write_text(
                json.dumps(
                    {
                        "buckets": pending,
                        "n_buckets": n_buckets,
                        "staging_wall": round(staging_wall, 3),
                        "bucket_stats": {
                            str(b): [n, n_ok] for b, (n, n_ok) in stats.items()
                        },
                    }
                )
            )
        else:
            # crash happened between commits: staged data is complete,
            # resume is commit-only with zero recompute — counts come from
            # the manifest (covers buckets already renamed out of staging)
            m = _read_manifest(staging) or {}
            staging_wall = float(m.get("staging_wall", 0.0))
            stats = {
                int(b): (int(n), int(n_ok))
                for b, (n, n_ok) in m.get("bucket_stats", {}).items()
            }
        total_staged = sum(n for n, _ in stats.values()) or 1

        commits = 0
        for bucket in pending:
            t0 = time.monotonic()
            n, n_ok = stats.get(bucket, (0, 0))
            src = staging / f"bucket={bucket}"
            dst = out / f"bucket={bucket}"
            if src.exists():
                shutil.rmtree(dst, ignore_errors=True)
                src.rename(dst)  # atomic on one filesystem
            elif dst.exists():
                # a prior run crashed BETWEEN this rename and its lineage
                # append: the data is already in place — keep it (never
                # wipe a renamed bucket).  Counts normally come from the
                # manifest's bucket_stats; otherwise from the committed
                # files' footers (a bare dir committed via mkdir is 0, 0).
                if bucket not in stats:
                    n, n_ok = _footer_counts(dst)
            else:
                dst.mkdir(parents=True)  # empty bucket: commit the marker
            wall = (time.monotonic() - t0) + staging_wall * (n / total_staged)
            row = {
                "bucket": bucket,
                "status": "done",
                "n_docs": n,
                "n_ok": n_ok,
                "n_rejected": n - n_ok,
                "wall_secs": round(wall, 3),
                "docs_per_sec": round(n / wall, 3) if wall > 0 else 0.0,
            }
            # append-only commit record — written *after* the bucket's data
            with lineage.open("a") as f:
                f.write(json.dumps(row) + "\n")
            commits += 1
            if fail_after is not None and commits >= fail_after:
                raise RuntimeError(f"injected failure after {commits} buckets")
        shutil.rmtree(staging, ignore_errors=True)

    # drop the discovered partition column: callers get EXTRACTED_SCHEMA
    # parity with a plain extract() (unionByName / contract writes must not
    # see an extra int column that only exists because of the checkpoint
    # layout)
    return (
        spark.read.schema(_COMMITTED_SCHEMA)
        .option("basePath", str(out))
        .parquet(str(out / "bucket=*"))
        .drop("bucket")
    )


def metrics_table(spark: SparkSession, out_dir: str) -> DataFrame:
    """Aggregate run metrics (the reference monitor's pages/s analog,
    annotate_run.py:65-156) from lineage rows.  The sums are taken on the
    driver and bound as literals of a local relation, so no Spark job runs;
    ``docs_per_sec`` keeps Spark's ``round`` (HALF_UP) semantics."""
    rows = _lineage_rows(out_dir)

    def total(key):
        return sum(r[key] for r in rows) if rows else None

    return spark.sql(
        """SELECT d AS total_docs, o AS total_ok, r AS total_rejected,
                  w AS total_wall_secs, round(d / w, 3) AS docs_per_sec
           FROM VALUES (CAST(:d AS BIGINT), CAST(:o AS BIGINT),
                        CAST(:r AS BIGINT), CAST(:w AS DOUBLE)) AS t(d, o, r, w)""",
        args={
            "d": total("n_docs"),
            "o": total("n_ok"),
            "r": total("n_rejected"),
            "w": total("wall_secs"),
        },
    )
