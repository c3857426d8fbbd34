"""Span-sequence equality invariant: the distributed pipeline must reproduce
the single-node oracle (`classify_document`) exactly — (kind, text, media_ref,
order) per document — under any partitioning, including the salted
mega-document path."""

import dataclasses
import re
import warnings

import pytest
import pyspark.sql.functions as F

from wordscape_spark import datagen
from wordscape_spark.config import DEFAULT_CONFIG, ExtractConfig
from wordscape_spark.core import classify as C
from wordscape_spark.operators import extract as X


@pytest.fixture(scope="module")
def docs_path():
    return datagen.ensure_interleaved(0.001)


def _oracle_results(path, cfg):
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    out = {}
    for row in table.to_pylist():
        spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in row["spans"]
        ]
        out[row["doc_id"]] = C.classify_document(spans, cfg)
    return out


def _spark_results(spark, path, cfg):
    docs = spark.read.parquet(path)
    rows = X.extract(docs, cfg).collect()
    return {r["doc_id"]: r for r in rows}


def _assert_equal(spark_rows, oracle, cfg):
    assert set(spark_rows) == set(oracle)
    for doc_id, expected in oracle.items():
        got = spark_rows[doc_id]
        assert got["ok"] == expected.ok, doc_id
        assert got["reject_reason"] == expected.reject_reason, doc_id
        got_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in got["spans"]
        ]
        assert got_spans == expected.spans, f"span mismatch in {doc_id}"
        assert got["text"] == expected.text, doc_id
        assert dict(got["counts"]) == expected.counts, doc_id
        assert got["quality"] == pytest.approx(expected.quality), doc_id
        # page model: span→page assignment and per-page records must be
        # bit-identical under any path (incl. salted chunk/merge)
        got_pages = [s["page"] for s in got["spans"]]
        assert got_pages == expected.span_pages, f"span pages in {doc_id}"
        got_page_recs = [
            (p["page"], p["text"], dict(p["counts"])) for p in got["pages"]
        ]
        assert got_page_recs == [
            (p, t, dict(c)) for p, t, c in expected.pages
        ], f"page records in {doc_id}"
        assert dict(got["props"]) == expected.props, doc_id
        assert list(got["lang_tags"]) == expected.lang_tags, doc_id


def test_spark_matches_oracle(spark, docs_path):
    oracle = _oracle_results(docs_path, DEFAULT_CONFIG)
    got = _spark_results(spark, docs_path, DEFAULT_CONFIG)
    _assert_equal(got, oracle, DEFAULT_CONFIG)


def test_salted_path_is_exact(spark, docs_path):
    """Force (nearly) every document through the chunked mega-doc path and
    require bit-identical results to the single-pass oracle."""
    cfg = dataclasses.replace(DEFAULT_CONFIG, salt_threshold=20,
                              salt_chunk_spans=8)
    oracle = _oracle_results(docs_path, cfg)
    got = _spark_results(spark, docs_path, cfg)
    _assert_equal(got, oracle, cfg)


def test_partitioning_invariance(spark, docs_path):
    docs = spark.read.parquet(docs_path)
    a = {
        r["doc_id"]: r["text"]
        for r in X.extract(docs.repartition(17), DEFAULT_CONFIG).collect()
    }
    b = {
        r["doc_id"]: r["text"]
        for r in X.extract(docs.coalesce(1), DEFAULT_CONFIG).collect()
    }
    assert a == b


def test_salted_slim_equals_salted_full(spark, docs_path):
    """extract_slim's mega-doc branch emits slim rows at the chunk merge
    (never the fat EXTRACTED_SCHEMA); forcing (nearly) every doc through
    the salted path must still match the full path's span surface
    bit-for-bit (doc_id, ok, reject_reason, spans incl. page)."""
    cfg = dataclasses.replace(DEFAULT_CONFIG, salt_threshold=20,
                              salt_chunk_spans=8)
    docs = spark.read.parquet(docs_path)
    jsc = spark.sparkContext._jsc
    persisted_before = set(jsc.getPersistentRDDs().keySet().toArray())
    # planning and running both salted surfaces warns about nothing.
    # (ResourceWarning stays ignored, as by default: it comes from result
    # sockets pyspark leaves to the garbage collector, whenever it runs.)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        warnings.simplefilter("ignore", ResourceWarning)
        slim_df = X.extract_slim(docs, cfg)
        full_df = X.extract(docs, cfg)
        plan = full_df._jdf.queryExecution().executedPlan().toString()
        slim = {r["doc_id"]: r for r in slim_df.collect()}
        full = {r["doc_id"]: r for r in full_df.collect()}
    # ... and pins no cache (the salted chunks have a single consumer)
    assert set(jsc.getPersistentRDDs().keySet().toArray()) <= persisted_before
    # salted branch: chunk and classify MapInArrow + grouped merge; with
    # the main path's MapInArrow that is 3 + 1 Python nodes, all Arrow
    assert len(re.findall(r"\bMapInArrow\b", plan)) == 3, plan
    assert len(re.findall(r"\bFlatMapGroupsInArrow\b", plan)) == 1, plan
    for node in ("InPandas", "BroadcastHashJoin", "InMemoryTableScan"):
        assert node not in plan, plan
    assert set(slim) == set(full)
    for doc_id, f in full.items():
        s = slim[doc_id]
        assert s["ok"] == f["ok"], doc_id
        assert s["reject_reason"] == f["reject_reason"], doc_id
        assert s["spans"] == f["spans"], doc_id
    # and the slim schema stayed slim
    assert set(X.extract_slim(docs, cfg).columns) == {
        "doc_id", "ok", "reject_reason", "spans"
    }


def _oracle_reject_reason(spans, cfg):
    """classify_document's reject reason; a raise is an error:<Exc> reject."""
    try:
        return C.classify_document(spans, cfg).reject_reason
    except Exception as exc:  # noqa: BLE001
        return f"error:{type(exc).__name__}"


def test_null_spans_doc_rejects_not_vanishes(spark):
    """size(NULL) is NULL since Spark 3.0: without the guard, a NULL
    spans array satisfies neither side of the small/salted split and the
    doc silently vanishes.  It must surface as a 'null_spans' reject on
    BOTH the full and slim paths (and with/without a maintained n_spans
    column).  Oversized and malformed docs reject with classify_document's
    reason on the main and the salted path alike."""
    schema = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    run = "r;p={};s=;psz=12.0;pb=-;pi=-;sz=12.0;b=-;i=-;u=0;m=0;n=0"
    spans = {
        "ok_empty": [],
        "nullish": None,
        # over max_doc_spans below: rejected unclassified
        "too_big": [(run.format(i), "word " * 60, None, i) for i in range(6)],
        # malformed paragraph index: classify_document raises ValueError
        "bad_par": [(run.format(0), "t", None, 0),
                    (run.format("xy"), "t", None, 1)],
    }
    base = spark.createDataFrame(list(spans.items()), schema)
    with_meta = base.withColumn("n_spans", F.size("spans"))  # NULL for b2
    plain = dataclasses.replace(DEFAULT_CONFIG, max_doc_spans=5)
    # salted: every non-empty doc takes the chunk/classify/merge path
    salted = dataclasses.replace(plain, salt_threshold=1, salt_chunk_spans=1)
    for cfg in (plain, salted):
        expected = {
            d: _oracle_reject_reason(s, cfg)
            for d, s in spans.items() if s is not None
        }
        assert expected["too_big"] == "too_many_spans"
        assert expected["bad_par"] == "error:ValueError"
        expected["nullish"] = "null_spans"
        for docs in (base, with_meta):
            for fn in (X.extract, X.extract_slim):
                got = {
                    r["doc_id"]: r["reject_reason"]
                    for r in fn(docs, cfg)
                    .select("doc_id", "reject_reason").collect()
                }
                assert got == expected, (fn.__name__, cfg, got)


# Reference row-dict builders: one dict per row and per span, converted with
# RecordBatch.from_pylist.  The column-wise builders must match them.
def _out_spans_to_rows(spans: list[tuple], span_pages: list[int]) -> list[dict]:
    pages = span_pages if len(span_pages) == len(spans) else [1] * len(spans)
    return [
        {"kind": k, "text": t, "media_ref": m, "offset": o, "page": p}
        for (k, t, m, o), p in zip(spans, pages)
    ]


def _pages_to_rows(pages: list[tuple]) -> list[dict]:
    return [
        {"page": p, "text": t, "counts": {k: int(v) for k, v in c.items()}}
        for (p, t, c) in pages
    ]


def _result_row_slim(doc_id: str, res: C.DocResult) -> dict:
    return {
        "doc_id": doc_id,
        "ok": res.ok,
        "reject_reason": res.reject_reason,
        "spans": _out_spans_to_rows(res.spans, res.span_pages),
    }


def _result_row(doc_id: str, res: C.DocResult, metrics: dict) -> dict:
    return {
        **_result_row_slim(doc_id, res),
        "pages": _pages_to_rows(res.pages),
        "text": res.text,
        "counts": {k: int(v) for k, v in res.counts.items()},
        "quality": float(res.quality),
        "builtin_props": res.builtin_props,
        "props": res.props,
        "lang_tags": list(res.lang_tags),
        "num_words": int(metrics["num_words"]),
        "num_chars": int(metrics["num_chars"]),
        "num_alph_chars": int(metrics["num_alph_chars"]),
        "num_numeric_chars": int(metrics["num_numeric_chars"]),
        "num_alphnum_chars": int(metrics["num_alphnum_chars"]),
        "alnum_prop": float(metrics["alnum_prop"]),
        "alph_to_num_ratio": float(metrics["alph_to_num_ratio"]),
    }


def test_colwise_record_batch_matches_from_pylist():
    """The column-wise Arrow builders must be byte-identical to
    RecordBatch.from_pylist over the row dicts — including reject rows,
    empty spans, None media_refs and unicode."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from wordscape_spark import datagen
    from wordscape_spark.config import DEFAULT_CONFIG
    from wordscape_spark.core import classify as C
    from wordscape_spark.operators import extract as X

    import pyarrow.parquet as pq

    path = datagen.ensure_interleaved(0.001)
    pf = pq.ParquetFile(path)
    results = []
    for g in range(pf.num_row_groups):
        b = pf.read_row_group(g, columns=["doc_id", "spans"])
        ids = b.column("doc_id").to_pylist()
        spans = b.column("spans").to_pylist()
        for d, sp in zip(ids, spans):
            tuples = [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in sp
            ]
            results.append((d, X._safe_classify_tuples(tuples, DEFAULT_CONFIG)))
    # synthetic edge rows: reject (error), empty doc, unicode text
    results.append(("rej", C.DocResult(False, "error:X", [], "", {}, 0.0, {})))
    results.append(
        ("uni", X._safe_classify_tuples(
            [("r;p=0;s=;psz=12.0;pb=-;pi=-;sz=12.0;b=-;i=-;u=0;m=0;n=0",
              "héllo wörld ½" * 20, None, 0)],
            DEFAULT_CONFIG))
    )
    assert any(not r.ok for _, r in results)  # rejects are exercised

    slim_schema = to_arrow_schema(X.EXTRACTED_SLIM_SCHEMA)
    rows_slim = [_result_row_slim(d, r) for d, r in results]
    expect_slim = pa.RecordBatch.from_pylist(rows_slim, schema=slim_schema)
    assert X._slim_record_batch(results, slim_schema).equals(expect_slim)

    full_schema = to_arrow_schema(X.EXTRACTED_SCHEMA)
    metrics = C.text_metrics_batch(
        [r.text if r.ok else "" for _, r in results]
    )
    rows_full = [
        _result_row(d, r, m) for (d, r), m in zip(results, metrics)
    ]
    expect_full = pa.RecordBatch.from_pylist(rows_full, schema=full_schema)
    assert X._full_record_batch(results, metrics, full_schema).equals(
        expect_full
    )
