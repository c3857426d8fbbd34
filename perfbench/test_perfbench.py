"""Unit tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import pathlib
import random
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from perfbench import checks, inputs, sparkmetrics, tracing  # noqa: E402
from perfbench.sparkmetrics import Node, parse_metric  # noqa: E402

HEADER = "total (min, med, max (stageId: taskId))\n"


# ------------------------------------------------------------ metric parser


def test_parse_timing_with_task_distribution():
    v = parse_metric("17.9 s (49 ms, 443 ms, 4.4 s (stage 47.0: task 362))")
    assert v.unit == "s"
    assert v.total == pytest.approx(17.9)
    assert (v.min, v.med, v.max) == pytest.approx((0.049, 0.443, 4.4))
    assert v.stage == 47


def test_parse_size_with_header_line():
    v = parse_metric(
        HEADER + "65.0 MiB (967.4 KiB, 1926.5 KiB, 16.7 MiB (stage 11.0: task 60))"
    )
    assert v.unit == "B"
    assert v.total == pytest.approx(65.0 * 2**20)
    assert v.max == pytest.approx(16.7 * 2**20)
    assert v.stage == 11


def test_parse_driver_side_max_and_plain_forms():
    v = parse_metric(HEADER + "35.0 MiB (1363.5 KiB, 8.3 MiB, 17.5 MiB (driver))")
    assert v.total == pytest.approx(35.0 * 2**20) and v.stage is None
    assert parse_metric("5,000") == sparkmetrics.MetricValue(5000.0, "count")
    assert parse_metric("29 ms").total == pytest.approx(0.029)
    assert parse_metric("1.5 m").total == pytest.approx(90.0)
    assert parse_metric("0.0 B").total == 0.0


def test_parse_rejects_non_numeric():
    assert parse_metric("N/A") is None
    assert parse_metric("") is None


# -------------------------------------------------------- node -> layer map


def _m(text: str):
    return parse_metric(text)


def _plan() -> dict[int, Node]:
    """write <- Exchange(bucket) <- Union <- {Project <- MapInArrow <-
    Scan(input), Project <- FlatMapGroupsInPandas <- Exchange <- MapInPandas
    <- Scan(input)}; each Project runs in a codegen cluster, both in the
    union's stage 11."""
    nodes = [
        Node(0, "Execute InsertIntoHadoopFsRelationCommand", "", {
            "written output": _m("18.3 MiB"),
            "number of written files": _m("64")}),
        Node(1, "Exchange", "", {"shuffle bytes written": _m(
            "33.5 MiB (700.7 KiB, 1487.7 KiB, 15.0 MiB (stage 11.0: task 60))")},
            parent=0),
        Node(2, "Union", "", {}, parent=1),
        Node(3, "MapInArrow", "", {
            "time to run Python workers": _m(
                "15.4 s (21 ms, 481 ms, 4.6 s (stage 11.0: task 60))"),
            "time to start Python workers": _m("285 ms"),
            "time to initialize Python workers": _m("5.5 s"),
            "data sent to Python workers": _m("40.3 MiB"),
            "data returned from Python workers": _m("71.7 MiB")}, parent=10),
        Node(4, "Scan parquet ", "Location: [file:/data/in]", {
            "size of files read": _m("11.4 MiB"),
            "number of output rows": _m("5,000")}, parent=3),
        Node(5, "FlatMapGroupsInPandas", "", {
            "time to run Python workers": _m(
                "9.3 s (1 ms, 2 ms, 9.3 s (stage 11.0: task 7))"),
            "number of output rows": _m("2")}, parent=11),
        Node(6, "Exchange", "", {"shuffle bytes written": _m("4.0 MiB")},
             parent=5),
        Node(7, "MapInPandas", "", {
            "time to run Python workers": _m("2.0 s"),
            "number of output rows": _m("31")}, parent=6),
        Node(8, "Scan parquet ", "Location: [file:/data/in]", {
            "size of files read": _m("1.0 MiB"),
            "number of output rows": _m("2")}, parent=7),
        Node(9, "WholeStageCodegen (5)", "", {"duration": _m(
            "16.2 s (15 ms, 546 ms, 4.8 s (stage 11.0: task 60))")},
             members=(10,)),
        Node(10, "Project", "", {}, parent=2),
        Node(11, "Project", "", {}, parent=2),
        Node(12, "WholeStageCodegen (6)", "", {"duration": _m(
            "9.9 s (1 ms, 2 ms, 9.9 s (stage 11.0: task 7))")},
             members=(11,)),
    ]
    return {n.id: n for n in nodes}


def test_node_layers_follow_the_consumer():
    nodes = _plan()
    layer = {i: sparkmetrics.node_layer(nodes, n, "/data/in")
             for i, n in nodes.items()}
    assert layer[1] == "checkpoint"  # the write's repartition
    assert layer[6] == "salted"  # the merge-partials shuffle
    assert layer[4] == layer[8] == "tables"
    assert layer[3] == "extract"
    assert layer[9] == "other"  # a cluster has no parent edge of its own


def test_layer_totals():
    t = sparkmetrics.layer_totals([_plan()], "/data/in")
    assert t["extract.py_run_s"] == pytest.approx(15.4)
    assert t["extract.task_max_s"] == pytest.approx(4.6)
    assert t["extract.task_skew"] == pytest.approx(4.6 / 0.481)
    assert t["extract.arrow_in_mb"] == pytest.approx(40.3)
    assert t["extract.codegen_s"] == pytest.approx(16.2)
    assert t["salted.py_run_s"] == pytest.approx(11.3)
    assert t["salted.docs"] == 2 and t["salted.chunks"] == 31
    assert t["salted.shuffle_mb"] == pytest.approx(4.0)
    assert t["checkpoint.shuffle_mb"] == pytest.approx(33.5)
    assert t["checkpoint.write_mb"] == pytest.approx(18.3)
    assert t["checkpoint.files"] == 64
    assert t["tables.read_mb"] == pytest.approx(12.4)
    assert t["tables.rows"] == 5002
    assert t["python.init_s"] == pytest.approx(5.5)
    assert t["all.shuffle_mb"] == pytest.approx(37.5)


# ------------------------------------------------------------------ tracing


def test_self_time_subtracts_the_union_of_children():
    tr = tracing.Tracer()
    parent = tracing.Span(tr.trace_id, "p", None, "p", 0.0, 10.0)
    tr.spans = [
        parent,
        tracing.Span(tr.trace_id, "a", "p", "a", 1.0, 4.0),
        tracing.Span(tr.trace_id, "b", "p", "b", 3.0, 5.0),  # overlaps a
        tracing.Span(tr.trace_id, "c", "p", "c", 8.0, 9.0),
        tracing.Span(tr.trace_id, "d", "a", "d", 1.5, 2.0),  # grandchild
    ]
    assert tr.self_time(parent) == pytest.approx(10.0 - 4.0 - 1.0)
    assert {s.span_id for s in tr.descendants(parent)} == {"a", "b", "c", "d"}


def test_overhead_counts_the_hooks_not_the_work():
    tr = tracing.Tracer(on_enter=lambda s: time.sleep(0.02),
                        on_exit=lambda s, p: time.sleep(0.02))
    with tr.span("outer"):
        time.sleep(0.2)
    assert 0.04 <= tr.overhead_s < 0.15


def test_span_hooks_see_parent():
    seen = []
    tr = tracing.Tracer(on_enter=lambda s: seen.append(("in", s.name)),
                        on_exit=lambda s, p: seen.append(("out", s.name,
                                                          p and p.name)))
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert seen == [("in", "outer"), ("in", "inner"),
                    ("out", "inner", "outer"), ("out", "outer", None)]
    assert {r["trace_id"] for r in tr.to_records()} == {tr.trace_id}


# ------------------------------------------------------- extraction checks


@pytest.fixture(scope="module")
def extract_case(tmp_path_factory):
    """A small generated input, its expected digests, and a committed
    output written from the in-process classifier."""
    from wordscape_spark import datagen as G
    from wordscape_spark.config import DEFAULT_CONFIG
    from wordscape_spark.core import classify as C

    root = tmp_path_factory.mktemp("extract")
    docs = [G.generate_doc(f"doc-{i:08d}", random.Random(i)) for i in range(12)]
    pq.write_table(pa.Table.from_pydict(
        {"doc_id": [d.doc_id for d in docs], "spans": [d.rows() for d in docs],
         "n_spans": [len(d.rows()) for d in docs]}, schema=G.SCHEMA),
        root / "in.parquet")
    rows = []
    for d in docs:
        res = C.classify_document([tuple(s.values()) for s in d.rows()])
        pages = res.span_pages or [1] * len(res.spans)
        rows.append({
            "doc_id": d.doc_id, "ok": res.ok, "reject_reason": res.reject_reason,
            "spans": [{"kind": k, "text": t, "media_ref": m, "offset": o,
                       "page": p} for (k, t, m, o), p in zip(res.spans, pages)],
            "text": res.text,
        })
    with checks.pool(2) as workers:
        expected = checks.extract_expected(str(root), DEFAULT_CONFIG, workers)
    return root, rows, expected


@pytest.fixture(scope="module")
def workers():
    with checks.pool(2) as p:
        yield p


def _write_output(out: pathlib.Path, rows: list[dict], n_docs=None) -> str:
    (out / "bucket=0").mkdir(parents=True)
    pq.write_table(pa.Table.from_pylist(rows), out / "bucket=0" / "part-0.parquet")
    (out / "lineage.jsonl").write_text(json.dumps(
        {"bucket": 0, "status": "done",
         "n_docs": len(rows) if n_docs is None else n_docs}) + "\n")
    return str(out)


def test_extract_check_accepts_the_classifier_output(extract_case, workers,
                                                     tmp_path):
    _, rows, expected = extract_case
    out = _write_output(tmp_path, rows)
    assert checks.extract_verify(out, expected, workers) is None
    assert expected.kernel_s > 0


def test_extract_check_catches_a_corrupted_span(extract_case, workers, tmp_path):
    _, rows, expected = extract_case
    bad = json.loads(json.dumps(rows))
    victim = next(r for r in bad if r["spans"])
    victim["spans"][0]["text"] += "x"
    err = checks.extract_verify(_write_output(tmp_path, bad), expected, workers)
    assert err and victim["doc_id"] in err


def test_extract_check_catches_a_misnumbered_page(extract_case, workers,
                                                  tmp_path):
    _, rows, expected = extract_case
    bad = json.loads(json.dumps(rows))
    victim = next(r for r in bad if r["spans"])
    victim["spans"][-1]["page"] += 1
    err = checks.extract_verify(_write_output(tmp_path, bad), expected, workers)
    assert err and victim["doc_id"] in err


def test_extract_check_catches_a_changed_doc_text(extract_case, workers,
                                                  tmp_path):
    _, rows, expected = extract_case
    bad = json.loads(json.dumps(rows))
    victim = next(r for r in bad if r["text"])
    victim["text"] = victim["text"][:-1]
    err = checks.extract_verify(_write_output(tmp_path, bad), expected, workers)
    assert err and victim["doc_id"] in err


def test_extract_check_catches_reordered_spans(extract_case, workers, tmp_path):
    _, rows, expected = extract_case
    bad = json.loads(json.dumps(rows))
    victim = next(r for r in bad if len(r["spans"]) > 1)
    victim["spans"].reverse()
    assert checks.extract_verify(_write_output(tmp_path, bad), expected, workers)


def test_extract_check_catches_missing_docs_and_bad_lineage(extract_case,
                                                            workers, tmp_path):
    _, rows, expected = extract_case
    assert checks.extract_verify(
        _write_output(tmp_path / "a", rows[1:]), expected, workers)
    assert "lineage" in checks.extract_verify(
        _write_output(tmp_path / "b", rows, n_docs=len(rows) + 1), expected, workers)


# --------------------------------------------------------- curation checks


def test_gopher_gate_and_tokens():
    good = "The report of the system and the data.\nIt was a model with value."
    assert checks.gopher_pass(good, 10)
    assert not checks.gopher_pass("report system data", 10)  # too short
    assert not checks.gopher_pass("#the #of #and #to " * 5, 10)  # symbols
    assert not checks.gopher_pass((good.split("\n")[0] + "\n") * 6, 10)  # dup lines
    assert checks.ws_tokens("  a b\tc\n d ") == 4
    assert checks.ws_tokens("   ") == 0
    assert checks.shingles("A b c b c") == ["a b c", "b c b", "c b c"]


@pytest.fixture(scope="module")
def curate_case(tmp_path_factory, monkeypatch_module):
    monkeypatch_module.setattr(inputs, "DUPS_BASE", 300)
    root = tmp_path_factory.mktemp("dups")
    inp = root / "in"
    inp.mkdir()
    props = inputs._gen_dups(3, inp)
    expected = checks.curate_expected(
        str(inp), min_words=10, jaccard=0.5, budget_per_lang=4000,
        n_streams=4, threads=1)
    return props, expected


@pytest.fixture(scope="module")
def monkeypatch_module():
    mp = pytest.MonkeyPatch()
    yield mp
    mp.undo()


def test_curate_expected_shape(curate_case):
    props, exp = curate_case
    counts = [row[2] for row in exp.funnel]
    assert counts[0] == props["docs"]
    assert counts == sorted(counts, reverse=True)
    assert counts[2] < counts[1]  # exact copies removed
    assert counts[3] < counts[2]  # near copies removed
    assert counts[4] < counts[3]  # budget trims
    assert 0 < exp.verified <= exp.candidates
    assert len(exp.survivors) == counts[4]


def _write_curate(out: pathlib.Path, funnel: list[tuple], survivors) -> str:
    (out / "funnel").mkdir(parents=True)
    (out / "dataset").mkdir()
    pq.write_table(pa.Table.from_pylist([
        {"stage_order": i, "stage": s, "n_docs": n, "n_tokens": t}
        for i, s, n, t in funnel]), out / "funnel" / "part-0.parquet")
    pq.write_table(pa.Table.from_pylist(
        [{"doc_id": d, "tokens": t} for d, t in sorted(survivors)]),
        out / "dataset" / "part-0.parquet")
    return str(out)


def test_curate_check_accepts_and_catches(curate_case, tmp_path):
    _, exp = curate_case
    assert checks.curate_verify(
        _write_curate(tmp_path / "ok", exp.funnel, exp.survivors), exp) is None
    funnel = list(exp.funnel)
    i, s, n, t = funnel[3]
    funnel[3] = (i, s, n + 1, t)
    assert "funnel" in checks.curate_verify(
        _write_curate(tmp_path / "f", funnel, exp.survivors), exp)
    fewer = set(sorted(exp.survivors)[1:])
    assert "survivors" in checks.curate_verify(
        _write_curate(tmp_path / "s", exp.funnel, fewer), exp)

