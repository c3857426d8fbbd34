"""The extraction operator — classified ordered span sequences per document.

Execution strategy (designed for 10^12-row scale):

* The input table has one row per document, so the normal path is a pure
  ``mapInArrow`` — **zero shuffle**: each Arrow batch of documents is
  classified independently.  (The reference's per-document two-pass heuristic
  would force a ``groupBy(doc_id)`` only if spans arrived exploded.)
* Skewed mega-documents (``size(spans) > cfg.salt_threshold``) would stall a
  task the way one huge doc stalls a reference worker (SURVEY §4.1).  They
  take the *salted path*, three Arrow stages: the task that reads a
  mega-doc splits it into chunks at element boundaries and attaches the
  document's font-heuristic state (additive per paragraph, merged in chunk
  order) to every chunk; the chunks are spread across the cluster and
  classified in parallel; the partial results are re-merged per document in
  chunk order and emitted through the same batch builders as the normal
  path.  Results are bit-identical to the single-pass path (tested).
* The size split is a Catalyst-visible predicate on the maintained
  ``n_spans`` column (pushed to the parquet scan) or on ``size(spans)``;
  oversized documents (``cfg.max_doc_spans``) become ``too_many_spans``
  reject rows without being classified.
"""

from __future__ import annotations

from collections import OrderedDict

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from wordscape_spark.config import DEFAULT_CONFIG, ExtractConfig
from wordscape_spark.core import classify as C

SPAN_TYPE = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

# classified output spans additionally carry the 1-based page number
# (page model, orm/models.py:132-187); the span-equality surface is still
# (kind, text, media_ref, offset)
OUT_SPAN_TYPE = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
        StructField("page", IntegerType()),
    ]
)

PAGE_TYPE = StructType(
    [
        StructField("page", IntegerType()),
        StructField("text", StringType()),
        StructField("counts", MapType(StringType(), LongType())),
    ]
)

INPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
    ]
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("ok", BooleanType()),
        StructField("reject_reason", StringType()),
        StructField("spans", ArrayType(OUT_SPAN_TYPE)),
        StructField("pages", ArrayType(PAGE_TYPE)),
        StructField("text", StringType()),
        StructField("counts", MapType(StringType(), LongType())),
        StructField("quality", DoubleType()),
        StructField("builtin_props", MapType(StringType(), DoubleType())),
        StructField("props", MapType(StringType(), StringType())),
        StructField("lang_tags", ArrayType(StringType())),
        StructField("num_words", LongType()),
        StructField("num_chars", LongType()),
        StructField("num_alph_chars", LongType()),
        StructField("num_numeric_chars", LongType()),
        StructField("num_alphnum_chars", LongType()),
        StructField("alnum_prop", DoubleType()),
        StructField("alph_to_num_ratio", DoubleType()),
    ]
)

# the span-equality surface alone (the north-star per-row invariant):
# skips doc text, page records, entity-count/props maps and text metrics —
# the return-leg Arrow→JVM conversion of those columns is the single
# largest cost of the full row at scale (they roughly triple the output
# string volume: doc text + per-page text duplicate every span text)
EXTRACTED_SLIM_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("ok", BooleanType()),
        StructField("reject_reason", StringType()),
        StructField("spans", ArrayType(OUT_SPAN_TYPE)),
    ]
)

# salted path, stage 1 → 2: one row per chunk; the document's merged
# font-heuristic state rides on every chunk row (NULL on a reject row)
_FONT_STATE_TYPE = StructType(
    [
        StructField("counts", MapType(StringType(), LongType())),
        StructField("apps", MapType(StringType(), LongType())),
        StructField(
            "tracker",
            ArrayType(
                StructType(
                    [
                        StructField("fp", StringType()),
                        StructField("level", IntegerType()),
                    ]
                )
            ),
        ),
    ]
)

_CHUNK_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("chunk_idx", IntegerType()),
        StructField("reject_reason", StringType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
        StructField("font_state", _FONT_STATE_TYPE),
    ]
)

# salted path, stage 2 → 3: one classified chunk (pages are chunk-local)
_PARTIAL_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("chunk_idx", IntegerType()),
        StructField("reject_reason", StringType()),
        StructField("spans", ArrayType(OUT_SPAN_TYPE)),
        StructField("pages", ArrayType(PAGE_TYPE)),
        StructField("text", StringType()),
        StructField("counts", MapType(StringType(), LongType())),
        # builtin/heuristic char mass per entity id (classify_elements)
        StructField(
            "char_counter", MapType(IntegerType(), ArrayType(DoubleType()))
        ),
        StructField("props", MapType(StringType(), StringType())),
        StructField("lang_tags", ArrayType(StringType())),
    ]
)

_INT_METRICS = (
    "num_words",
    "num_chars",
    "num_alph_chars",
    "num_numeric_chars",
    "num_alphnum_chars",
)
_FLOAT_METRICS = ("alnum_prop", "alph_to_num_ratio")


def _reject(reason: str, text: str = "") -> C.DocResult:
    return C.DocResult(False, reason, [], text, {}, 0.0, {})


def _safe_classify_tuples(
    tuples: list[tuple] | None, cfg: ExtractConfig
) -> C.DocResult:
    """Per-document fault isolation: a malformed document becomes a reject
    row instead of failing the task (the reference's failed_*.jsonl model,
    annotator_process.py:199-282 — at 10^12 rows one bad doc must never
    kill a job).  ``None`` is a NULL spans array (producer wrote a null, not
    []): a distinct marker, not error:TypeError from inside the
    classifier."""
    if tuples is None:
        return _reject("null_spans")
    try:
        return C.classify_document(tuples, cfg)
    except Exception as exc:  # noqa: BLE001 — intentional isolation boundary
        return _reject(f"error:{type(exc).__name__}")


# ---------------------------------------------------------------------------
# Arrow decode / encode shared by the main and salted paths
# ---------------------------------------------------------------------------


def _decode_docs(batch) -> list[tuple]:
    """``(doc_id, spans)`` per row of an Arrow batch with ``doc_id`` and
    ``spans`` columns; spans are (kind, text, media_ref, offset) tuples, or
    ``None`` for a NULL spans array.  Columns and struct fields are read BY
    NAME: a conforming table whose struct children are ordered differently
    (read_docs normalizes, but callers can hand extract() any DataFrame)
    must not be silently decoded in the wrong order."""
    doc_ids = batch.column("doc_id").to_pylist()
    spans_col = batch.column("spans")
    if spans_col.null_count:
        # NULL spans arrays: per-row decode.  A NULL span struct stays None
        # so it fails per-document (error:TypeError) inside the classifier
        return [
            (d, None if spans is None else [
                None if s is None
                else (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in spans
            ])
            for d, spans in zip(doc_ids, spans_col.to_pylist())
        ]
    # flat-child decode: one to_pylist per LEAF column instead of
    # materializing a dict per span (nested to_pylist) — measured 16%
    # faster end-to-end on the sf0.8 mix, and the classifier consumes
    # tuples directly with no dict hop
    offsets = spans_col.offsets.to_pylist()
    flat = spans_col.flatten()
    # kind strings repeat heavily (~6× at the corpus mix): dictionary-encode
    # so each distinct kind materializes ONE Python string (fewer
    # allocations, and the shared objects make the parse-cache dict lookups
    # identity-fast).  A NULL kind (malformed producer) keeps the plain
    # decode so it still fails per-document inside the classifier.
    kind_arr = flat.field("kind")
    if kind_arr.null_count == 0:
        enc = kind_arr.dictionary_encode()
        uniq = enc.dictionary.to_pylist()
        kinds = [
            uniq[i]
            for i in enc.indices.to_numpy(zero_copy_only=False).tolist()
        ]
    else:
        kinds = kind_arr.to_pylist()
    texts = flat.field("text").to_pylist()
    refs = flat.field("media_ref").to_pylist()
    offs = flat.field("offset").to_pylist()
    base = offsets[0]
    out = []
    for i, doc_id in enumerate(doc_ids):
        lo = offsets[i] - base
        hi = offsets[i + 1] - base
        out.append(
            (doc_id,
             list(zip(kinds[lo:hi], texts[lo:hi], refs[lo:hi], offs[lo:hi])))
        )
    return out


def _span_array(span_lists, page_lists=None) -> pa.ListArray:
    """``list<struct<kind,text,media_ref,offset[,page]>>`` built column-wise
    from per-row span tuples (and, for classified spans, per-row span
    pages) — no dict per span, one C-level array build per leaf."""
    cols: tuple[list, ...] = ([], [], [], [])
    pages: list = []
    offsets = [0]
    for i, spans in enumerate(span_lists):
        if spans:
            for col, vals in zip(cols, zip(*spans)):
                col.extend(vals)
            if page_lists is not None:
                pages.extend(page_lists[i])
        offsets.append(len(cols[0]))
    S = pa.string()
    I32 = pa.int32()
    children = [pa.array(cols[0], S), pa.array(cols[1], S),
                pa.array(cols[2], S), pa.array(cols[3], I32)]
    names = ["kind", "text", "media_ref", "offset"]
    if page_lists is not None:
        children.append(pa.array(pages, I32))
        names.append("page")
    return pa.ListArray.from_arrays(
        pa.array(offsets, I32),
        pa.StructArray.from_arrays(children, names=names),
    )


def _out_span_array(docs: list[C.DocResult]) -> pa.ListArray:
    return _span_array(
        [r.spans for r in docs],
        [
            r.span_pages
            if len(r.span_pages) == len(r.spans)
            else [1] * len(r.spans)
            for r in docs
        ],
    )


def _typed_batch(columns: list, arrow_schema: pa.Schema) -> pa.RecordBatch:
    """A RecordBatch of ``arrow_schema`` from one entry per field: a built
    Arrow array, or a Python list converted with the field's type (structs
    from tuples, maps from dicts in insertion order)."""
    return pa.RecordBatch.from_arrays(
        [
            c if isinstance(c, pa.Array) else pa.array(c, f.type)
            for c, f in zip(columns, arrow_schema)
        ],
        schema=arrow_schema,
    )


def _slim_columns(results) -> list:
    docs = [r for _, r in results]
    return [
        [d for d, _ in results],
        [r.ok for r in docs],
        [r.reject_reason for r in docs],
        _out_span_array(docs),
    ]


def _slim_record_batch(results, arrow_schema):
    """EXTRACTED_SLIM_SCHEMA rows from (doc_id, DocResult) pairs."""
    return _typed_batch(_slim_columns(results), arrow_schema)


def _full_record_batch(results, metrics, arrow_schema):
    """EXTRACTED_SCHEMA rows from (doc_id, DocResult) pairs and their D10
    text metrics."""
    docs = [r for _, r in results]
    return _typed_batch(
        _slim_columns(results)
        + [
            [r.pages for r in docs],
            [r.text for r in docs],
            [r.counts for r in docs],
            [float(r.quality) for r in docs],
            [r.builtin_props for r in docs],
            [r.props for r in docs],
            [r.lang_tags for r in docs],
        ]
        + [[int(m[k]) for m in metrics] for k in _INT_METRICS]
        + [[float(m[k]) for m in metrics] for k in _FLOAT_METRICS],
        arrow_schema,
    )


def _record_batch(results, slim: bool, arrow_schema):
    """The output batch of either surface.  D10 metrics are computed here,
    inside the classification UDF: they parallelize with classification at
    zero extra Arrow traffic, in one vectorized pass per batch.  (A native
    column-expression variant was measured slower end-to-end — JVM string
    passes over multi-MB mega-doc texts straggle; see operators/text.py
    metrics_exprs for the SQL-side twin used by the oracle.)"""
    if slim:
        return _slim_record_batch(results, arrow_schema)
    metrics = C.text_metrics_batch(
        [res.text if res.ok else "" for _, res in results]
    )
    return _full_record_batch(results, metrics, arrow_schema)


def _out_schema(slim: bool) -> StructType:
    return EXTRACTED_SLIM_SCHEMA if slim else EXTRACTED_SCHEMA


def _make_classify_arrow_fn(cfg: ExtractConfig, slim: bool = False):
    """mapInArrow classifier — the hot path.

    Skips the Arrow↔pandas round-trip entirely: spans are decoded leaf by
    leaf and results are rebuilt as a RecordBatch with an explicit schema
    (no pandas object-column inference).  Measured ~2× end-to-end
    extraction throughput vs mapInPandas on this schema — pandas
    materializes every nested struct as object arrays of dicts twice (in and
    out).  ``slim`` selects the span-surface row (``extract_slim``)."""
    arrow_schema = to_arrow_schema(_out_schema(slim))

    def classify_batches(batches):
        for batch in batches:
            results = [
                (doc_id, _safe_classify_tuples(tuples, cfg))
                for doc_id, tuples in _decode_docs(batch)
            ]
            if results:
                yield _record_batch(results, slim, arrow_schema)

    return classify_batches


# ---------------------------------------------------------------------------
# salted mega-document path
# ---------------------------------------------------------------------------


def _element_key(kind: str) -> tuple:
    tag, _, rest = kind.partition(";")
    if tag in ("r", "hp", "fp", "xp"):
        p = ""
        for field in rest.split(";"):
            if field.startswith("p="):
                p = field[2:]
                break
        return (tag, p)
    if tag == "tc":
        t = ""
        for field in rest.split(";"):
            if field.startswith("t="):
                t = field[2:]
                break
        return (tag, t)
    return (tag, object())  # sdt / fig: every span its own element


def _chunk_spans(spans: list[tuple], target: int) -> list[list[tuple]]:
    """Split ordered spans into chunks, never crossing an element boundary."""
    ordered = sorted(spans, key=lambda s: s[3])
    chunks: list[list[tuple]] = []
    cur: list[tuple] = []
    cur_key: tuple | None = None
    for span in ordered:
        key = _element_key(span[0])
        if len(cur) >= target and key != cur_key:
            chunks.append(cur)
            cur = []
        cur.append(span)
        cur_key = key
    if cur:
        chunks.append(cur)
    return chunks


def _font_state(chunks: list[list[tuple]], cfg: ExtractConfig) -> dict:
    """The document's font-heuristic accumulation state, paragraphs taken
    in chunk order — equal to per-chunk states merged in chunk order, since
    the state is additive per paragraph."""
    h = C.FontHeuristics(cfg)
    for chunk in chunks:
        for el in C.parse_elements(chunk):
            if isinstance(el, C.BodyPar):
                h._evaluate_paragraph(el)
    return {
        "counts": h.font_size_count,
        "apps": h.font_size_appearances,
        "tracker": h.builtin_heading_tracker,
    }


def _make_chunk_fn(cfg: ExtractConfig):
    """Stage 1 (mapInArrow): one task sees each whole mega-doc, so it
    chunks the doc and computes its font state in place; a rejected doc is
    one chunk row carrying the reject reason."""
    arrow_schema = to_arrow_schema(_CHUNK_SCHEMA)

    def chunk_batches(batches):
        for batch in batches:
            ids, idxs, reasons, chunk_spans, states = [], [], [], [], []
            for doc_id, tuples in _decode_docs(batch):
                reason = state = None
                chunks: list[list[tuple]] = [[]]
                if tuples is None:
                    reason = "null_spans"
                elif len(tuples) > cfg.max_doc_spans:
                    # oversized-doc gate (B1/C1 analog): reject unclassified
                    reason = "too_many_spans"
                else:
                    try:
                        chunks = _chunk_spans(tuples, cfg.salt_chunk_spans)
                        state = _font_state(chunks, cfg)
                    except Exception as exc:  # noqa: BLE001 — fault isolation
                        reason = f"error:{type(exc).__name__}"
                        chunks = [[]]
                for idx, chunk in enumerate(chunks):
                    ids.append(doc_id)
                    idxs.append(idx)
                    reasons.append(reason)
                    chunk_spans.append(chunk)
                    states.append(state)
            if ids:
                yield _typed_batch(
                    [ids, idxs, reasons, _span_array(chunk_spans), states],
                    arrow_schema,
                )

    return chunk_batches


def _heuristics_from_state(state: dict, cfg: ExtractConfig) -> C.FontHeuristics:
    h = C.FontHeuristics(cfg)
    h.merge_state(
        dict(state["counts"]),
        dict(state["apps"]),
        [(t["fp"], t["level"]) for t in state["tracker"]],
    )
    h.build()
    return h


def _classify_chunk(
    tuples: list[tuple], h: C.FontHeuristics
) -> tuple[C.DocResult, dict[int, list[float]]]:
    """One chunk classified with its document's font map: a partial
    DocResult (chunk-local offsets and pages, no quality) and the chunk's
    char counter, which the merge sums before scoring quality."""
    elements = C.parse_elements(tuples)
    out_spans, counter, counts, span_pages, pages = C.classify_elements(
        elements, h
    )
    props, lang_tags = C.element_meta(elements)
    part = C.DocResult(
        True, None,
        [(k, t, m, i) for i, (k, t, m) in enumerate(out_spans)],
        C.serialize_text(elements), counts, 0.0, {},
        span_pages=span_pages, pages=pages, props=props, lang_tags=lang_tags,
    )
    return part, counter


def _make_chunk_classify_fn(cfg: ExtractConfig):
    """Stage 2 (mapInArrow, after the salt shuffle): classify each chunk
    with its document's font map; reject rows pass through."""
    arrow_schema = to_arrow_schema(_PARTIAL_SCHEMA)

    def classify_chunks(batches):
        # bounded per-task LRU: evict one entry at a time so a task
        # interleaving chunks of >64 mega-docs re-derives only the coldest
        # heuristics map, not all of them
        cache: OrderedDict[str, C.FontHeuristics] = OrderedDict()

        def heuristics(doc_id, state) -> C.FontHeuristics:
            h = cache.get(doc_id)
            if h is None:
                h = cache[doc_id] = _heuristics_from_state(state.as_py(), cfg)
                if len(cache) > 64:
                    cache.popitem(last=False)
            else:
                cache.move_to_end(doc_id)
            return h

        for batch in batches:
            docs = _decode_docs(batch)
            parts = []
            counters = []
            for (doc_id, tuples), reason, state in zip(
                docs,
                batch.column("reject_reason").to_pylist(),
                batch.column("font_state"),
            ):
                if reason is not None:
                    part, counter = _reject(reason), {}
                else:
                    try:
                        part, counter = _classify_chunk(
                            tuples, heuristics(doc_id, state)
                        )
                    except Exception as exc:  # noqa: BLE001 — fault isolation
                        part = _reject(f"error:{type(exc).__name__}")
                        counter = {}
                parts.append(part)
                counters.append(counter)
            if parts:
                yield _typed_batch(
                    [
                        [doc_id for doc_id, _ in docs],
                        batch.column("chunk_idx").to_pylist(),
                        [r.reject_reason for r in parts],
                        _out_span_array(parts),
                        [r.pages for r in parts],
                        [r.text for r in parts],
                        [r.counts for r in parts],
                        counters,
                        [r.props for r in parts],
                        [r.lang_tags for r in parts],
                    ],
                    arrow_schema,
                )

    return classify_chunks


def _merge_partials(table: pa.Table, cfg: ExtractConfig) -> C.DocResult:
    """One document's DocResult from its classified chunks in chunk order:
    the first chunk reject wins, then the min-text gate on the joined text,
    then spans, pages and counters are concatenated/summed."""
    reasons = [
        r for r in table.column("reject_reason").to_pylist() if r is not None
    ]
    if reasons:
        return _reject(reasons[0])
    text = "\n".join(t for t in table.column("text").to_pylist() if t)
    if len(text) < cfg.min_text_chars:
        return _reject("min_text", text)
    spans_col = table.column("spans").combine_chunks()
    flat = spans_col.flatten()
    kinds, texts, refs, local_pages = (
        flat.field(f).to_pylist() for f in ("kind", "text", "media_ref", "page")
    )
    offsets = spans_col.offsets.to_pylist()
    base = offsets[0]
    span_pages: list[int] = []
    # page renumbering: chunk-local pages are 1-based; chunk i's page 1
    # continues the last page of chunk i-1 (a chunk boundary is never a
    # page break), so the running offset grows by (chunk_pages - 1)
    page_offset = 0
    merged_pages: dict[int, tuple[list[str], dict[str, int]]] = {}
    for i, chunk_pages in enumerate(table.column("pages").to_pylist()):
        lo = offsets[i] - base
        hi = offsets[i + 1] - base
        span_pages.extend(p + page_offset for p in local_pages[lo:hi])
        for p in chunk_pages:
            rec = merged_pages.setdefault(p["page"] + page_offset, ([], {}))
            if p["text"]:
                rec[0].append(p["text"])
            for k, v in p["counts"]:
                rec[1][k] = rec[1].get(k, 0) + v
        page_offset += max(len(chunk_pages) - 1, 0)
    counts: dict[str, int] = {}
    for chunk_counts in table.column("counts").to_pylist():
        for k, v in chunk_counts:
            counts[k] = counts.get(k, 0) + v
    counter: dict[int, list[float]] = {}
    for chunk_counter in table.column("char_counter").to_pylist():
        for ent_id, (b, h) in chunk_counter:
            slot = counter.setdefault(ent_id, [0.0, 0.0])
            slot[0] += b
            slot[1] += h
    props: dict[str, str] = {}
    lang_tags: set[str] = set()
    for chunk_props, chunk_tags in zip(
        table.column("props").to_pylist(), table.column("lang_tags").to_pylist()
    ):
        props.update(chunk_props)
        lang_tags.update(chunk_tags)
    quality, builtin_props = C.quality_from_counter(counter, counts)
    return C.DocResult(
        True,
        None,
        [(k, t, m, i) for i, (k, t, m) in enumerate(zip(kinds, texts, refs))],
        text,
        counts,
        quality,
        builtin_props,
        span_pages=span_pages,
        pages=[
            (p, "\n".join(parts), pc)
            for p, (parts, pc) in sorted(merged_pages.items())
        ],
        props=props,
        lang_tags=sorted(lang_tags),
    )


def _make_merge_fn(cfg: ExtractConfig, slim: bool):
    """Stage 3 (grouped applyInArrow by doc_id): one output row per
    mega-doc, built by the main path's batch builders."""
    arrow_schema = to_arrow_schema(_out_schema(slim))

    def merge(table):
        table = table.sort_by("chunk_idx")
        doc_id = table.column("doc_id")[0].as_py()
        res = _merge_partials(table, cfg)
        return pa.Table.from_batches(
            [_record_batch([(doc_id, res)], slim, arrow_schema)]
        )

    return merge


def _extract_salted(
    big: DataFrame, cfg: ExtractConfig, slim: bool
) -> DataFrame:
    """The salted mega-doc path: chunk → salt shuffle → classify → merge.
    The shuffles carry mega-doc rows only (few), and every stage has a
    single consumer, so nothing is cached or recomputed.  ``slim`` picks the
    output surface at the merge, so slim consumers never pay the fat Arrow
    return leg even for mega-docs."""
    return (
        big.select("doc_id", "spans")
        .mapInArrow(_make_chunk_fn(cfg), schema=_CHUNK_SCHEMA)
        # spread one doc's chunks across the cluster — this IS the salt
        .repartition("doc_id", "chunk_idx")
        .mapInArrow(_make_chunk_classify_fn(cfg), schema=_PARTIAL_SCHEMA)
        .groupBy("doc_id")
        .applyInArrow(_make_merge_fn(cfg, slim), schema=_out_schema(slim))
    )


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


def _extract(docs: DataFrame, cfg: ExtractConfig, slim: bool) -> DataFrame:
    # Exactly TWO scans of the input: the small path and the salted path.
    #
    # The split predicate prefers the MAINTAINED ``n_spans`` column (the
    # Iceberg-size-metadata analog, written by the table producer): a plain
    # column comparison pushes down to the parquet scan, so the mega-doc
    # branch is answered from row-group min/max statistics — it reads only
    # the handful of groups that can contain a mega-doc instead of decoding
    # the whole multi-GB spans column a second time (evidence:
    # BENCH/PRUNING.md).  Tables without the column fall back to
    # ``size(spans)``, which both branches must compute post-scan.
    #
    # A NULL n_spans (imperfect producer metadata) or NULL spans array
    # (size(NULL) is NULL, not -1, since Spark 3.0) satisfies neither size
    # predicate: route it down the small path so no row is silently
    # dropped (the kernel rejects a NULL spans array per-doc); IsNotNull on
    # the big branch still pushes down.
    if "n_spans" in docs.columns:
        n_spans = F.col("n_spans")
        unknown = n_spans.isNull()
    else:
        n_spans = F.size("spans")
        unknown = F.col("spans").isNull()
    small = docs.filter((n_spans <= F.lit(cfg.salt_threshold)) | unknown)
    big = docs.filter(n_spans > F.lit(cfg.salt_threshold))

    # (A heavy-first two-branch scan — union the >8k-span docs first so
    # their tasks start in wave 1 — was A/B-measured at pinned 16 cores and
    # showed no gain over the plain scan: 256 splits / 16 waves already
    # absorb the ~110k-span stragglers.  Kept out to avoid an extra scan.)
    small_out = small.select("doc_id", "spans").mapInArrow(
        _make_classify_arrow_fn(cfg, slim), schema=_out_schema(slim)
    )
    return small_out.unionByName(_extract_salted(big, cfg, slim))


def extract(docs: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """Classify every document; returns the EXTRACTED_SCHEMA DataFrame.

    ``docs`` must have (doc_id string, spans array<struct<kind,text,
    media_ref,offset>>).
    """
    return _extract(docs, cfg, slim=False)


def extract_slim(
    docs: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Classify every document, emitting ONLY the span-equality surface
    (EXTRACTED_SLIM_SCHEMA) — for pipelines that consume classified spans
    without the metadata columns.  Catalyst cannot prune columns through an
    opaque mapInArrow, so a caller that wants only spans must choose the
    slim function, not project afterward.  Same classifier, same salted
    mega-doc handling — the salted branch emits slim rows at its merge, so
    mega-doc-heavy tables skip the fat return leg too."""
    return _extract(docs, cfg, slim=True)


def spans_out(extracted: DataFrame) -> DataFrame:
    """The classified interleaved output table (the span-equality surface)."""
    return extracted.filter("ok").select("doc_id", "spans")


def doc_meta(extracted: DataFrame) -> DataFrame:
    return extracted.filter("ok").select(
        "doc_id",
        "text",
        "counts",
        "quality",
        "builtin_props",
        "pages",
        "props",
        "lang_tags",
        "num_words",
        "num_chars",
        "num_alph_chars",
        "num_numeric_chars",
        "num_alphnum_chars",
        "alnum_prop",
        "alph_to_num_ratio",
    )


def doc_meta_wide(extracted: DataFrame) -> DataFrame:
    """The reference's ORM-shaped metadata row: one ``num_<entity>`` column
    per taxonomy category (DocMetadataRecordDB, orm/models.py:49-129) plus
    quality + text metrics — materialized from the counts map with native
    element_at (no explode/pivot shuffle)."""
    from wordscape_spark import taxonomy as tax

    out = extracted.filter("ok")
    for name in tax.ENTITY_NAMES:
        out = out.withColumn(
            f"num_{name}",
            F.coalesce(F.element_at("counts", name), F.lit(0)).cast("long"),
        )
    return out.drop("spans", "pages", "counts", "builtin_props", "props",
                    "lang_tags", "text", "ok", "reject_reason")


def page_meta(extracted: DataFrame) -> DataFrame:
    """Per-page records — the PageMetadataRecordDB analog
    (orm/models.py:132-187): one row per physical page with page-level text
    and entity counts.  A plain explode: no shuffle, partitioning inherited
    from the extraction output."""
    return (
        extracted.filter("ok")
        .select("doc_id", F.explode("pages").alias("pg"))
        .select(
            "doc_id",
            F.col("pg.page").alias("page_number"),
            F.col("pg.text").alias("page_text"),
            F.col("pg.counts").alias("page_counts"),
        )
    )


def rejects(extracted: DataFrame) -> DataFrame:
    """Per-document fault isolation — the reference's failed_*.jsonl analog
    (annotator_process.py:769-778) as a side-output table."""
    return extracted.filter(~F.col("ok")).select("doc_id", "reject_reason")
