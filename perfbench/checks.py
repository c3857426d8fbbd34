"""Output checks, run after the timed region.

* Extraction: every document of the committed checkpoint output must carry
  the same (ok, reject_reason), the same ordered (kind, text, media_ref,
  offset, page) spans and the same document text as
  ``core.classify.classify_document`` gives in process, and the lineage
  ``n_docs`` must sum to the input's document count.
* Curation: the funnel counts and the surviving (doc_id, tokens) rows must
  equal an independent computation: Gopher gates and exact dedup in plain
  Python, MinHash signatures in DuckDB (same md5 definition as the
  engine), LSH candidates, Jaccard verify, union-find clusters and the
  per-(lang, stream) token budget in plain Python.
"""

from __future__ import annotations

import dataclasses
import decimal
import glob
import hashlib
import json
import multiprocessing
import os
import re
import time
from collections import defaultdict

import pyarrow.parquet as pq

# ---------------------------------------------------------------- extract


def _digest(spans, text) -> str:
    """Digest of a document's ordered (kind, text, media_ref, offset, page)
    spans and its text."""
    return hashlib.blake2b(repr((spans, text)).encode(),
                           digest_size=16).hexdigest()


def _expected_part(args: tuple) -> tuple[dict, float]:
    """In-process classification of one row group of an input file (runs
    in a worker)."""
    from wordscape_spark.config import ExtractConfig
    from wordscape_spark.core import classify as C

    path, row_group, cfg_fields = args
    cfg = ExtractConfig(**cfg_fields)
    out, kernel = {}, 0.0
    table = pq.ParquetFile(path).read_row_group(
        row_group, columns=["doc_id", "spans"])
    for doc_id, spans in zip(table["doc_id"].to_pylist(),
                             table["spans"].to_pylist()):
        if spans is None:
            out[doc_id] = (False, "null_spans", _digest([], ""))
            continue
        tuples = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                  for s in spans]
        t0 = time.process_time()
        try:
            res = C.classify_document(tuples, cfg)
            # the engine numbers every span page 1 when the page list does
            # not line up with the spans (extract._out_spans_to_rows)
            pages = (res.span_pages if len(res.span_pages) == len(res.spans)
                     else [1] * len(res.spans))
            out[doc_id] = (res.ok, res.reject_reason, _digest(
                [(*s, p) for s, p in zip(res.spans, pages)], res.text))
        except Exception as exc:  # noqa: BLE001
            # the engine isolates per-document faults as reject rows
            out[doc_id] = (False, f"error:{type(exc).__name__}", _digest([], ""))
        kernel += time.process_time() - t0
    return out, kernel


def _output_part(path: str) -> dict:
    table = pq.read_table(
        path, columns=["doc_id", "ok", "reject_reason", "spans", "text"])
    out = {}
    for doc_id, ok, reason, spans, text in zip(
        table["doc_id"].to_pylist(), table["ok"].to_pylist(),
        table["reject_reason"].to_pylist(), table["spans"].to_pylist(),
        table["text"].to_pylist(),
    ):
        key = doc_id if doc_id not in out else f"{doc_id}#dup"
        out[key] = (ok, reason, _digest(
            [(s["kind"], s["text"], s["media_ref"], s["offset"], s["page"])
             for s in spans or []], text))
    return out


@dataclasses.dataclass
class ExtractExpected:
    docs: dict
    kernel_s: float


def pool(nproc: int):
    """Worker pool for the extraction checks (spawned: the parent holds
    threads of its own)."""
    return multiprocessing.get_context("spawn").Pool(nproc)


def extract_expected(input_dir: str, cfg, workers) -> ExtractExpected:
    files = sorted(glob.glob(os.path.join(input_dir, "*.parquet")))
    fields = dataclasses.asdict(cfg)
    # one task per row group, so a worker that draws a huge document is
    # not also left with the rest of its file
    tasks = [(f, g, fields) for f in files
             for g in range(pq.ParquetFile(f).num_row_groups)]
    parts = workers.map(_expected_part, tasks, chunksize=1)
    docs: dict = {}
    for part, _ in parts:
        docs.update(part)
    return ExtractExpected(docs, sum(k for _, k in parts))


def extract_verify(out_dir: str, expected: ExtractExpected, workers) -> str | None:
    """None when the committed output matches, else the first mismatch."""
    files = sorted(glob.glob(os.path.join(out_dir, "bucket=*", "*.parquet")))
    if not files:
        return "no output files"
    got: dict = {}
    for part in workers.map(_output_part, files, chunksize=4):
        for k, v in part.items():
            got[k if k not in got else f"{k}#dup"] = v
    return _compare_docs(got, expected.docs) or _lineage_error(
        out_dir, len(expected.docs)
    )


def _compare_docs(got: dict, want: dict) -> str | None:
    missing = want.keys() - got.keys()
    extra = got.keys() - want.keys()
    if missing or extra:
        return (f"{len(missing)} docs missing, {len(extra)} unexpected "
                f"(e.g. {sorted(missing | extra)[:3]})")
    for doc_id, value in want.items():
        if got[doc_id] != value:
            return f"{doc_id}: got {got[doc_id]}, want {value}"
    return None


def lineage(out_dir: str) -> list[dict]:
    with open(os.path.join(out_dir, "lineage.jsonl"), encoding="utf-8") as f:
        return [json.loads(line) for line in f]


def _lineage_error(out_dir: str, n_docs: int) -> str | None:
    rows = lineage(out_dir)
    total = sum(int(r["n_docs"]) for r in rows)
    if total != n_docs or any(r["status"] != "done" for r in rows):
        return f"lineage n_docs sums to {total}, input has {n_docs}"
    return None


# ----------------------------------------------------------------- curate

# Gopher rule limits (Rae et al. 2021), as the curation job applies them
_STOP_WORDS = frozenset(("the", "be", "to", "of", "and", "that", "have", "with"))
_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java's \s
_BULLET = re.compile(r"^[ \t\n\x0b\f\r]*[•\-*]")
_ELLIPSIS = re.compile(r"(\.\.\.|…)[ \t\n\x0b\f\r]*$")
_ALPHA = re.compile("[a-z]")
_SENTINEL = 2**62
MINHASH_K, LSH_BANDS, SHINGLE_N = 16, 4, 3


def _round6(x: float) -> float:
    """Spark's round(x, 6) on a double: HALF_UP on its exact value."""
    return float(decimal.Decimal(x).quantize(
        decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP))


def _ratio(num: float, den: float) -> float:
    return _round6(num / den) if den > 0 else 0.0


def gopher_pass(text: str | None, min_words: int) -> bool:
    t = text or ""
    words = [w for w in _WS.split(t.lower()) if w]
    lines = [line for line in t.split("\n") if line]
    n = len(words)
    counts: dict[str, int] = defaultdict(int)
    for line in lines:
        counts[line] += 1
    dup_lines = sum(c for c in counts.values() if c > 1)
    dup_chars = sum(c * len(line) for line, c in counts.items() if c > 1)
    all_chars = sum(len(line) for line in lines)
    symbols = t.count("#") + t.count("...") + t.count("…")
    return (
        n >= min_words
        and 3.0 <= _ratio(sum(len(w) for w in words), n) <= 10.0
        and _ratio(symbols, n) <= 0.1
        and _ratio(sum(1 for x in lines if _BULLET.search(x)), len(lines)) <= 0.9
        and _ratio(sum(1 for x in lines if _ELLIPSIS.search(x)), len(lines)) <= 0.3
        and _ratio(sum(1 for w in words if _ALPHA.search(w)), n) >= 0.8
        and sum(1 for w in words if w in _STOP_WORDS) >= 2
        and _ratio(dup_lines, len(lines)) <= 0.3
        and _ratio(dup_chars, all_chars) <= 0.2
    )


def ws_tokens(text: str | None) -> int:
    t = (text or "").strip(" ")
    return 0 if not t else len(_WS.split(t))


def shingles(text: str) -> list[str]:
    toks = _WS.split(text.strip(" ").lower())
    if len(toks) < SHINGLE_N:
        return []
    return list(dict.fromkeys(
        " ".join(toks[i:i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)
    ))


def _band_keys(sh: dict[str, list[str]], threads: int) -> dict[str, list[str]]:
    """LSH band keys per doc: min over shingles of md5-derived 60-bit
    hashes for 16 seeds, 4 bands of 4 rows, each band md5'd."""
    import duckdb
    import pyarrow as pa

    ids = list(sh)
    flat = pa.table({
        "doc_id": [d for d in ids for _ in sh[d]],
        "s": [s for d in ids for s in sh[d]],
    })
    con = duckdb.connect()
    try:
        con.execute(f"SET threads={threads}")
        con.register("flat", flat)
        rows = con.execute(f"""
            SELECT doc_id, i,
                   min(('0x' || substr(md5(i::VARCHAR || ':' || s), 1, 15))::BIGINT)
            FROM flat, range({MINHASH_K}) r(i)
            GROUP BY doc_id, i
        """).fetchall()
    finally:
        con.close()
    mh = {d: [_SENTINEL] * MINHASH_K for d in ids}
    for doc_id, i, h in rows:
        mh[doc_id][i] = h
    rows_per = MINHASH_K // LSH_BANDS
    return {
        d: [hashlib.md5(",".join(str(x) for x in v[b * rows_per:(b + 1) * rows_per])
                        .encode()).hexdigest() for b in range(LSH_BANDS)]
        for d, v in mh.items()
    }


def _find(parent: dict, x: str) -> str:
    while parent[x] != x:
        parent[x] = parent[parent[x]]
        x = parent[x]
    return x


@dataclasses.dataclass
class CurateExpected:
    funnel: list[tuple]
    survivors: set[tuple]
    candidates: int
    verified: int


def curate_expected(input_dir: str, *, min_words: int, jaccard: float,
                    budget_per_lang: int, n_streams: int,
                    threads: int) -> CurateExpected:
    files = sorted(glob.glob(os.path.join(input_dir, "*.parquet")))
    docs = []
    for f in files:
        t = pq.read_table(f, columns=["doc_id", "lang", "text"])
        docs += zip(t["doc_id"].to_pylist(), t["lang"].to_pylist(),
                    t["text"].to_pylist())
    docs = [(str(d), lang, text, ws_tokens(text)) for d, lang, text in docs]
    quality = [r for r in docs if gopher_pass(r[2], min_words)]
    winner: dict[str, str] = {}
    for d, _, text, _ in quality:
        if text not in winner or d < winner[text]:
            winner[text] = d
    keep = set(winner.values())
    exact = [r for r in quality if r[0] in keep]

    sh = {r[0]: shingles(r[2]) for r in exact}
    buckets: dict[tuple, list[str]] = defaultdict(list)
    for d, keys in _band_keys(sh, threads).items():
        for b, k in enumerate(keys):
            buckets[(b, k)].append(d)
    cands = {(a, b) for ids in buckets.values()
             for a in ids for b in ids if a < b}
    shsets = {d: set(v) for d, v in sh.items()}
    pairs = []
    for a, b in cands:
        union = len(shsets[a] | shsets[b])
        if _ratio(len(shsets[a] & shsets[b]), union) >= jaccard:
            pairs.append((a, b))
    parent = {d: d for pair in pairs for d in pair}
    for a, b in pairs:
        ra, rb = _find(parent, a), _find(parent, b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    losers = {d for d in parent if _find(parent, d) != d}
    near = [r for r in exact if r[0] not in losers]

    per_stream = budget_per_lang // n_streams
    groups: dict[tuple, list[tuple]] = defaultdict(list)
    for r in near:
        stream = int(hashlib.md5(r[0].encode()).hexdigest()[:8], 16) % n_streams
        groups[(r[1], stream)].append(r)
    budget = []
    for rows in groups.values():
        cum = 0
        for r in sorted(rows):
            cum += r[3]
            if cum <= per_stream:
                budget.append(r)

    funnel = [
        (i, name, len(rows), sum(r[3] for r in rows))
        for i, (name, rows) in enumerate((
            ("input", docs), ("quality", quality), ("exact_dedup", exact),
            ("near_dedup", near), ("token_budget", budget)))
    ]
    return CurateExpected(
        funnel, {(r[0], r[3]) for r in budget}, len(cands), len(pairs)
    )


def curate_verify(out_dir: str, expected: CurateExpected) -> str | None:
    funnel = pq.read_table(os.path.join(out_dir, "funnel")).to_pylist()
    got = sorted((r["stage_order"], r["stage"], r["n_docs"], r["n_tokens"])
                 for r in funnel)
    if got != expected.funnel:
        return f"funnel {got} != {expected.funnel}"
    data = pq.read_table(os.path.join(out_dir, "dataset"),
                         columns=["doc_id", "tokens"]).to_pylist()
    survivors = [(r["doc_id"], r["tokens"]) for r in data]
    if len(survivors) != len(set(survivors)) or set(survivors) != expected.survivors:
        diff = set(survivors) ^ expected.survivors
        return f"survivors differ on {len(diff)} rows (e.g. {sorted(diff)[:3]})"
    return None
