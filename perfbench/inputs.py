"""Seeded inputs for the three workloads.

Every input is a function of (workload, seed) alone: each document draws
from its own ``random.Random`` seeded with a string, so the same seed
gives byte-identical parquet on any host and with any number of worker
processes.  Inputs are cached under ``.perfbench/inputs`` in the checkout
(never under ``data/``), keyed by workload, seed and ``GEN_VERSION``; a
directory is complete once its ``_props.json`` exists (the leading
underscore keeps it out of Spark's parquet listing).
"""

from __future__ import annotations

import json
import multiprocessing
import os
import pathlib
import random
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

# bump when any generator below changes its output
GEN_VERSION = 3

# extract_bulk: the native mix of datagen.generate_table (a ~10-20k-span
# mega doc every 1000 docs, one inline ~110k-span monster doc), no doc
# above the salt threshold.
BULK_DOCS = 4000
BULK_MEGA_EVERY = 1000
# extract_skew: ordinary docs plus planted ~110k-span docs that the job's
# salt threshold routes to the salted path (see jobs.SKEW_SALT_THRESHOLD).
SKEW_DOCS = 1000
SKEW_PLANTED = 2
# curate_dups: base docs, a tenth of them low quality, plus exact copies
# and near copies (a few words replaced) of other base docs.
DUPS_BASE = 1700
DUPS_LOW_QUALITY = 0.10
DUPS_EXACT = 0.10
DUPS_NEAR = 0.10
DUPS_NEAR_EDIT = 0.02
# part files per extract input (fixed, so output does not depend on nproc)
PARTS = 4
ROW_GROUP = 256

_STOP = ("the", "be", "to", "of", "and", "that", "have", "with", "a", "in",
         "is", "for", "on", "as", "by", "it", "was", "from")
_CONTENT = {
    "en": ("report system value data model table market energy result "
           "section analysis figure period growth total annual policy "
           "research project development management information network "
           "customer quality process service standard budget").split(),
    "de": ("bericht system wert daten modell tabelle markt energie "
           "ergebnis abschnitt analyse zeitraum wachstum gesamt politik "
           "forschung projekt entwicklung verwaltung netzwerk").split(),
    "fr": ("rapport système valeur données modèle tableau marché énergie "
           "résultat section analyse période croissance politique "
           "recherche projet développement gestion réseau").split(),
}


def _rng(seed: int, kind: str, i: int) -> random.Random:
    return random.Random(f"{kind}:{seed}:{i}")


def _extract_part(args: tuple) -> dict:
    """Generate one part file of an extract input (runs in a worker)."""
    from wordscape_spark import datagen as G

    kind, seed, n_docs, lo, hi, planted, path = args
    ids, spans = [], []
    for i in range(lo, hi):
        rng = _rng(seed, kind, i)
        if kind == "bulk":
            doc = G.generate_doc(
                f"doc-{i:08d}", rng,
                mega=i > 0 and i % BULK_MEGA_EVERY == 0,
                monster=i == n_docs // 2,
            )
        else:
            doc = G.generate_doc(f"doc-{i:08d}", rng, monster=i in planted)
        ids.append(doc.doc_id)
        spans.append(doc.rows())
    table = pa.Table.from_pydict(
        {"doc_id": ids, "spans": spans, "n_spans": [len(s) for s in spans]},
        schema=G.SCHEMA,
    )
    pq.write_table(table, path, row_group_size=ROW_GROUP)
    return {"docs": len(ids), "n_spans": [len(s) for s in spans]}


def _gen_extract(kind: str, seed: int, out: pathlib.Path, nproc: int) -> dict:
    if kind == "bulk":
        n, planted = BULK_DOCS, ()
    else:
        n = SKEW_DOCS + SKEW_PLANTED
        planted = tuple(n * (k + 1) // (SKEW_PLANTED + 1)
                        for k in range(SKEW_PLANTED))
    bounds = [n * p // PARTS for p in range(PARTS + 1)]
    tasks = [
        (kind, seed, n, bounds[p], bounds[p + 1], planted,
         str(out / f"part-{p:02d}.parquet"))
        for p in range(PARTS)
    ]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(min(nproc, PARTS)) as pool:
        parts = pool.map(_extract_part, tasks)
        pool.close()
        pool.join()
    sizes = [x for part in parts for x in part["n_spans"]]
    return {
        "docs": sum(p["docs"] for p in parts),
        "spans": sum(sizes),
        "max_doc_spans": max(sizes),
        "planted_docs": len(planted),
    }


def _sentence(rng: random.Random, lang: str) -> str:
    words = [
        rng.choice(_STOP) if rng.random() < 0.35 else rng.choice(_CONTENT[lang])
        for _ in range(rng.randint(8, 16))
    ]
    return " ".join(words).capitalize() + "."


def _text(rng: random.Random, lang: str) -> str:
    lines = []
    for _ in range(rng.randint(3, 8)):
        lines.append(" ".join(_sentence(rng, lang)
                              for _ in range(rng.randint(1, 2))))
    return "\n".join(lines)


def _low_quality_text(rng: random.Random, lang: str) -> str:
    if rng.random() < 0.5:  # too few words
        return " ".join(rng.choice(_CONTENT[lang]) for _ in range(rng.randint(3, 8)))
    # hashtag-heavy: symbol/word ratio far above the Gopher limit
    return "\n".join(
        " ".join(f"#{w}" if rng.random() < 0.4 else w
                 for w in _sentence(rng, lang).split())
        for _ in range(rng.randint(3, 6))
    )


def _near_copy(rng: random.Random, text: str, lang: str) -> str:
    lines = [line.split(" ") for line in text.split("\n")]
    slots = [(a, b) for a, ws in enumerate(lines) for b in range(len(ws))]
    for a, b in rng.sample(slots, max(1, round(len(slots) * DUPS_NEAR_EDIT))):
        lines[a][b] = rng.choice(_CONTENT[lang])
    return "\n".join(" ".join(ws) for ws in lines)


def _gen_dups(seed: int, out: pathlib.Path) -> dict:
    rng = _rng(seed, "dups", -1)
    rows = []
    for i in range(DUPS_BASE):
        r = _rng(seed, "dups", i)
        lang = r.choices(("en", "de", "fr"), (0.6, 0.2, 0.2))[0]
        low = r.random() < DUPS_LOW_QUALITY
        text = _low_quality_text(r, lang) if low else _text(r, lang)
        rows.append((f"d{i:07d}", lang, text))
    n_exact = int(DUPS_BASE * DUPS_EXACT)
    n_near = int(DUPS_BASE * DUPS_NEAR)
    sources = rng.sample(range(DUPS_BASE), n_exact + n_near)
    nxt = DUPS_BASE
    for k, src in enumerate(sources):
        _, lang, text = rows[src]
        if k >= n_exact:
            text = _near_copy(rng, text, lang)
        rows.append((f"d{nxt:07d}", lang, text))
        nxt += 1
    rng.shuffle(rows)
    table = pa.table({
        "doc_id": [r[0] for r in rows],
        "lang": [r[1] for r in rows],
        "text": [r[2] for r in rows],
    })
    pq.write_table(table, out / "part-00.parquet", row_group_size=ROW_GROUP)
    return {
        "docs": len(rows),
        "tokens": sum(len(r[2].split()) for r in rows),
        "exact_copies": n_exact,
        "near_copies": n_near,
        "dup_density": (n_exact + n_near) / len(rows),
        "near_edit_frac": DUPS_NEAR_EDIT,
    }


def prepare(workload: str, seed: int, cache: pathlib.Path,
            nproc: int) -> tuple[str, dict]:
    """Path of the workload's input directory and its properties."""
    kind = {"extract_bulk": "bulk", "extract_skew": "skew",
            "curate_dups": "dups"}[workload]
    final = cache / f"{kind}-s{seed}-v{GEN_VERSION}"
    props_file = final / "_props.json"
    if props_file.exists():
        return str(final), json.loads(props_file.read_text())
    tmp = cache / f".tmp-{uuid.uuid4().hex}"
    tmp.mkdir(parents=True)
    try:
        if kind == "dups":
            props = _gen_dups(seed, tmp)
        else:
            props = _gen_extract(kind, seed, tmp, nproc)
        props["bytes"] = sum(p.stat().st_size for p in tmp.glob("*.parquet"))
        (tmp / "_props.json").write_text(json.dumps(props))
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return str(final), props
