"""Legacy ``.doc`` (Word 97-2003 binary) text-level ingestion.

The reference converts ``.doc`` → ``.docx`` through a LibreOffice unoserver
subprocess before annotating
(/root/reference/app/src/annotation/soffice/conversion_manager.py:161-223) —
a boundary a Spark executor can't ship.  This module implements the
text-level half natively instead: a pure-stdlib reader for the two public
formats involved ([MS-CFB] compound file + [MS-DOC] piece table) that
recovers the main-document *text and paragraph structure* and emits it in
the interleaved span grammar, so ``extract()`` runs unchanged downstream.

Scope (documented): CHARACTER formatting (CHPX FKPs — bold via sprmCFBold
0x0835, font size via sprmCHps 0x4A43) is decoded and feeds the C10/C11
font heuristics: per paragraph, the properties of its first character
(paragraph-uniform in practice for converted docs).  PARAGRAPH styles are
decoded too (r6): PAPX FKPs via the PlcfbtePapx bin table give each
paragraph its ``istd``, resolved to a style NAME through the stylesheet
(STSH at FIB fcStshf) — so Word-97 builtin-styled headings ("heading 1"…)
take the C8 builtin-style prefix path exactly like .docx input, no
LibreOffice conversion required (the reference's route,
soffice/conversion_manager.py:46-120).  Still out of scope: PAPX sprm
overrides beyond the istd (direct paragraph formatting), style
inheritance chains (istdBase), and UPX-level style definitions — name
resolution is the classification-relevant surface.

Reader structure:

* ``CfbFile`` — [MS-CFB] v3/v4: DIFAT → FAT chains, directory tree,
  miniFAT + ministream for streams under the 4096-byte cutoff.
* ``extract_doc_paragraphs`` — [MS-DOC]: FIB (wIdent 0xA5EC, fWhichTblStm
  flag → 0Table/1Table, ccpText, fcClx/lcbClx), CLX walk (Prc skip → Pcdt),
  PlcPcd piece table with per-piece fCompressed (cp1252 at fc/2) vs
  UTF-16LE decoding, reassembled main text cut to ccpText.
* Paragraph marks: 0x0D (and 0x07 table cell/row marks — text-level
  flattening); 0x0C page breaks become standalone ``pb`` spans; field and
  object control chars (0x01/0x02/0x05/0x08/0x13/0x14/0x15) are stripped.

The independent inverse renderer lives in ``wordscape_spark/docgen_doc.py``
(the docxgen pattern): round-trip tests + the ``doc_ingest`` driver query
pin this chain against a dual-dialect SQL oracle over the interleaved table.
"""

from __future__ import annotations

import bisect
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from wordscape_spark import signal as sig

CFB_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"

_FREESECT = 0xFFFFFFFF
_ENDOFCHAIN = 0xFFFFFFFE

# control chars stripped from paragraph text (field begin/sep/end, embedded
# object/picture marks, annotation refs)
_STRIP = {0x01, 0x02, 0x05, 0x08, 0x13, 0x14, 0x15}


def _u16(b: bytes, off: int) -> int:
    return struct.unpack_from("<H", b, off)[0]


def _u32(b: bytes, off: int) -> int:
    return struct.unpack_from("<I", b, off)[0]


class CfbFile:
    """Minimal [MS-CFB] reader: named streams out of a compound file."""

    def __init__(self, data: bytes):
        if data[:8] != CFB_MAGIC:
            raise ValueError("not a compound file (bad magic)")
        self.data = data
        sector_shift = _u16(data, 30)
        self.sector = 1 << sector_shift
        self.mini_sector = 1 << _u16(data, 32)
        self.mini_cutoff = _u32(data, 56)
        n_fat = _u32(data, 44)
        first_dir = _u32(data, 48)
        first_minifat = _u32(data, 60)
        first_difat = _u32(data, 68)

        # DIFAT: 109 header entries + chained DIFAT sectors
        difat = [_u32(data, 76 + 4 * i) for i in range(109)]
        sect = first_difat
        per = self.sector // 4 - 1
        while sect not in (_ENDOFCHAIN, _FREESECT):
            base = self._sector_off(sect)
            difat.extend(
                _u32(data, base + 4 * i) for i in range(per)
            )
            sect = _u32(data, base + 4 * per)
        self.fat: list[int] = []
        for fs in difat[:n_fat]:
            base = self._sector_off(fs)
            self.fat.extend(
                _u32(data, base + 4 * i) for i in range(self.sector // 4)
            )

        dir_bytes = self._read_chain(first_dir)
        self.entries = []
        for off in range(0, len(dir_bytes), 128):
            ent = dir_bytes[off:off + 128]
            if len(ent) < 128:
                break
            name_len = _u16(ent, 64)
            if name_len == 0:
                continue
            name = ent[: max(0, name_len - 2)].decode("utf-16-le")
            self.entries.append(
                {
                    "name": name,
                    "type": ent[66],
                    "start": _u32(ent, 116),
                    "size": struct.unpack_from("<Q", ent, 120)[0],
                }
            )
        root = next(e for e in self.entries if e["type"] == 5)
        self._ministream = self._read_chain(root["start"])[: root["size"]]
        self.minifat: list[int] = []
        if first_minifat not in (_ENDOFCHAIN, _FREESECT):
            mf = self._read_chain(first_minifat)
            self.minifat = [
                _u32(mf, 4 * i) for i in range(len(mf) // 4)
            ]

    def _sector_off(self, sect: int) -> int:
        return self.sector * (sect + 1)

    def _read_chain(self, start: int) -> bytes:
        out = bytearray()
        sect = start
        seen = 0
        while sect not in (_ENDOFCHAIN, _FREESECT):
            base = self._sector_off(sect)
            out += self.data[base:base + self.sector]
            sect = self.fat[sect]
            seen += 1
            if seen > len(self.fat) + 1:
                raise ValueError("FAT chain cycle")
        return bytes(out)

    def _read_mini_chain(self, start: int) -> bytes:
        out = bytearray()
        sect = start
        seen = 0
        while sect not in (_ENDOFCHAIN, _FREESECT):
            off = sect * self.mini_sector
            out += self._ministream[off:off + self.mini_sector]
            sect = self.minifat[sect]
            seen += 1
            if seen > len(self.minifat) + 1:
                raise ValueError("miniFAT chain cycle")
        return bytes(out)

    def stream(self, name: str) -> bytes:
        for e in self.entries:
            if e["type"] == 2 and e["name"] == name:
                if e["size"] < self.mini_cutoff:
                    raw = self._read_mini_chain(e["start"])
                else:
                    raw = self._read_chain(e["start"])
                return raw[: e["size"]]
        raise KeyError(name)


# sprm operand size by the spra (size-class) bits, [MS-DOC] 2.2.5.1;
# class 6 is variable (first operand byte = cb)
_SPRA_SIZE = {0: 1, 1: 1, 2: 2, 3: 4, 4: 2, 5: 2, 7: 3}
_SPRM_CF_BOLD = 0x0835
_SPRM_C_HPS = 0x4A43


def _parse_chpx_props(grpprl: bytes) -> tuple[bool | None, float | None]:
    """(bold, size_pt) from a CHPX grpprl.  sprmCFBold's ToggleOperand: 0 =
    off, 1 = on; 0x80/0x81 (match/invert the style) need the stylesheet we
    don't parse → unknown.  Unknown sprms are skipped by their spra size."""
    bold: bool | None = None
    size: float | None = None
    pos = 0
    while pos + 2 <= len(grpprl):
        sprm = _u16(grpprl, pos)
        pos += 2
        spra = sprm >> 13
        if spra == 6:
            if pos >= len(grpprl):
                break
            cb = grpprl[pos]
            operand = grpprl[pos + 1:pos + 1 + cb]
            pos += 1 + cb
        else:
            nb = _SPRA_SIZE[spra]
            operand = grpprl[pos:pos + nb]
            pos += nb
        if sprm == _SPRM_CF_BOLD and operand:
            if operand[0] == 1:
                bold = True
            elif operand[0] == 0:
                bold = False
        elif sprm == _SPRM_C_HPS and len(operand) >= 2:
            size = _u16(operand, 0) / 2.0
    return bold, size


def _chpx_runs(
    wd: bytes, table: bytes
) -> list[tuple[int, int, bool | None, float | None]]:
    """(fcStart, fcEnd, bold, size) character runs from the PlcfBteChpx →
    ChpxFkp chain; empty when the document carries no CHPX (or a malformed
    one — formatting is a best-effort signal, never a parse failure)."""
    fc = _u32(wd, 0x00FA)
    lcb = _u32(wd, 0x00FE)
    if lcb < 8 or fc + lcb > len(table):
        return []
    plc = table[fc:fc + lcb]
    n = (lcb - 4) // 8
    runs: list[tuple[int, int, bool | None, float | None]] = []
    try:
        for i in range(n):
            pn = _u32(plc, 4 * (n + 1) + 4 * i)
            page = wd[pn * 512:(pn + 1) * 512]
            if len(page) < 512:
                continue
            crun = page[511]
            if crun == 0 or 4 * (crun + 1) + crun > 511:
                continue
            base = 4 * (crun + 1)
            for r in range(crun):
                bx = page[base + r]
                if bx == 0:
                    continue
                off = 2 * bx
                cb = page[off]
                props = _parse_chpx_props(page[off + 1:off + 1 + cb])
                if props != (None, None):
                    runs.append(
                        (_u32(page, 4 * r), _u32(page, 4 * (r + 1)),
                         props[0], props[1])
                    )
    except (struct.error, IndexError):
        return []
    runs.sort()
    return runs


def _parse_stsh(wd: bytes, table: bytes) -> list[str | None]:
    """istd → lowercase style name from the stylesheet ([MS-DOC] 2.9.271
    STSH at FIB fcStshf/lcbStshf 0x00A2/0x00A6: LPStshi header, then cstd
    LPStd entries whose Xstz name sits at STSHI.cbSTDBaseInFile).  Empty
    on absence/malformation — style recovery is a best-effort signal,
    like CHPX, never a parse failure."""
    fc = _u32(wd, 0x00A2)
    lcb = _u32(wd, 0x00A6)
    if lcb < 6 or fc + lcb > len(table):
        return []
    stsh = table[fc:fc + lcb]
    names: list[str | None] = []
    try:
        cb_stshi = _u16(stsh, 0)
        cstd = _u16(stsh, 2)
        cb_std_base = _u16(stsh, 4)
        pos = 2 + cb_stshi
        for _ in range(cstd):
            if pos + 2 > len(stsh):
                break
            cb_std = _u16(stsh, pos)
            pos += 2
            if cb_std == 0:  # empty slot (reserved fixed istd)
                names.append(None)
                continue
            std = stsh[pos:pos + cb_std]
            pos += cb_std + (cb_std & 1)  # LPStd entries are 2-byte aligned
            if len(std) < cb_std_base + 2:
                names.append(None)
                continue
            cch = _u16(std, cb_std_base)
            raw = std[cb_std_base + 2:cb_std_base + 2 + 2 * cch]
            names.append(raw.decode("utf-16-le", "replace").lower())
    except (struct.error, IndexError):
        return []
    return names


def _papx_runs(wd: bytes, table: bytes) -> list[tuple[int, int, int]]:
    """(fcStart, fcEnd, istd) paragraph runs from the PlcfbtePapx
    (FIB 0x0102/0x0106) → PapxFkp chain.  BxPap entries are 13 bytes
    (bOffset + 12-byte PHE); bOffset 0 = no PAPX = istd 0 (Normal); the
    PapxInFkp's GrpprlAndIstd leads with the istd — the only field style
    classification needs.  Empty on malformation (best-effort)."""
    fc = _u32(wd, 0x0102)
    lcb = _u32(wd, 0x0106)
    if lcb < 8 or fc + lcb > len(table):
        return []
    plc = table[fc:fc + lcb]
    n = (lcb - 4) // 8
    runs: list[tuple[int, int, int]] = []
    try:
        for i in range(n):
            pn = _u32(plc, 4 * (n + 1) + 4 * i)
            page = wd[pn * 512:(pn + 1) * 512]
            if len(page) < 512:
                continue
            cpara = page[511]
            if cpara == 0 or 4 * (cpara + 1) + 13 * cpara > 511:
                continue
            base = 4 * (cpara + 1)
            for r in range(cpara):
                b_off = page[base + 13 * r]
                istd = 0
                if b_off:
                    off = 2 * b_off
                    cb = page[off]
                    if cb == 0:  # PapxInFkp cb'=next byte, size 2*cb'
                        grp = page[off + 2:off + 2 + 2 * page[off + 1]]
                    else:
                        grp = page[off + 1:off + 1 + 2 * cb - 1]
                    if len(grp) >= 2:
                        istd = _u16(grp, 0)
                runs.append(
                    (_u32(page, 4 * r), _u32(page, 4 * (r + 1)), istd)
                )
    except (struct.error, IndexError):
        return []
    runs.sort()
    return runs


def _doc_content(
    data: bytes,
) -> tuple[str, list, list, list, list]:
    """(text, piece map, chpx runs, papx runs, style names) of a .doc byte
    string.  The piece map carries (cp_start, cp_end, byte_off,
    bytes_per_cp) so a CP can be mapped back to its real
    WordDocument-stream offset (what CHPX/PAPX runs address)."""
    cfb = CfbFile(data)
    wd = cfb.stream("WordDocument")
    if _u16(wd, 0) != 0xA5EC:
        raise ValueError("not a Word binary file (bad wIdent)")
    which = (_u16(wd, 0x000A) >> 9) & 1
    table = cfb.stream(f"{which}Table")
    ccp_text = _u32(wd, 0x004C)
    fc_clx = _u32(wd, 0x01A2)
    lcb_clx = _u32(wd, 0x01A6)
    clx = table[fc_clx:fc_clx + lcb_clx]

    pos = 0
    while pos < len(clx) and clx[pos] == 0x01:  # Prc: skip property blobs
        pos += 3 + _u16(clx, pos + 1)
    if pos >= len(clx) or clx[pos] != 0x02:
        raise ValueError("malformed CLX: no Pcdt")
    lcb = _u32(clx, pos + 1)
    plc = clx[pos + 5:pos + 5 + lcb]
    n = (lcb - 4) // 12
    cps = [_u32(plc, 4 * i) for i in range(n + 1)]

    parts = []
    piece_map = []
    total = 0
    for i in range(n):
        fc_raw = _u32(plc, 4 * (n + 1) + 8 * i + 2)
        count = cps[i + 1] - cps[i]
        if fc_raw & 0x40000000:  # fCompressed: cp1252 bytes at fc/2
            fc = (fc_raw & 0x3FFFFFFF) // 2
            parts.append(wd[fc:fc + count].decode("cp1252"))
            piece_map.append((total, total + count, fc, 1))
        else:
            fc = fc_raw & 0x3FFFFFFF
            parts.append(wd[fc:fc + 2 * count].decode("utf-16-le"))
            piece_map.append((total, total + count, fc, 2))
        total += count
    return (
        "".join(parts)[:ccp_text],
        piece_map,
        _chpx_runs(wd, table),
        _papx_runs(wd, table),
        _parse_stsh(wd, table),
    )


def _fc_of_cp(cp: int, piece_map: list) -> int | None:
    """CP → real WordDocument-stream byte offset through the piece table."""
    for cp_s, cp_e, byte_off, bpc in piece_map:
        if cp_s <= cp < cp_e:
            return byte_off + bpc * (cp - cp_s)
    return None


def _covering_run(fc: int, runs: list):
    """The run tuple covering ``fc`` (runs sorted by fcStart), or None."""
    lo = bisect.bisect_right(runs, (fc, float("inf"))) - 1
    if lo >= 0 and runs[lo][0] <= fc < runs[lo][1]:
        return runs[lo]
    return None


def _props_at_cp(
    cp: int, piece_map: list, runs: list
) -> tuple[bool | None, float | None]:
    """Character formatting at a CP: map through the piece table to the
    real stream offset, then find the covering CHPX run."""
    if not runs:
        return None, None
    fc = _fc_of_cp(cp, piece_map)
    if fc is not None:
        hit = _covering_run(fc, runs)
        if hit is not None:
            return hit[2], hit[3]
    return None, None


def _style_at_cp(
    cp: int, piece_map: list, papx: list, names: list
) -> str:
    """Paragraph style name at a CP: PAPX run → istd → stylesheet name.
    Falls back to "normal" (istd 0's conventional name) whenever the
    chain is absent or the istd is unresolvable — the pre-r6 behavior."""
    if papx:
        fc = _fc_of_cp(cp, piece_map)
        if fc is not None:
            hit = _covering_run(fc, papx)
            if hit is not None:
                istd = hit[2]
                if 0 <= istd < len(names) and names[istd]:
                    return names[istd]
    return "normal"


def extract_doc_paragraph_runs(
    data: bytes,
) -> list[tuple[str, bool | None, float | None, str] | None]:
    """Paragraphs in document order as ``(text, bold, size_pt, style)``;
    ``None`` marks a page break.  Formatting is the CHPX properties of the
    paragraph's FIRST character (including the mark of an empty paragraph
    — Word formats the mark too); ``style`` is the PAPX istd resolved
    through the stylesheet ("normal" when the chain is absent).

    0x0D ends a paragraph, 0x07 ends a table cell/row (flattened to a
    paragraph boundary at text level), 0x0C is a page break; field/object
    control chars are stripped from the text."""
    text, piece_map, runs, papx, names = _doc_content(data)
    out: list[tuple[str, bool | None, float | None, str] | None] = []
    buf: list[str] = []
    par_start = 0

    def flush() -> None:
        out.append(
            (
                "".join(buf),
                *_props_at_cp(par_start, piece_map, runs),
                _style_at_cp(par_start, piece_map, papx, names),
            )
        )

    for idx, ch in enumerate(text):
        o = ord(ch)
        if o in (0x0D, 0x07):
            flush()
            buf = []
            par_start = idx + 1
        elif o == 0x0C:
            if buf:
                flush()
                buf = []
            out.append(None)  # page break
            par_start = idx + 1
        elif o in _STRIP:
            continue
        else:
            buf.append(ch)
    if buf:
        flush()
    return out


def extract_doc_paragraphs(data: bytes) -> list[str | None]:
    """Paragraph texts in document order; ``None`` marks a page break."""
    return [
        item if item is None else item[0]
        for item in extract_doc_paragraph_runs(data)
    ]


def parse_doc_bytes(data: bytes) -> list[dict]:
    """One .doc byte string → ordered span rows in the interleaved grammar
    with REAL font signals from the CHPX runs AND real paragraph style
    names from the PAPX→STSH chain (r6) — builtin-styled Word-97 headings
    classify via the C8 name path; page breaks as ``pb`` spans."""
    rows = []
    par = 0
    for item in extract_doc_paragraph_runs(data):
        if item is None:
            rows.append(
                {"kind": sig.PAGE_BREAK, "text": None, "media_ref": None}
            )
            continue
        text, bold, size, style = item
        rows.append(
            {
                "kind": sig.encode_run(
                    par=par,
                    style=style,
                    size=sig.FONT_UNKNOWN if size is None else size,
                    bold=bold,
                ),
                "text": text,
                "media_ref": None,
            }
        )
        par += 1
    return [
        {**r, "offset": i} for i, r in enumerate(rows)
    ]


def doc_to_spans(
    df: DataFrame, id_col: str = "doc_id", content_col: str = "content"
) -> DataFrame:
    """Arrow-batched legacy-.doc ingestion: (doc_id, content binary) →
    (doc_id, spans).  Zero shuffle; per-document fault isolation — a
    corrupt compound file yields an empty spans array (rejected downstream
    as min_text) instead of failing the task."""
    from wordscape_spark.operators.extract import INPUT_SCHEMA

    def parse_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, content in zip(pdf[id_col], pdf[content_col]):
                try:
                    spans = parse_doc_bytes(bytes(content))
                except Exception:  # noqa: BLE001 — isolation boundary
                    spans = []
                rows.append({"doc_id": doc_id, "spans": spans})
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(parse_batches, schema=INPUT_SCHEMA)
