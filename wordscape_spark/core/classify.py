"""Per-document span classification — WordScape extraction semantics.

This module is pure Python (no Spark): it is the unit the Spark grouped-map
UDF applies per document, and doubles as the single-node oracle in tests.

Semantics reproduced from the reference (file:line cites refer to
/root/reference):

* builtin-style prefix classification + XML-pattern overrides
  (app/src/annotation/colorization/entities/paragraph.py:12-86)
* per-document font-size heuristic map
  (app/src/annotation/colorization/heuristics/build_heuristics.py:27-263)
* run-level heuristic classification with heading strictness
  (build_heuristics.py:265-419; colorization_handler.py:235-291)
* content-aware form/quote/list checks with run splitting
  (app/src/annotation/colorization/heuristics/content_awareness.py:12-458)
* body-order text serialization with \\t/\\n table rule
  (app/src/annotation/text/text_extraction.py:85-135)
* decision log + annotation quality score
  (colorization_handler.py:368-392; app/src/annotation/annotation_quality.py:18-83)

Documented deviation: the reference's "builtin heading tracker" branch
(build_heuristics.py:84-94) keys ``ENTITY_NAME_TO_COLOR`` with style names
like "heading 1" while the map's keys are entity names like "heading_1", so
the branch never fires on real styles (and would raise on the names that do
match).  We implement the *documented intent*: paragraphs styled
"heading 1".."heading 9" feed an exact-fontprop→level map that replaces the
size-ranking heuristic.
"""

from __future__ import annotations

import dataclasses
from operator import itemgetter
from typing import Iterable, Sequence

from wordscape_spark import signal as sig
from wordscape_spark import taxonomy as tax
from wordscape_spark.config import DEFAULT_CONFIG, ExtractConfig

# --------------------------------------------------------------------------
# parsed element model
# --------------------------------------------------------------------------


@dataclasses.dataclass(slots=True)
class Run:
    text: str
    size: float = sig.FONT_UNKNOWN
    bold: bool | None = None
    italic: bool | None = None
    underline: bool = False
    # precomputed at parse time (parse_elements): the resolved fontprop key
    # (run props with paragraph fallback — identical derivation to the one
    # classify_runs/_evaluate_paragraph previously repeated per run) and the
    # is_whitespace flag.  Both are pure functions of the run + its
    # paragraph's creation props, so hoisting them is exact.
    fp: str = ""
    ws: bool = False


@dataclasses.dataclass(slots=True)
class BodyPar:
    style: str
    par_size: float
    par_bold: bool | None
    par_italic: bool | None
    math: bool
    numbered: bool
    runs: list[Run]
    _text: str | None = dataclasses.field(default=None, repr=False)

    @property
    def text(self) -> str:
        # cached: runs are never mutated in place (the form handler returns a
        # new run list instead)
        if self._text is None:
            self._text = "".join(r.text for r in self.runs)
        return self._text


@dataclasses.dataclass(slots=True)
class StreamPar:  # header / footer / textbox paragraph
    tag: str  # hp | fp | xp
    text: str


@dataclasses.dataclass(slots=True)
class Sdt:
    gallery: str
    text: str
    form: str = ""  # '' | 'field' | 'tag' (entities/form.py analog)


@dataclasses.dataclass(slots=True)
class TableEl:
    cells: list[sig.CellSignal]
    parent: int | None = None  # parent table idx when nested
    # serialize_table memo: cells are never mutated after parse_elements, and
    # top-level tables are serialized twice (page text + document text)
    _text: str | None = dataclasses.field(default=None, repr=False)


@dataclasses.dataclass(slots=True)
class Figure:
    media_ref: str | None


@dataclasses.dataclass(slots=True)
class PageBreak:
    """Explicit page boundary (``pb`` tag): increments the 1-based page
    counter (page-level records per orm/models.py:132-187)."""


@dataclasses.dataclass(slots=True)
class Meta:
    """Document-intrinsic metadata span (oxml_metadata.py:33-58 analog)."""

    key: str
    value: str


Element = BodyPar | StreamPar | Sdt | TableEl | Figure | PageBreak | Meta


def parse_elements(
    spans: Sequence[tuple[str, str | None, str | None, int]],
) -> list[Element]:
    """Group ordered input spans into document elements.

    ``spans`` are (kind, text, media_ref, offset) tuples; consecutive spans
    with the same tag and paragraph/table index form one element (document
    order = offset order, like the reference's body walk,
    text_extraction.py:96-102).
    """
    ordered = sorted(spans, key=itemgetter(3))
    elements: list[Element] = []
    cur_key: tuple | None = None
    # hot loop: bind lookups once (the loop runs once per span)
    parse_run = sig.parse_run
    parse_fields = sig.parse_fields
    parse_cell = sig.parse_cell
    fontprop = sig.fontprop_string
    unknown = sig.FONT_UNKNOWN
    cur_el = None  # last appended element (avoids elements[-1] per span)
    # paragraph-fallback props of the CURRENT BodyPar (rebound at par
    # creation): the per-run resolved fontprop is precomputed here once
    # instead of re-derived in _evaluate_paragraph AND classify_runs
    p_size = unknown
    p_bold = p_italic = None

    for kind, text, media_ref, _off in ordered:
        text = text or ""
        # cheap tag extraction first; full field parsing only for the tags
        # that need it (body runs — the bulk — parse once inside parse_run
        # instead of twice)
        tag = kind.partition(";")[0]
        if tag == "r":
            r = parse_run(kind, text)
            key = ("r", r.par)
            if key != cur_key:
                cur_el = BodyPar(
                    style=r.style,
                    par_size=r.par_size,
                    par_bold=r.par_bold,
                    par_italic=r.par_italic,
                    math=r.math,
                    numbered=r.numbered,
                    runs=[],
                )
                elements.append(cur_el)
                cur_key = key
                p_size = r.par_size
                p_bold = r.par_bold
                p_italic = r.par_italic
            par = cur_el
            if r.math:
                par.math = True
            if r.numbered:
                par.numbered = True
            size = r.size
            # positional construction (field order: text, size, bold,
            # italic, underline, fp, ws) — kwarg binding is measurable at
            # one call per span
            par.runs.append(
                Run(
                    text, size, r.bold, r.italic, r.underline,
                    fontprop(
                        size if size != unknown else p_size,
                        r.bold if r.bold is not None else p_bold,
                        r.italic if r.italic is not None else p_italic,
                    ),
                    not text.strip(" \n\t\r"),
                )
            )
        elif tag in ("hp", "fp", "xp"):
            _, fields = parse_fields(kind)
            key = (tag, fields.get("p", "0"))
            if key != cur_key:
                cur_el = StreamPar(tag=tag, text="")
                elements.append(cur_el)
                cur_key = key
            cur_el.text += text
        elif tag == "sdt":
            _, fields = parse_fields(kind)
            elements.append(
                Sdt(gallery=fields.get("g", ""), text=text,
                    form=fields.get("f", ""))
            )
            cur_key = None
        elif tag == "tc":
            c = parse_cell(kind, text)
            key = ("tc", c.table)
            if key != cur_key:
                cur_el = TableEl(cells=[], parent=c.parent)
                elements.append(cur_el)
                cur_key = key
            cur_el.cells.append(c)
        elif tag == "fig":
            elements.append(Figure(media_ref=media_ref))
            cur_key = None
        elif tag == "pb":
            elements.append(PageBreak())
            cur_key = None
        elif tag == "meta":
            _, fields = sig.parse_fields(kind)
            elements.append(Meta(key=fields.get("k", ""), value=text))
            cur_key = None
        else:  # unknown tag: ignore (forward compatibility)
            cur_key = None
    return elements


# --------------------------------------------------------------------------
# text serialization (C6)
# --------------------------------------------------------------------------


def serialize_table(tbl: TableEl) -> str:
    """Cells joined by \\t, rows by \\n (ref: text_extraction.py:121-135).

    Memoized on the element: cells are fixed after parsing and each
    top-level table is serialized for both the page text and the document
    text."""
    if tbl._text is None:
        rows: dict[int, list[str]] = {}
        for c in tbl.cells:
            rows.setdefault(c.row, []).append(c.text)
        tbl._text = "\n".join(
            "\t".join(cells) for _, cells in sorted(rows.items())
        )
    return tbl._text


def serialize_text(elements: Iterable[Element]) -> str:
    """Body-order document text (ref: text_extraction.py:85-118).

    Nested tables are excluded: the reference walks top-level body children
    and ``_Cell.text`` covers the cell's paragraphs only, so nested-table
    content never reaches the document text (text_extraction.py:96-118)."""
    parts = []
    for el in elements:
        if isinstance(el, BodyPar):
            s = el.text
        elif isinstance(el, TableEl) and el.parent is None:
            s = serialize_table(el)
        else:
            continue  # header/footer/textbox/sdt/figure are not body children
        if len(s) > 0:
            parts.append(s)
    return "\n".join(parts)


# --------------------------------------------------------------------------
# font heuristics (C10)
# --------------------------------------------------------------------------

_HEADING_STYLE_LEVEL = {f"heading {i}": i for i in range(1, 10)}
_HEADING_SET = frozenset(tax.HEADING)  # O(1) membership in the hot loops


def _level_to_category(level: int) -> str:
    if level == sig.LEVEL_BODY:
        return tax.TEXT
    if level == sig.LEVEL_TITLE:
        return tax.TITLE
    return tax.HEADING[level - 1]


class FontHeuristics:
    """Per-document fontprop→level map (ref: build_heuristics.py:27-263).

    The accumulation state (font_size_count / appearances / tracker) is
    strictly additive per paragraph, so it can be computed on paragraph-
    aligned chunks of a skewed mega-document and merged before ``build()`` —
    the engine's salted path relies on this.
    """

    def __init__(self, cfg: ExtractConfig):
        self.cfg = cfg
        self.heuristic_map: dict[str, int] = {}
        self.builtin_heading_tracker: list[tuple[str, int]] = []
        self.font_size_count: dict[str, int] = {}
        self.font_size_appearances: dict[str, int] = {}

    @classmethod
    def from_pars(
        cls, body_pars: Sequence[BodyPar], cfg: ExtractConfig
    ) -> "FontHeuristics":
        h = cls(cfg)
        for par in body_pars:
            h._evaluate_paragraph(par)
        h._build_map()
        return h

    def merge_state(
        self,
        font_size_count: dict[str, int],
        font_size_appearances: dict[str, int],
        tracker: Iterable[tuple[str, int]],
    ) -> None:
        for k, v in font_size_count.items():
            self.font_size_count[k] = self.font_size_count.get(k, 0) + v
        for k, v in font_size_appearances.items():
            self.font_size_appearances[k] = (
                self.font_size_appearances.get(k, 0) + v
            )
        self.builtin_heading_tracker.extend(
            (fp, int(level)) for fp, level in tracker
        )

    def build(self) -> None:
        self._build_map()

    def _evaluate_paragraph(self, par: BodyPar) -> None:
        heading_level = _HEADING_STYLE_LEVEL.get(par.style)

        already_counted: set[str] = set()
        # hot loop: bind lookups once per paragraph; the resolved fontprop
        # and whitespace flag are precomputed per run at parse time
        fsc = self.font_size_count
        fsa = self.font_size_appearances

        if heading_level is None:
            # common case (no builtin heading style): the run-aggregate
            # flags below are never consumed — only the fontprop counters
            # accumulate
            for run in par.runs:
                fp = run.fp
                fsc[fp] = fsc.get(fp, 0) + len(run.text)
                if fp not in already_counted:
                    fsa[fp] = fsa.get(fp, 0) + 1
                    already_counted.add(fp)
            return

        par_props: list = [par.par_size, par.par_bold, par.par_italic]
        all_runs_bold = True
        all_runs_italic = True
        all_runs_whitespace = True
        run_font_sizes: list[float] = []
        p_size, p_bold, p_italic = par_props
        unknown = sig.FONT_UNKNOWN

        for run in par.runs:
            if not run.ws:
                all_runs_bold = all_runs_bold and (
                    run.bold if run.bold is not None else p_bold
                )
                all_runs_italic = all_runs_italic and (
                    run.italic if run.italic is not None else p_italic
                )
                run_font_sizes.append(
                    run.size if run.size != unknown else p_size
                )
                all_runs_whitespace = False
            fp = run.fp
            fsc[fp] = fsc.get(fp, 0) + len(run.text)
            if fp not in already_counted:
                fsa[fp] = fsa.get(fp, 0) + 1
                already_counted.add(fp)

        if not all_runs_whitespace and len(par.runs) > 0:
            # run-level overrides of the paragraph props
            # (ref: build_heuristics.py:138-147)
            eff = list(par_props)
            eff[1] = eff[1] or all_runs_bold
            eff[2] = eff[2] or all_runs_italic
            override = list(set(run_font_sizes))
            if len(override) == 1:
                eff[0] = override[0]
            self.builtin_heading_tracker.append(
                (sig.fontprop_string(eff[0], eff[1], eff[2]), heading_level)
            )

    def _build_map(self) -> None:
        if self.builtin_heading_tracker:
            # exact-fontprop matches only; lowest observed level wins
            # (ref: build_heuristics.py:168-179)
            for fp, level in self.builtin_heading_tracker:
                prior = self.heuristic_map.get(fp)
                if prior is None or level > prior:
                    self.heuristic_map[fp] = level
            return

        if not self.font_size_count:
            return

        # size ranking: strip the b/i/n suffix, dedupe, sort descending, then
        # re-attach suffixed variants in b, bi, i, n order
        # (ref: build_heuristics.py:186-214)
        pure = {
            float(fp.replace("b", "").replace("i", "").replace("n", ""))
            for fp in self.font_size_count
        }
        ordered: list[str] = []
        for size in sorted(pure, reverse=True):
            for suffix in ("b", "bi", "i", "n"):
                candidate = str(size) + suffix
                if candidate in self.font_size_count:
                    ordered.append(candidate)

        common = max(self.font_size_count, key=self.font_size_count.get)
        self.heuristic_map[common] = sig.LEVEL_BODY

        if len(ordered) == 1:
            self.heuristic_map[ordered[0]] = sig.LEVEL_BODY
            return

        if self.font_size_appearances[ordered[0]] == 1:
            self.heuristic_map[ordered[0]] = sig.LEVEL_TITLE
            ordered.pop(0)

        if len(ordered) > 1 and ordered[0] != common:
            self.heuristic_map[ordered[0]] = 1
            ordered.pop(0)
            level = 2
            while ordered:
                cur = ordered.pop(0)
                if cur == common:
                    break
                self.heuristic_map[cur] = level
                level = min(level + 1, 9)
            while ordered:
                self.heuristic_map[ordered.pop(0)] = sig.LEVEL_BODY

    # ---------------------------------------------------------------- classify

    def classify_runs(
        self, par: BodyPar
    ) -> tuple[str | None, list[str], str, list[Run]]:
        """(main category, per-run categories, decision source, final runs).

        Ref: build_heuristics.py:265-419 (get_heuristic_with_runs) followed by
        the content-aware override.
        """
        source = (
            tax.SRC_HEURISTIC_USINGBUILTIN
            if self.builtin_heading_tracker
            else tax.SRC_HEURISTIC_BASE
        )

        if par.numbered:
            return (
                tax.LIST,
                [tax.LIST] * len(par.runs),
                tax.SRC_XML_PATTERN,
                par.runs,
            )

        char_count: dict[str, int] = {}
        run_cats: list[str] = []
        ws_indices: list[int] = []
        prev_was_heading = True
        heading_len = 0
        # hot loop: bind lookups once per paragraph; fp/ws precomputed per
        # run at parse time
        hmap = self.heuristic_map
        WS, TEXT, TITLE = tax.WHITESPACE, tax.TEXT, tax.TITLE

        for run in par.runs:
            if run.ws:
                run_cats.append(WS)
                ws_indices.append(len(run_cats) - 1)
                char_count[WS] = char_count.get(WS, 0) - 1
                continue

            fp = run.fp

            if fp in hmap:
                cat = _level_to_category(hmap[fp])
                # heading strictness: a heading run must start the paragraph
                # or continue a heading (ref: build_heuristics.py:342-343)
                if not prev_was_heading:
                    cat = TEXT
                run_cats.append(cat)
                if cat == TITLE or cat in _HEADING_SET:
                    heading_len += len(run.text)
                    if heading_len > self.cfg.max_heading_len:
                        # demote the whole paragraph to body
                        # (ref: build_heuristics.py:354-363)
                        run_cats = [TEXT] * len(run_cats)
                        char_count = {TEXT: 1000}
                        prev_was_heading = False
                else:
                    prev_was_heading = False
                char_count[cat] = char_count.get(cat, 0) + len(run.text)
            else:
                run_cats.append(TEXT)
                prev_was_heading = False
                char_count[TEXT] = char_count.get(TEXT, 0) + len(run.text)

        if char_count:
            main = max(char_count, key=char_count.get)
            for i in ws_indices:
                run_cats[i] = main
        else:
            main = None

        runs = par.runs
        ca = check_content_aware(par, main, self.cfg)
        if ca is not None:
            new_runs, new_cats, new_main = ca
            # list override is stricter when builtin headings exist
            # (ref: build_heuristics.py:408-417)
            if not (new_main == tax.LIST and self.builtin_heading_tracker):
                runs, run_cats, main = new_runs, new_cats, new_main
                source = tax.SRC_CONTENT_AWARE

        return main, run_cats, source, runs


# --------------------------------------------------------------------------
# content-aware checks (C12)
# --------------------------------------------------------------------------


import re as _re_ca

# any run of ≥4 consecutive field symbols (config default; rebuilt if a
# non-default min_len is used)
_FIELD_RUN_RE = {4: _re_ca.compile("[" + "".join(tax.FORM_FIELD_SYMBOLS) + "]{4,}")}


def _form_check(par: BodyPar, min_len: int) -> bool:
    for run in par.runs:
        if run.underline and len(run.text) >= min_len and run.text.isspace():
            return True
    t = par.text
    if min_len >= 2 and "_" not in t and "…" not in t and ".." not in t:
        # necessary condition for a run of >= 2 field symbols [_.…]: a run
        # containing neither '_' nor '…' is all dots and so contains "..";
        # three memchr scans beat the regex engine on the (typical) text
        # with no field symbols at all
        return False
    rx = _FIELD_RUN_RE.get(min_len)
    if rx is None:
        rx = _re_ca.compile(
            "[" + "".join(tax.FORM_FIELD_SYMBOLS) + "]{" + str(min_len) + ",}"
        )
        _FIELD_RUN_RE[min_len] = rx
    return rx.search(par.text) is not None


def _quote_check(par: BodyPar) -> bool:
    t = par.text
    return len(t) > 0 and t[0] == t[-1] and t[0] in tax.QUOTE_SYMBOLS


_FOLLOWER_SET = frozenset(tax.NUMBERING_FOLLOWERS)


def _list_check_run(
    text: str,
    _num_syms=tax.NUMBERING_SYMBOLS,
    _followers=_FOLLOWER_SET,
) -> bool:
    if len(text) == 0 or text.isspace():
        return False
    c0 = text[0]
    if c0 in _num_syms:
        return True
    # maxsplit=1: only the first word is needed — a full split of a long
    # paragraph was the hottest line of the content-aware pass.  The
    # per-follower matcher loop is inlined as set-membership on the char
    # after the prefix (any follower matching ≡ membership): this is the
    # hottest predicate of the content-aware pass.
    first_word = text.split(None, 1)[0]
    n = len(first_word)
    w0 = first_word[0]  # != text[0] when text has leading whitespace
    # ^\w<follower>
    if n >= 2 and (w0.isalnum() or w0 == "_") and first_word[1] in _followers:
        return True
    # ^[0-9]+<follower>
    i = 0
    while i < n and first_word[i].isdigit():
        i += 1
    return 0 < i < n and first_word[i] in _followers


def _list_check(par: BodyPar) -> bool:
    # plain loop, not all(genexpr): most paragraphs fail on the first run,
    # and the generator frame per paragraph was measurable in the profile
    runs = par.runs
    if not runs:
        return False
    for r in runs:
        if not _list_check_run(r.text):
            return False
    return True


def _form_handler(
    par: BodyPar, prev_main: str | None, min_len: int
) -> tuple[list[Run], list[str], str | None]:
    """Split runs so each form field is its own run
    (ref: content_awareness.py:122-349)."""
    new_runs: list[Run] = []
    recs: list[str] = []

    def clone(src: Run, text: str) -> Run:
        return Run(text=text, size=src.size, bold=src.bold, italic=src.italic,
                   underline=src.underline)

    for run in par.runs:
        if run.underline and run.text.isspace() and len(run.text) >= min_len:
            new_runs.append(run)
            recs.append(tax.FORM_FIELD)
            continue

        # leading form-field chars of this run ("seam" handling)
        begin = ""
        for ch in run.text:
            if ch in tax.FORM_FIELD_SYMBOLS:
                begin += ch
            else:
                break
        idx = len(begin)
        field_buf = ""
        nonfield_buf = ""

        if recs and recs[-1] == tax.FORM_FIELD:
            if begin:
                new_runs.append(clone(run, begin))
                recs.append(tax.FORM_FIELD)
        elif recs:
            prev = new_runs[-1]
            trailing = ""
            for ch in reversed(prev.text):
                if ch in tax.FORM_FIELD_SYMBOLS:
                    trailing = ch + trailing
                else:
                    break
            if len(trailing) + len(begin) >= min_len:
                if len(prev.text) > len(trailing):
                    new_runs[-1] = clone(prev, prev.text[: len(prev.text) - len(trailing)])
                    recs[-1] = prev_main
                    new_runs.append(clone(prev, trailing))
                    recs.append(tax.FORM_FIELD)
                else:
                    new_runs[-1] = clone(prev, trailing)
                    recs[-1] = tax.FORM_FIELD
                if begin:
                    new_runs.append(clone(run, begin))
                    recs.append(tax.FORM_FIELD)
            else:
                field_buf = begin
        else:
            field_buf = begin

        for pos in range(idx, len(run.text)):
            ch = run.text[pos]
            if ch in tax.FORM_FIELD_SYMBOLS:
                field_buf += ch
            else:
                if len(field_buf) < min_len:
                    nonfield_buf += field_buf
                    field_buf = ""
                    nonfield_buf += ch
                if len(field_buf) >= min_len:
                    new_runs.append(clone(run, nonfield_buf))
                    recs.append(prev_main)
                    nonfield_buf = ch
                    new_runs.append(clone(run, field_buf))
                    recs.append(tax.FORM_FIELD)
                    field_buf = ""

        if len(field_buf) < min_len:
            nonfield_buf += field_buf
            field_buf = ""
        if nonfield_buf:
            new_runs.append(clone(run, nonfield_buf))
            recs.append(prev_main)
        if field_buf:
            new_runs.append(clone(run, field_buf))
            recs.append(tax.FORM_FIELD)

    old_text = par.text
    new_text = "".join(r.text for r in new_runs)
    if new_text != old_text:  # ref sanity check, content_awareness.py:339-347
        raise ValueError("form run splitting changed paragraph text")
    return new_runs, recs, prev_main


def check_content_aware(
    par: BodyPar, prev_main: str | None, cfg: ExtractConfig
) -> tuple[list[Run], list[str], str | None] | None:
    """form → quote → list priority (ref: content_awareness.py:418-458)."""
    if _form_check(par, cfg.form_field_min_length):
        return _form_handler(par, prev_main, cfg.form_field_min_length)
    if _quote_check(par):
        return par.runs, [tax.QUOTE] * len(par.runs), tax.QUOTE
    if _list_check(par):
        recs = []
        list_chars = 0
        for r in par.runs:
            if _list_check_run(r.text):
                recs.append(tax.LIST)
                list_chars += len(r.text)
            else:
                recs.append(prev_main)
        new_main = tax.LIST if list_chars >= len(par.text) else prev_main
        return par.runs, recs, new_main
    return None


# --------------------------------------------------------------------------
# document classification driver
# --------------------------------------------------------------------------


# The reference keeps a per-run decision log and folds it into a
# builtin/heuristic char counter afterwards (colorization_handler.py:324-366
# → annotation_quality.py:18-83).  The log was only ever consumed through
# that fold, so the engine accumulates the counter directly at each
# decision site: ``counter[entity_id] = [builtin_chars, heuristic_chars]``,
# where a decision contributes len(text) (or 1.0 for text-less decisions
# like tables/figures) to slot 0 when its source is builtin/xml_pattern,
# slot 1 otherwise — identical numbers, no per-run object churn.


def _count_decision(
    counter: dict[int, list[float]],
    text: str | None,
    source: str,
    entity_id: int,
) -> None:
    rec = counter.get(entity_id)
    if rec is None:
        counter[entity_id] = rec = [0.0, 0.0]
    rec[0 if source in tax.BUILTIN_SOURCES else 1] += (
        1.0 if text is None else float(len(text))
    )


@dataclasses.dataclass
class DocResult:
    ok: bool
    reject_reason: str | None
    spans: list[tuple[str, str, str | None, int]]  # kind, text, media_ref, off
    text: str
    counts: dict[str, int]
    quality: float
    builtin_props: dict[str, float]
    # page model (orm/models.py:132-187 analog): page of each output span,
    # and per-page (page_number, serialized text, entity counts) records
    span_pages: list[int] = dataclasses.field(default_factory=list)
    pages: list[tuple[int, str, dict[str, int]]] = dataclasses.field(
        default_factory=list
    )
    # D12 document-intrinsic metadata (oxml_metadata.py:33-58)
    props: dict[str, str] = dataclasses.field(default_factory=dict)
    lang_tags: list[str] = dataclasses.field(default_factory=list)


def _emit_heuristic_par(
    par_text: str,
    runs: list[Run],
    main: str | None,
    run_cats: list[str],
    source: str,
    original_was_builtin: bool,
    original_id: int,
    out_spans: list[tuple[str, str, str | None]],
    counter: dict[int, list[float]],
) -> None:
    """Emission per colorization_handler.assign_par_color_considering_runs
    (+ __handle_run_colorization), colorization_handler.py:235-366."""
    if main is None:
        return

    par_colored = not (
        main == tax.WHITESPACE or par_text.isspace() or len(par_text) == 0
    )

    if main != tax.TEXT:
        if par_colored:
            out_spans.append((main, par_text, None))
    elif par_colored:
        # run-level categories become their own spans; heading runs are only
        # honored when starting the par or continuing an equal heading
        # (ref: colorization_handler.py:270-276).  The gate only rewrites
        # heading categories, so paragraphs without any (the common case)
        # skip the copy + scan entirely.
        heading_set = _HEADING_SET
        if heading_set.isdisjoint(run_cats):
            effective = run_cats
        else:
            effective = list(run_cats)
            for i, cat in enumerate(run_cats):
                if cat in heading_set:
                    if (
                        i != 0
                        and run_cats[i - 1] != cat
                        and not runs[i - 1].text.endswith("\r")
                    ):
                        effective[i] = main
        # merge consecutive same-category segments into spans
        seg_cat: str | None = None
        seg_text = ""
        for run, cat in zip(runs, effective):
            cat_eff = cat
            if len(run.text) == 0 or run.text.isspace():
                cat_eff = main
            if cat_eff != seg_cat:
                if seg_cat is not None and len(seg_text) > 0:
                    out_spans.append((seg_cat, seg_text, None))
                seg_cat = cat_eff
                seg_text = run.text
            else:
                seg_text += run.text
        if seg_cat is not None and len(seg_text) > 0:
            out_spans.append((seg_cat, seg_text, None))

    # decision log uses the pre-gating run categories
    # (ref: colorization_handler.py:324-366); the builtin-style path counts
    # a run as builtin only when it kept the original category
    src_slot = 0 if source in tax.BUILTIN_SOURCES else 1
    name_to_id_get = tax.NAME_TO_ID.get
    counter_get = counter.get
    for run, cat in zip(runs, run_cats):
        entity_id = name_to_id_get(cat)
        if entity_id is None:
            continue
        slot = (
            0
            if original_was_builtin and entity_id == original_id
            else src_slot
        )
        rec = counter_get(entity_id)
        if rec is None:
            counter[entity_id] = rec = [0.0, 0.0]
        rec[slot] += float(len(run.text))


def _classify_body_par(
    par: BodyPar,
    heuristics: FontHeuristics,
    out_spans: list[tuple[str, str, str | None]],
    counter: dict[int, list[float]],
) -> None:
    """Ref: colorization/entities/paragraph.py:12-86."""
    if par.style == "":
        return
    par_text = par.text
    style = par.style  # already lowercase in the signal grammar
    # empty-after-removing-\n\t (strip is equivalent for the emptiness
    # test and allocates nothing when the paragraph has other chars)
    if not par_text.strip("\n\t") and "toc" not in style:
        return

    def assign_simple(cat: str, source: str) -> None:
        if par_text.isspace() or len(par_text) == 0:
            return
        out_spans.append((cat, par_text, None))
        _count_decision(counter, par_text, source, tax.NAME_TO_ID[cat])

    def heuristic_path(original_was_builtin: bool) -> None:
        main, run_cats, source, runs = heuristics.classify_runs(par)
        _emit_heuristic_par(
            par_text, runs, main, run_cats, source,
            original_was_builtin, tax.NAME_TO_ID[tax.TEXT],
            out_spans, counter,
        )

    if style not in tax.BUILTIN_STYLES:
        heuristic_path(original_was_builtin=False)
        return

    cat = tax.map_builtin_style(style)
    if cat is None:
        return  # unrecognized builtin (ref: paragraph.py:85-86)

    if cat == tax.TEXT:
        if par.math:
            assign_simple(tax.EQUATION, tax.SRC_XML_PATTERN)
        elif par.numbered:
            assign_simple(tax.LIST, tax.SRC_XML_PATTERN)
        else:
            heuristic_path(original_was_builtin=True)
    else:
        assign_simple(cat, tax.SRC_BUILTIN)


def _classify_table(
    tbl: TableEl,
    out_spans: list[tuple[str, str, str | None]],
    counter: dict[int, list[float]],
    counts: dict[str, int],
) -> None:
    """Cells in document order; one builtin decision per table
    (ref: colorize_table.py:19-23); structural counts mirror the geometry
    entities the reference's detector would emit (tables/*).  Nested tables
    arrive as their own TableEl (the recursion in
    table_colorization_handler.py:165-178 re-enters the same handler) and
    contribute their own table/row/column counts."""
    _count_decision(counter, None, tax.SRC_BUILTIN, tax.NAME_TO_ID[tax.TABLE])
    header_rows = set()
    body_rows = set()
    cols = set()
    for c in tbl.cells:
        cols.add(c.col)
        (header_rows if c.header else body_rows).add(c.row)
        cat = tax.TABLE_HEADER_CELL if c.header else tax.TABLE_CELL
        out_spans.append((cat, c.text, None))
    counts[tax.TABLE] = counts.get(tax.TABLE, 0) + 1
    counts[tax.TABLE_ROW] = counts.get(tax.TABLE_ROW, 0) + len(body_rows)
    counts[tax.TABLE_HEADER_ROW] = (
        counts.get(tax.TABLE_HEADER_ROW, 0) + len(header_rows)
    )
    counts[tax.TABLE_COLUMN] = counts.get(tax.TABLE_COLUMN, 0) + len(cols)
    if header_rows:
        counts[tax.TABLE_HEADER] = counts.get(tax.TABLE_HEADER, 0) + 1


def classify_elements(
    elements: Sequence[Element],
    heuristics: FontHeuristics,
) -> tuple[
    list[tuple[str, str, str | None]],
    dict[int, list[float]],
    dict[str, int],
    list[int],
    list[tuple[int, str, dict[str, int]]],
]:
    """Classify pre-parsed elements with a prebuilt heuristic map.

    Returns (out_spans, char_counter, counts, span_pages, pages) where
    ``char_counter`` is the builtin/heuristic char mass per entity id
    (annotation_quality.py input; mergeable by summation) and
    ``span_pages[i]`` is the 1-based page of ``out_spans[i]`` and ``pages``
    is one (page_number, page_text, page_counts) record per physical page
    (PageMetadataRecordDB analog, orm/models.py:132-187) — empty pages
    included, like blank rendered pages.

    Shared by the whole-document path and the salted mega-document chunk
    path (the classification of an element depends only on the element and
    the document-level font map, never on neighboring elements; page numbers
    are offset at chunk-merge time).
    """
    out_spans: list[tuple[str, str, str | None]] = []
    counter: dict[int, list[float]] = {}
    counts: dict[str, int] = {}
    span_pages: list[int] = []
    page = 1
    n_pages = 1
    page_counts: dict[int, dict[str, int]] = {}
    page_text_parts: dict[int, list[str]] = {}

    for el in elements:
        if isinstance(el, PageBreak):
            page += 1
            n_pages = page
            continue
        if isinstance(el, Meta):
            continue

        before = len(out_spans)
        struct_delta: dict[str, int] | None = None

        if isinstance(el, BodyPar):
            _classify_body_par(el, heuristics, out_spans, counter)
        elif isinstance(el, StreamPar):
            if len(el.text) == 0 or el.text.isspace():
                continue
            if el.tag == "hp":
                out_spans.append((tax.HEADER, el.text, None))
                _count_decision(
                    counter, el.text, tax.SRC_BUILTIN,
                    tax.NAME_TO_ID[tax.HEADER],
                )
            elif el.tag == "fp":
                out_spans.append((tax.FOOTER, el.text, None))
                _count_decision(
                    counter, el.text, tax.SRC_BUILTIN,
                    tax.NAME_TO_ID[tax.FOOTER],
                )
            else:  # textbox → text via xml pattern (ref: text_box.py:10-31)
                out_spans.append((tax.TEXT, el.text, None))
                _count_decision(
                    counter, el.text, tax.SRC_XML_PATTERN,
                    tax.NAME_TO_ID[tax.TEXT],
                )
        elif isinstance(el, Sdt):
            if len(el.text) == 0 or el.text.isspace():
                continue
            if el.form == "field":
                # sdt-based form field (ref: entities/form.py:94-124)
                cat = tax.FORM_FIELD
            elif el.form == "tag":
                # the run labelling the field (ref: form.py:140-158)
                cat = tax.FORM_TAG
            else:
                cat = tax.BIBLIOGRAPHY if "bib" in el.gallery else tax.TOC
            out_spans.append((cat, el.text, None))
            _count_decision(
                counter, el.text, tax.SRC_XML_PATTERN, tax.NAME_TO_ID[cat]
            )
        elif isinstance(el, TableEl):
            struct_delta = {}
            _classify_table(el, out_spans, counter, struct_delta)
        elif isinstance(el, Figure):
            out_spans.append((tax.FIGURE, "", el.media_ref))
            _count_decision(
                counter, None, tax.SRC_BUILTIN, tax.NAME_TO_ID[tax.FIGURE]
            )

        if len(out_spans) > before or struct_delta:
            new_spans = out_spans[before:]
            span_pages.extend([page] * len(new_spans))
            pc = page_counts.setdefault(page, {})
            for kind, _t, _m in new_spans:
                pc[kind] = pc.get(kind, 0) + 1
            if struct_delta:
                for k, v in struct_delta.items():
                    pc[k] = pc.get(k, 0) + v
                    counts[k] = counts.get(k, 0) + v

        # per-page body text (same serialization rule as serialize_text)
        if isinstance(el, BodyPar):
            s = el.text
        elif isinstance(el, TableEl) and el.parent is None:
            s = serialize_table(el)
        else:
            s = ""
        if len(s) > 0:
            page_text_parts.setdefault(page, []).append(s)

    for kind, _t, _m in out_spans:
        counts[kind] = counts.get(kind, 0) + 1
    pages = [
        (p, "\n".join(page_text_parts.get(p, [])), page_counts.get(p, {}))
        for p in range(1, n_pages + 1)
    ]
    return out_spans, counter, counts, span_pages, pages


def classify_document(
    spans: Sequence[tuple[str, str | None, str | None, int]],
    cfg: ExtractConfig = DEFAULT_CONFIG,
) -> DocResult:
    """Classify one interleaved document into its ordered span sequence."""
    if len(spans) > cfg.max_doc_spans:
        return DocResult(False, "too_many_spans", [], "", {}, 0.0, {})

    elements = parse_elements(spans)
    doc_text = serialize_text(elements)
    if len(doc_text) < cfg.min_text_chars:
        # min-text gate (ref: annotator_process.py:461-465)
        return DocResult(False, "min_text", [], doc_text, {}, 0.0, {})

    heuristics = FontHeuristics.from_pars(
        [el for el in elements if isinstance(el, BodyPar)], cfg
    )
    out_spans, char_counter, counts, span_pages, pages = classify_elements(
        elements, heuristics
    )

    quality, builtin_props = quality_from_counter(char_counter, counts)
    final = [
        (kind, text, media_ref, i)
        for i, (kind, text, media_ref) in enumerate(out_spans)
    ]
    props, lang_tags = element_meta(elements)
    return DocResult(
        True, None, final, doc_text, counts, quality, builtin_props,
        span_pages=span_pages, pages=pages, props=props, lang_tags=lang_tags,
    )


def element_meta(
    elements: Iterable[Element],
) -> tuple[dict[str, str], list[str]]:
    """D12 document-intrinsic metadata of the Meta elements: the property
    map (a later value wins) and the distinct language tags.  The reference
    returns list(set(...)) (oxml_metadata.py:33-41); sorted here so
    distributed results are deterministic."""
    props: dict[str, str] = {}
    lang_tags: set[str] = set()
    for el in elements:
        if isinstance(el, Meta):
            if el.key == "lang_tag":
                lang_tags.add(el.value)
            elif el.key:
                props[el.key] = el.value
    return props, sorted(lang_tags)


def quality_from_counter(
    char_counter: dict[int, list[float]], counts: dict[str, int]
) -> tuple[float, dict[str, float]]:
    """Ref: annotation_quality.py:18-83."""
    full: dict[int, list[float]] = {i: [0.0, 0.0] for i in tax.ID_TO_NAME}
    for entity_id, (b, h) in char_counter.items():
        full[entity_id][0] += b
        full[entity_id][1] += h
    char_counter = full

    builtin_props: dict[str, float] = {}
    for entity_id, (builtin, heuristic) in char_counter.items():
        total = builtin + heuristic
        builtin_props[tax.ID_TO_NAME[entity_id]] = (
            builtin / total if total > 0 else 0.0
        )

    num_entities = sum(counts.values())
    if num_entities == 0:
        return 0.0, builtin_props
    score = sum(
        count * builtin_props[kind]
        for kind, count in counts.items()
        if kind not in tax.QUALITY_IGNORED
    )
    return score / num_entities, builtin_props


# --------------------------------------------------------------------------
# text metrics (D10)
# --------------------------------------------------------------------------

import re as _re
import string as _string

_PUNCT_DELETE = str.maketrans("", "", _string.punctuation)
# compiled class complements — one C-level pass instead of per-char Python.
# \d intentionally differs from isnumeric() only on exotic numerics (U+00BD
# etc.) which the signal alphabet never contains; isalpha ⇔ \w minus digits/_
# likewise holds for the generated corpus and is range-tested in unit tests.
_NON_ALPHA = _re.compile(r"[\W\d_]+", _re.UNICODE)
_NON_NUM = _re.compile(r"\D+", _re.UNICODE)
_WS = _re.compile(r"\s+")


def text_metrics(text: str) -> dict[str, float]:
    """Ref: annotation_objects.py:165-185 (DocumentText)."""
    num_chars = len(text)
    num_alph = len(_NON_ALPHA.sub("", text))
    num_numeric = len(_NON_NUM.sub("", text))
    num_alnum = num_alph + num_numeric
    return {
        "num_words": float(len(text.translate(_PUNCT_DELETE).split())),
        "num_chars": float(num_chars),
        "num_alph_chars": float(num_alph),
        "num_numeric_chars": float(num_numeric),
        "num_alphnum_chars": float(num_alnum),
        "alnum_prop": (num_alnum / num_chars) if num_chars else 0.0,
        "alph_to_num_ratio": (num_alph / num_numeric) if num_numeric else 0.0,
    }


# Vectorized batch form of ``text_metrics``: the per-doc regex passes were
# ~85% of the extraction operator's row-build time (two re.sub string
# allocations + a translate per doc).  The batch form makes ONE pass: docs
# are joined with '\n' separators, decoded to a code-point array, class
# membership is a table lookup, and per-doc sums come from add.reduceat.
# The lookup tables are derived at first use FROM THE SAME regexes /
# str methods the scalar form uses (``_NON_ALPHA.sub`` over all BMP chars,
# ``str.isspace``, ``string.punctuation``), so the two forms cannot drift;
# any batch containing astral (>= U+10000) code points or unencodable
# surrogates falls back to the scalar form wholesale.  Parity is pinned by
# tests over the corpus plus unicode fuzz.
_TM_LUT = None


def _tm_luts():
    global _TM_LUT
    if _TM_LUT is None:
        import numpy as np

        # uint8 class tables: the per-character gathers write 1 byte per
        # character instead of 8 (the per-segment sums go through
        # ``np.add.reduceat(..., dtype=int64)``, so no overflow) — the pass
        # is memory-bandwidth-bound, so narrower scratch is directly faster
        bmp = "".join(map(chr, range(0x10000)))
        alpha = np.zeros(0x10000, dtype=np.uint8)
        digit = np.zeros(0x10000, dtype=np.uint8)
        for ch in _NON_ALPHA.sub("", bmp):
            alpha[ord(ch)] = 1
        for ch in _NON_NUM.sub("", bmp):
            digit[ord(ch)] = 1
        space = np.zeros(0x10000, dtype=bool)
        for cp in range(0x10000):
            if chr(cp).isspace():
                space[cp] = True
        punct = np.zeros(0x10000, dtype=np.uint8)
        for ch in _string.punctuation:
            punct[ord(ch)] = 1
        _TM_LUT = (alpha, digit, space, punct)
    return _TM_LUT


# cap the characters processed per vectorized sub-batch: the pass
# materializes ~12 bytes of scratch per character (utf-32 codes + masks),
# so an Arrow batch of 10k near-salt-threshold documents must not be
# joined wholesale (32M chars ≈ 400 MB peak scratch, bounded regardless
# of row count)
_TM_BATCH_CHAR_CAP = 1 << 25


def text_metrics_batch(texts: list[str]) -> list[dict[str, float]]:
    """``[text_metrics(t) for t in texts]``, one vectorized pass
    (size-bounded sub-batches; results identical to the scalar form)."""
    if not texts:
        return []
    total = 0
    for i, t in enumerate(texts):
        total += len(t)
        if total > _TM_BATCH_CHAR_CAP and i + 1 < len(texts):
            out: list[dict[str, float]] = []
            lo = 0
            run = 0
            for j, tj in enumerate(texts):
                run += len(tj)
                if run > _TM_BATCH_CHAR_CAP and j > lo:
                    out.extend(_text_metrics_batch_one(texts[lo:j]))
                    lo = j
                    run = len(tj)
            out.extend(_text_metrics_batch_one(texts[lo:]))
            return out
    return _text_metrics_batch_one(texts)


def _text_metrics_batch_one(texts: list[str]) -> list[dict[str, float]]:
    """One unchunked vectorized pass (see text_metrics_batch)."""
    import numpy as np

    if not texts:
        return []
    try:
        joined = "\n".join(texts) + "\n"
        codes = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
    except UnicodeEncodeError:  # lone surrogates: scalar fallback
        return [text_metrics(t) for t in texts]
    if codes.size and int(codes.max()) >= 0x10000:  # astral: fallback
        return [text_metrics(t) for t in texts]
    alpha, digit, space, punct = _tm_luts()
    lengths = np.fromiter(
        (len(t) for t in texts), dtype=np.int64, count=len(texts)
    )
    starts = np.zeros(len(texts), dtype=np.int64)
    np.cumsum(lengths[:-1] + 1, out=starts[1:])
    n_alph = np.add.reduceat(alpha[codes], starts, dtype=np.int64)
    n_num = np.add.reduceat(digit[codes], starts, dtype=np.int64)
    # words: drop ascii punctuation, then count runs of
    # non-whitespace.  The '\n' separators are never punctuation, so
    # every doc's (filtered) segment stays non-empty and no run
    # crosses a doc boundary.  Start positions in the punctuation-
    # filtered array are derived from the per-doc punctuation counts
    # (a cumsum over n_docs elements) instead of a full-length cumsum.
    pm = punct[codes]
    npunct = np.add.reduceat(pm, starts, dtype=np.int64)
    kstarts = starts.copy()
    if len(texts) > 1:
        kstarts[1:] -= np.cumsum(npunct[:-1])
    fcodes = codes[pm == 0]
    w = ~space[fcodes]
    runs = w.copy()
    runs[1:] &= ~w[:-1]
    n_words = np.add.reduceat(runs.view(np.uint8), kstarts, dtype=np.int64)
    out = []
    for i in range(len(texts)):
        na = int(n_alph[i])
        nn = int(n_num[i])
        nc = int(lengths[i])
        nan = na + nn
        out.append(
            {
                "num_words": float(int(n_words[i])),
                "num_chars": float(nc),
                "num_alph_chars": float(na),
                "num_numeric_chars": float(nn),
                "num_alphnum_chars": float(nan),
                "alnum_prop": (nan / nc) if nc else 0.0,
                "alph_to_num_ratio": (na / nn) if nn else 0.0,
            }
        )
    return out
