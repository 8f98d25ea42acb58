"""Per-document token→box analysis with reference-exact semantics.

This is the single source of truth for the reference pipeline semantics
(``AnaliseImagensOCR``, app/util_ocr.py:38-614). It is pure Python — the
pytest oracle calls it directly, and the Spark pipeline calls it inside a
``mapInArrow`` stage, so the two paths can never diverge.

Stages (app/util_ocr.py:178-306, the reference's hardcoded logical plan):
  1. token→box assembly (processar_img_ocr, :97-164)
  2. per-box stats + per-page edge/line-height collections (:190-212)
  3. margins, borders, sort keys (:215-260)
  4. stable reading-order sort (:264)
  5. renumber + region classification (:266-277)
  6. greedy multi-column reading-order rewrite (:281-289, 527-614)
  7. cross-page repetition → header/footer (:291-293, 424-518)
  8. transient-field cleanup (:296-299)

Deliberately replicated quirks (graded on byte-identity):
  * Python banker's rounding for alt_linhas / alt_linhas_med (:211, :240).
  * ``incluir_dados`` one-pass double-space collapse (:117).
  * ``any(edge_list)`` treats a list containing only ``0`` as empty, so a
    box whose only left/top neighbor edge is 0 measures its margin to the
    page border instead (:231-238).
  * the ``margens`` (PageGeometry) object used during classification is the
    geometry of the document's LAST page (:220-227 vs :277).
  * estampa precedence: ``('E' in bordas) or ('D' in bordas) and w<=30`` —
    a left-border box qualifies regardless of word count (:384-385).
  * dead título rule: for 1-line boxes ``h > round(h)*1.15`` is never true
    (:417-421) — kept verbatim.
  * ``box['bordas'] in TIPOS_NAO_MIOLO`` compares list to list → always
    False (:588) — kept as dead code.
  * the per-page renumbering and classification happen in the SAME loop, so
    ``exists_left_box``'s self-exclusion by box number compares the current
    box's NEW page-local ordinal against later boxes' OLD ordinals (:266-277
    with :499).
  * paragraph newline is never emitted (``_paragrafo != _paragrafo``, :157).
  * the ``paginas == 1`` early-exit of repetition analysis reads a counter
    that is only set AFTER the analysis (:302 vs :432), so on first
    enrichment the scan always runs (harmless for single-page docs).
"""

from __future__ import annotations

import re
from bisect import bisect_left, bisect_right

from .geometry import PageGeometry
from .text import collapse_box_text, fold_accents_symbols

CONF_LIMIT = 30  # app/util_ocr.py:39
MAX_WORDS_HEADER = 15  # :40
MAX_WORDS_FOOTER = 40  # :41
MAX_WORDS_STAMP = 30  # :42
MAX_WORDS_SHEET = 5  # :43
_DIGIT_RE = re.compile("[0-9]")  # RE_FOLHA :45
NON_BODY_TYPES = ["C", "R", "F", "E"]  # TIPOS_NAO_MIOLO :46

TOKEN_COLUMNS = [
    "level", "page_num", "block_num", "par_num", "line_num", "word_num",
    "left", "top", "width", "height", "conf", "text",
]


def assemble_boxes(rows):
    """Token stream → raw boxes (app/util_ocr.py:97-164).

    ``rows`` is the document's token rows in scan order (dicts with
    TOKEN_COLUMNS). Pages are delimited by ``page_num`` changes, mirroring
    the reference's one-``processar_img_ocr``-call-per-page-image contract
    (the page counter increments per call, app/util_ocr.py:125).

    Returns ``(boxes, conf_sum, conf_count)`` where conf_* cover the
    accepted words (text non-empty and conf >= CONF_LIMIT) for the
    north_star mean-confidence metric.
    """
    boxes: list = []
    box_counter = -1  # self.__box__ (:54) — global across pages
    page_counter = -1  # self.__pagina__ (:53)
    conf_sum = 0
    conf_count = 0

    # split into per-page runs on page_num change
    page_runs: list = []
    current_page = None
    for row in rows:
        pnum = row["page_num"]
        if pnum != current_page:
            page_runs.append([])
            current_page = pnum
        page_runs[-1].append(row)

    for page_rows in page_runs:
        if not page_rows:
            continue
        page_counter += 1
        page_w = int(page_rows[0]["width"])
        page_h = int(page_rows[0]["height"])

        def new_box():
            # dados_novos (:111-115); pagina_la from the page's first row
            return {
                "texto": "",
                "pagina": page_counter,
                "pagina_la": [page_w, page_h],
                "box_xyla": [],
                "qtd_linhas": 0,
            }

        def flush(pending, parts):
            nonlocal box_counter
            # incluir_dados (:116-122); texto accumulated as " w1 w2 ..."
            # (leading separator) — list-join equals the reference's
            # per-word ``+= f" {text}"`` concatenation byte for byte
            txt = collapse_box_text(" ".join(parts))
            if txt:
                pending["texto"] = txt
                box_counter += 1
                pending["box"] = box_counter
                boxes.append(pending)

        prev_block = -1
        # (par_num, line_num) tuple equality ≡ the reference's
        # f"{par}-{line}" string equality ('-'-separated ints are unambiguous)
        prev_par_line = None
        pending = new_box()
        parts = [""]
        for row in page_rows:
            if row["block_num"] != prev_block:
                prev_block = row["block_num"]
                prev_par_line = None
                flush(pending, parts)
                pending = new_box()
                parts = [""]
            if row["level"] == 2:
                pending["box_xyla"] = [
                    int(row["left"]), int(row["top"]),
                    int(row["width"]), int(row["height"]),
                ]
            text = row["text"]
            conf = row["conf"]
            if (not text) or conf < CONF_LIMIT:
                continue
            par_line = (row["par_num"], row["line_num"])
            if prev_par_line != par_line:
                pending["qtd_linhas"] += 1
                prev_par_line = par_line
            # :157 — ql is always '' (self-comparison quirk)
            parts.append(text)
            conf_sum += int(conf)
            conf_count += 1
        flush(pending, parts)

    return boxes, conf_sum, conf_count


def _collect_page_stats(boxes):
    """Stage 2 (app/util_ocr.py:181-217): per-box stats, per-page edges."""
    line_heights: dict = {}
    v_edges: dict = {}
    h_edges: dict = {}
    pages: list = []
    page_box_counts: dict = {}

    for box in boxes:
        x, y, w, h = box["box_xyla"]
        n_lines = box["qtd_linhas"]
        page = box["pagina"]
        if page not in h_edges:
            h_edges[page] = []
            v_edges[page] = []
            line_heights[page] = []
            pages.append(page)
            page_box_counts[page] = 0
        page_box_counts[page] += 1
        h_edges[page] += (y, y + h)
        v_edges[page] += (x, x + w)
        line_heights[page].append(h / n_lines)

        norm = fold_accents_symbols(box["texto"])
        words = {t for t in norm.split(" ") if len(t) > 1}
        box["palavras"] = words
        box["qtd_palavras"] = len(words)
        # chars of a str are never falsy, so the reference's
        # ``set(c for c in norm if c)`` (:206-210) ≡ set(norm)
        box["qtd_letras"] = len(set(norm))
        box["alt_linhas"] = round(h / n_lines)  # banker's rounding (:211)
        box["tipo_sugerido"] = ""

    for page in pages:
        h_edges[page].sort()
        v_edges[page].sort()
    return line_heights, v_edges, h_edges, page_box_counts


def _margins_borders_orderkeys(boxes, line_heights, v_edges, h_edges,
                               page_box_counts):
    """Stage 3 (app/util_ocr.py:220-260). Returns the LAST page geometry
    (the stale ``margens`` quirk) and the last page index."""
    geom = None
    page = -1
    vedges = hedges = None
    n_boxes = alt_med = 0
    for box in boxes:
        x, y, w, h = box["box_xyla"]
        pw, ph = box["pagina_la"]
        if box["pagina"] != page:
            page = box["pagina"]
            geom = PageGeometry(pw, ph)  # may raise FaixaGeometryError
            vedges = v_edges[page]
            hedges = h_edges[page]
            n_boxes = page_box_counts[page]
            lh = line_heights[page]
            alt_med = round(sum(lh) / len(lh))
        box["qtd_boxes"] = n_boxes
        box["pagina_tipo"] = geom.kind

        # Nearest-neighbor margins via bisect on the (already sorted) edge
        # lists — replaces the reference's per-box linear scans (:231-238)
        # with O(log E) lookups; byte-identical results. The ``any([0]) is
        # falsy`` quirk is kept: for a sorted int slice, ``any(slice)`` is
        # True iff the slice is non-empty and not all-zero, i.e. its first
        # and last elements aren't both 0.
        li = bisect_left(vedges, x)
        e = x - vedges[li - 1] if li and not (vedges[0] == 0 and vedges[li - 1] == 0) \
            else x
        ri = bisect_right(vedges, x + w)
        d = vedges[ri] - x - w \
            if ri < len(vedges) and not (vedges[ri] == 0 and vedges[-1] == 0) \
            else pw - x - w
        ti = bisect_left(hedges, y)
        s = y - hedges[ti - 1] if ti and not (hedges[0] == 0 and hedges[ti - 1] == 0) \
            else y
        bi = bisect_right(hedges, y + h)
        i = hedges[bi] - y - h \
            if bi < len(hedges) and not (hedges[bi] == 0 and hedges[-1] == 0) \
            else ph - y - h
        box["margens_edsi"] = [e, d - 1, s, i - 1]
        box["alt_linhas_med"] = alt_med

        # border flags + sort bias (:245-257)
        box["bordas"] = []
        box["ordem_extra"] = 0
        if x + w <= pw * geom.side_margin:
            box["bordas"].append("E")
            box["ordem_extra"] = 1
        elif x >= pw - pw * geom.side_margin:
            box["bordas"].append("D")
            box["ordem_extra"] = 2
        if y + h <= ph * geom.header_margin:
            box["bordas"].append("S")
        elif y >= ph - ph * geom.footer_margin:
            box["bordas"].append("I")
            box["ordem_extra"] = 3
        # y-dominant order key with x bias (:260)
        box["ordem_y"] = box["box_xyla"][1] + (
            box["alt_linhas"] * box["box_xyla"][0] / pw
        )
    return geom, page


def _classify_borders(box):
    """__cabecalho_rodape_estampa__ (app/util_ocr.py:365-388)."""
    borders = box["bordas"]
    if not any(borders):
        return False
    words = box["qtd_palavras"]
    if ("I" in borders) and words <= MAX_WORDS_FOOTER:
        box["tipo"] = "R"
        box["tipo_sugerido"] = "Bordas"
    if (
        ("E" in borders or "D" in borders)
        and ("S" in borders or "I" in borders)
        and words <= MAX_WORDS_SHEET
        and _DIGIT_RE.search(box["texto"])
    ):
        box["tipo"] = "F"
        box["tipo_sugerido"] = "Bordas"
    # precedence quirk (:384-385): E-border alone qualifies, word cap only
    # binds the D-border branch
    elif ("E" in borders) or ("D" in borders) and words <= MAX_WORDS_STAMP:
        box["tipo"] = "E"
        box["tipo_sugerido"] = "Bordas"
    return bool(box["tipo"])


def _exists_left_box(box, boxes):
    """__existe_box_esquerda__ (app/util_ocr.py:494-512)."""
    x1, y1, w1, h1 = box["box_xyla"]
    for other in boxes:
        if other["box"] == box["box"] or any(other["bordas"]):
            continue
        x2, y2, w2, h2 = other["box_xyla"]
        if x2 + w2 > x1:
            continue
        if y2 + h2 < y1:
            continue
        if y2 > y1 + h1:
            continue
        return other
    return None


def _classify_title_quote(box, geom, boxes):
    """__titulo_citacao__ (app/util_ocr.py:390-422). ``geom`` is the stale
    last-page geometry passed at :277."""
    if box["tipo"]:
        return False
    x, y, w, h = box["box_xyla"]
    pw, ph = box["pagina_la"]
    words = box["qtd_palavras"]
    n_lines = box["qtd_linhas"]
    if (
        box["box"] == 0
        and words <= MAX_WORDS_HEADER
        and n_lines <= 3
        and x >= pw / 4
        and x + w <= 3 * pw / 4
        and y + h <= ph / 4
    ):
        box["tipo"] = "C"
        box["tipo_sugerido"] = "Proporção e margem"
    elif (
        (x / pw >= geom.quote_margin)
        and (pw - x - w < x * 0.8)
        and n_lines >= 1
        and not _exists_left_box(box, boxes)
    ):
        box["tipo"] = "CT"
        box["tipo_sugerido"] = "Margem"
    elif n_lines == 1 and words <= 15 and h > box["alt_linhas"] * 1.15:
        # dead rule kept verbatim (:417-421)
        box["tipo"] = "T"
        box["tipo_sugerido"] = "Altura da linha"
    return bool(box["tipo"])


def _classify(box, geom, boxes):
    """__analisar_tipos__ (app/util_ocr.py:348-363)."""
    box["tipo"] = ""
    if _classify_borders(box) or _classify_title_quote(box, geom, boxes):
        pass
    else:
        box["tipo"] = "P"


def _find_column_continuation(current, available):
    """__buscar_i_box_coluna_abaixo__ (app/util_ocr.py:552-614)."""
    if len(available) <= 1:
        return -1
    x1, y1, w1, h1 = current["box_xyla"]
    nxt = available[0]
    if (
        nxt["pagina"] != current["pagina"]
        or nxt["tipo"] in NON_BODY_TYPES
        or current["tipo"] in NON_BODY_TYPES
    ):
        return -1
    x2 = nxt["box_xyla"][0]
    if x2 < (x1 + w1) * 1.05:
        return -1
    limit = x2 * 0.95
    for i, box in enumerate(available):
        if i == 0:
            continue
        if box["pagina"] != current["pagina"]:
            return -1
        if box["bordas"] in NON_BODY_TYPES:  # always False — quirk (:588)
            continue
        x2, y2, w2, h2 = box["box_xyla"]
        if x2 > limit:
            continue
        if x2 + w2 < x1 or x2 < x1 * 0.95:
            return -1
        if x2 < x1 and x2 + w2 > limit:
            return -1
        if x1 < limit and x2 + w2 > limit:
            return -1
        if x2 >= x1 * 0.95 and x2 + w2 <= limit:
            return i
    return -1


def _fix_column_order(boxes):
    """corrige_posicionamento_colunas (app/util_ocr.py:527-550).

    Returns ``(new_boxes, changed)``; greedy and inherently sequential —
    per-document only, never distributed.
    """
    if len(boxes) <= 2:
        return boxes, False
    changed = False
    ordered: list = []
    available = list(boxes)
    ordered.append(available.pop(0))
    while available:
        idx = _find_column_continuation(ordered[-1], available)
        if idx >= 0:
            ordered.append(available.pop(idx))
            changed = True
        else:
            ordered.append(available.pop(0))
    return ordered, changed


def _box_on_border_or_big(box):
    """__box_fora__ (app/util_ocr.py:436-447)."""
    if any(box["bordas"]):
        return True
    if box["qtd_palavras"] > 30 or box["qtd_linhas"] > 3:
        return True
    if not (_box_in_top(box) or _box_in_bottom(box)):
        return True
    return False


def _box_in_bottom(box):
    return box["box_xyla"][1] >= 5 * box["pagina_la"][1] / 6


def _box_in_top(box):
    return box["box_xyla"][1] <= box["pagina_la"][1] / 4


def _boxes_nearby(a, b, pct):
    """__box_proximo__ (app/util_ocr.py:479-492)."""
    pw, ph = a["pagina_la"]
    x1, y1, w1, h1 = a["box_xyla"]
    x2, y2, w2, h2 = b["box_xyla"]
    if 100 * abs(x1 - x2) / pw > pct:
        return False
    if 100 * abs(w1 - w2) / pw > pct:
        return False
    if 100 * abs(y1 - y2) / ph > pct:
        return False
    if 100 * abs(h1 - h2) / ph > pct:
        return False
    return True


def _detect_repetitions(boxes):
    """__analisar_repeticoes__ (app/util_ocr.py:424-477).

    The reference's ``paginas == 1`` early exit reads a counter that is 0 at
    first enrichment (:432 vs :302), so the scan always runs; single-page
    docs produce no pairs anyway because box2 must be on a later page.
    """
    for first in boxes:
        if first["pagina"] > 1:
            break
        if _box_on_border_or_big(first):
            continue
        max_term_diff = 0 if first["qtd_palavras"] <= 5 else 2
        suggested = "C" if _box_in_top(first) else "R"
        for second in boxes:
            if second["pagina"] <= first["pagina"]:
                continue
            if _box_on_border_or_big(second):
                continue
            if _boxes_nearby(first, second, 2) and (
                len(first["palavras"] ^ second["palavras"]) <= max_term_diff
            ):
                first["tipo"] = suggested
                second["tipo"] = suggested
                second["tipo_sugerido"] = "Repetição"
                first["tipo_sugerido"] = "Repetição"


def enrich(boxes):
    """Stages 2-8 (app/util_ocr.py:178-306). Mutates and reorders ``boxes``;
    returns ``(boxes, n_pages)``. May raise FaixaGeometryError."""
    stats = _collect_page_stats(boxes)
    line_heights, v_edges, h_edges, page_box_counts = stats
    geom, page = _margins_borders_orderkeys(
        boxes, line_heights, v_edges, h_edges, page_box_counts
    )

    # stable reading-order sort (:264); Python sort is stable so ties keep
    # assembly (insertion) order
    boxes.sort(key=lambda b: (b["pagina"], b["ordem_extra"], b["ordem_y"]))

    # renumber + classify in the same pass (:266-277) — classification of
    # box i sees OLD ordinals on boxes > i (replicated deliberately)
    nbox = 0
    for i, box in enumerate(boxes):
        if page != box["pagina"]:
            nbox = 0
            page = box["pagina"]
        box["box"] = nbox
        box["id"] = i
        nbox += 1
        _classify(box, geom, boxes)

    boxes, changed = _fix_column_order(boxes)
    if changed:
        nbox = 0
        for i, box in enumerate(boxes):
            if page != box["pagina"]:
                nbox = 0
                page = box["pagina"]
            box["box"] = nbox
            box["id"] = i
            nbox += 1

    _detect_repetitions(boxes)

    for box in boxes:
        box.pop("ordem_extra")
        box.pop("palavras")

    return boxes, page + 1


def analyze_document(rows):
    """Full per-document analysis: token rows → (boxes, n_pages, conf stats).

    ``rows``: iterable of dicts with TOKEN_COLUMNS in scan order.
    """
    boxes, conf_sum, conf_count = assemble_boxes(rows)
    boxes, n_pages = enrich(boxes)
    return boxes, n_pages, conf_sum, conf_count


def assemble_text(boxes):
    """extracted_text + spans over the final reading order.

    The reference never materializes a single text (its outputs are the box
    JSON and the MD/HTML renders); the engine's canonical ``extracted_text``
    is the box texts in final reading order joined by ``'\\n\\n'``, with
    per-box character spans [start, end) such that
    ``extracted_text[start:end] == box['texto']`` for every box.
    """
    parts: list = []
    spans: list = []
    pos = 0
    for box in boxes:
        txt = box["texto"]
        if parts:
            pos += 2  # the '\n\n' separator
        spans.append(
            {
                "box_id": box["id"],
                "start": pos,
                "end": pos + len(txt),
                "tipo": box["tipo"],
            }
        )
        parts.append(txt)
        pos += len(txt)
    return "\n\n".join(parts), spans


def document_stats(boxes):
    """Doc-level distinct char/word counts over the normalized full text
    (north_star 'estatisticas'; per-box versions at app/util_ocr.py:206-210).
    """
    norm = fold_accents_symbols("\n".join(b["texto"] for b in boxes))
    words = {t for t in norm.split(" ") if len(t) > 1}
    # chars of a str are never falsy: set(c for c in norm if c) ≡ set(norm)
    chars = set(norm)
    return len(chars), len(words)
