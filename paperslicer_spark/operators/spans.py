"""Per-turn cleaning + span extraction — the throughput hot path.

The north metric is turns/sec with per-turn text+span equality
(BASELINE.json). This stage is a pure map (no shuffle): each turn's
balanced XML fragment is parsed in-executor (stdlib ElementTree inside
one ``mapInArrow``), producing

- the turn's cleaned text (reference P1 semantics: Python
  ``str.split()`` whitespace collapse — ``parser.py:12-13``), and
- one row per content unit (paragraph, heading, caption) with
  ``char_start/char_end`` offsets into the cleaned turn text.

Invariant (checked by tests): ``clean_text ==
turn_clean_text[char_start:char_end]`` for every emitted unit, and the
unit text equals what the full-document reference parse produces for
the same node (units never straddle turns by the fragment contract).

Scale notes: embarrassingly parallel, scales with input partitions;
Arrow batch size is capped via ``spark.sql.execution.arrow.
maxRecordsPerBatch`` (multi-KB payload strings — see session.py).
"""

from __future__ import annotations

from typing import List

from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame

from paperslicer_spark.extraction.tei import (
    T, T_AB, T_DIV, T_FIGDESC, T_FIGURE, T_HEAD, T_P, T_TABLE, _P_AB,
    normalize_space, _txt)
from paperslicer_spark.functions.sections import canonical_section_name
from paperslicer_spark.operators.extract import arrow_batches, arrow_schema

SPAN_SCHEMA = (
    "conv_id string, turn_idx int, unit_idx int, kind string, "
    "section_label string, char_start int, char_end int, clean_text string"
)

_WRAP_OPEN = '<w xmlns="http://www.tei-c.org/ns/1.0">'


def turn_units(fragment: str) -> tuple[str, List[dict], bool]:
    """Parse one balanced turn fragment → (clean_text, units, ok).

    Single preorder DFS (identical visit order to ``root.iter()``)
    carrying the enclosing-div label and the parent down the walk —
    replaces the per-turn parent map plus a parent-chain climb per
    paragraph (the label of the NEAREST enclosing div, None when that
    div has no direct ``<head>`` child or the unit is outside any
    div — exactly the old ``nearest_div_label``). Each div's head is
    canonicalized once instead of once per contained paragraph.
    """
    try:
        root = ET.fromstring(_WRAP_OPEN + fragment + "</w>")
    except ET.ParseError:
        # non-XML payload turn: clean = whitespace-collapsed raw text
        return normalize_space(fragment), [], False

    clean = _txt(root)  # == normalize_space(" ".join(itertext())), one pass
    units: List[dict] = []
    cursor = 0

    # explicit-stack preorder DFS (identical visit order to
    # ``root.iter()``): a recursive closure measured ~25% of the parse
    # in Python call overhead alone
    stack = [(root, None, None)]
    while stack:
        el, parent, div_label = stack.pop()
        tag = el.tag
        kind = None
        label = None
        if tag in _P_AB:
            kind = "para"
            label = div_label
        elif tag == T_HEAD:
            ptag = parent.tag if parent is not None else ""
            if ptag == T_FIGURE:
                kind = "figure_head"
            elif ptag == T_TABLE:
                kind = "table_caption"
            else:
                kind = "div_head"
                label = canonical_section_name(_txt(el)) or None
        elif tag == T_FIGDESC:
            is_tab = parent is not None and (parent.get("type") or "").lower() == "table"
            kind = "table_desc" if is_tab else "figure_caption"
        if kind is not None:
            text = _txt(el)
            if text:
                start = clean.find(text, cursor)
                if start >= 0:
                    # start < 0: nested-unit token overlap cannot occur
                    # for these tags; defensive skip, never a broken span
                    end = start + len(text)
                    cursor = end
                    units.append({
                        "kind": kind,
                        "section_label": label,
                        "char_start": start,
                        "char_end": end,
                        "clean_text": text,
                    })
        if tag == T_DIV:
            head = el.find(T_HEAD)
            div_label = (canonical_section_name(_txt(head)) or None) \
                if head is not None else None
        if len(el):
            stack.extend([(c, el, div_label) for c in reversed(el)])
    return clean, units, True


def _span_rows(batches):
    """Arrow batches of ``(conv_id, turn_idx, text)`` → span row tuples
    (a NULL turn yields none)."""
    for batch in batches:
        for conv_id, turn_idx, text in zip(
                *(col.to_pylist() for col in batch.columns)):
            if text is None:
                continue
            _, units, _ = turn_units(text)
            for i, u in enumerate(units):
                yield (conv_id, turn_idx, i, u["kind"], u["section_label"],
                       u["char_start"], u["char_end"], u["clean_text"])


def extract_turn_spans(turns: DataFrame) -> DataFrame:
    """Transcripts → per-unit span rows (map-only, no shuffle).

    Arrow-native stage: input is projected to the three columns the
    parse reads (an opaque UDF otherwise defeats column pruning and
    ships every column — guide §4.1), batches arrive as Arrow record
    batches, and output batches are built column-wise by the
    extraction core's ``arrow_batches``.
    """
    pa_schema = arrow_schema(SPAN_SCHEMA)

    def run(batches):
        return arrow_batches(_span_rows(batches), pa_schema, 4096)

    return turns.select("conv_id", "turn_idx", "text") \
        .mapInArrow(run, schema=SPAN_SCHEMA)
