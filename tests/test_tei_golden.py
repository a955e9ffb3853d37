"""Golden guard for the TEI parser and the heading canonicalizer.

The reference-parity tests in tests/test_tei_parser.py and
tests/test_sections_mapping.py need the reference extractor importable
(``reference_modules``). This file pins the same inputs against
``tests/golden/tei/`` instead, so the guard also runs where the
reference is absent:

- ``records.tsv``: ``json.dumps(parse_tei(...), sort_keys=True)`` per
  case — the fixture TEIs, the 60-doc seeded corpus, the
  ``size_mult=30`` skewed document and the duplicate-zone payload;
- ``section_names.jsonl``: ``[heading, canonical_section_name(heading)]``
  per probe — every ``exact_map()`` key under each ``_decorations``
  variant, the rule-cascade probes, 300 strings drawn with
  ``random.Random(0)`` from the fuzz alphabet, and the headings of the
  Spark column-variant test (also checked through
  ``canonical_section_col``).

Both are compared byte for byte. Caveat: the goldens pin the behaviour
last verified against the reference; they cannot judge outputs for new
inputs, so a new input needs the reference (or a reviewed golden
update). Regenerate, only for an intended output change, with

    python tests/test_tei_golden.py
"""

import json
import os
import random
import string
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from test_sections_mapping import _decorations  # noqa: E402
from test_tei_parser import (  # noqa: E402
    BASIC_TEI, DUP_ZONE_TEI, FALLBACK_TEI, MULTI_CONTAINER_TEI,
    NESTED_CONTAINER_TEI, OTHER_TEI)

GOLDEN = os.path.join(HERE, "golden", "tei")
RECORDS = os.path.join(GOLDEN, "records.tsv")
NAMES = os.path.join(GOLDEN, "section_names.jsonl")

FUZZ_ALPHABET = string.ascii_letters + string.digits + " .|-–—:&'()"
CASCADE_PROBES = [
    "Bayesian meta-analysis of outcomes",
    "Patient population and statistics",
    "Aims of the present work",
    "General discussion of findings and results",
    "Concluding remarks",
    "Key results overview",
    "Something entirely novel here",
    "results & discussion",
    "Study aims",
    "heterogeneity assessment approach",
]


def tei_cases():
    """Case id → (payload, source_path), as the parity tests pass them."""
    from paperslicer_spark.sources.transcripts import (
        assemble_payload, build_document)

    cases = {name: (tei, "/p.pdf") for name, tei in (
        ("nested_container", NESTED_CONTAINER_TEI),
        ("multi_container", MULTI_CONTAINER_TEI),
        ("basic", BASIC_TEI), ("fallback", FALLBACK_TEI),
        ("other", OTHER_TEI))}
    for i in range(60):
        cases[f"corpus{i:02d}"] = (
            assemble_payload(build_document(i, seed=42)), f"conv{i:08d}")
    cases["skewed"] = (
        assemble_payload(build_document(0, seed=42, size_mult=30)), "x")
    cases["dup_zone"] = (DUP_ZONE_TEI, "dupzone")
    return cases


def fuzz_strings(n=300, max_len=60):
    rng = random.Random(0)
    return ["".join(rng.choice(FUZZ_ALPHABET)
                    for _ in range(rng.randint(0, max_len)))
            for _ in range(n)]


def column_probes():
    """The headings of test_sections_mapping.test_spark_column_variant."""
    from paperslicer_spark.functions.sections import exact_map

    heads = sorted(exact_map().keys())
    return [v for h in heads[:80] for v in (h, h.title(), f"2. {h}")] + [
        "Bayesian framework statistics", "Key results overview",
        "Novel Protocol"]


def headings():
    from paperslicer_spark.functions.sections import exact_map

    return ([v for raw in exact_map() for v in _decorations(raw)]
            + CASCADE_PROBES + fuzz_strings() + column_probes())


def records_text() -> str:
    from paperslicer_spark.extraction.tei import parse_tei

    return "".join(
        f"{name}\t{json.dumps(parse_tei(tei, source_path=src), sort_keys=True)}\n"
        for name, (tei, src) in tei_cases().items())


def names_text() -> str:
    from paperslicer_spark.functions.sections import canonical_section_name

    return "".join(json.dumps([h, canonical_section_name(h)]) + "\n"
                   for h in headings())


def _read(path):
    with open(path, encoding="utf-8", newline="") as f:
        return f.read()


def test_parse_tei_matches_golden():
    want, got = _read(RECORDS), records_text()
    w = dict(line.split("\t", 1) for line in want.splitlines())
    g = dict(line.split("\t", 1) for line in got.splitlines())
    assert sorted(k for k in w.keys() | g.keys() if w.get(k) != g.get(k)) == []
    assert got == want


def test_canonical_section_name_matches_golden():
    from paperslicer_spark.functions.sections import canonical_section_name

    want, got = _read(NAMES), names_text()
    pairs = [json.loads(line) for line in want.splitlines()]
    assert [h for h, key in pairs if canonical_section_name(h) != key] == []
    assert got == want


def test_canonical_section_col_matches_golden(spark):
    from pyspark.sql import functions as F

    from paperslicer_spark.functions.sections import canonical_section_col

    golden = dict(json.loads(line) for line in _read(NAMES).splitlines())
    probes = column_probes()
    df = spark.createDataFrame([(p,) for p in probes], "head string")
    got = {r["head"]: r["key"] for r in df.select(
        "head", canonical_section_col(F.col("head")).alias("key")).collect()}
    assert [p for p in probes if got[p] != golden[p]] == []


if __name__ == "__main__":
    os.makedirs(GOLDEN, exist_ok=True)
    for path, text in ((RECORDS, records_text()), (NAMES, names_text())):
        with open(path, "w", encoding="utf-8", newline="") as f:
            f.write(text)
        print(path, len(text.splitlines()), "lines")
