"""Golden guard for the four extraction entry points.

``tests/golden/*.jsonl`` hold the sorted output rows of
``parse_documents``, ``parse_turns_fused``, ``extract_sections_direct``
and ``extract_sections_fused`` over the 40-doc test corpus and the
hand-built turn sets of tests/test_spark_extract.py (malformed
conversation, NULL ``conv_id``, 3000-turn conversation, the
``max_turns_per_conv=100`` cap), with and without ``emit_errors``.
The test compares the live output with them byte for byte. Rows are
serialized in schema field order and map entry order, so a change in
either shows too.

The goldens pin the behaviour last verified against the reference
extractor; they keep that check on hosts where the reference-parity
tests cannot import it, but cannot judge outputs for new inputs.
Regenerate (only for an intended output change) with

    python tests/test_extract_golden.py
"""

import json
import os
import sys

import pytest

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden")
CORPUS = dict(n_docs=40, seed=42, skew_every=13, skew_mult=8)  # conftest's
TURNS_DDL = ("conv_id string, turn_idx int, role string, text string, "
             "tool string, ts timestamp")


def _turn(conv_id, idx, text):
    return (conv_id, idx, "tool", text, "gen", None)


def _header(title):
    return (f"<teiHeader><fileDesc><titleStmt><title>{title}</title>"
            "</titleStmt></fileDesc></teiHeader>")


RESULTS = "<div><head>Results</head><p>r.</p></div>"
TURN_SETS = {
    # a malformed conversation beside a good one with a NULL fragment
    "bad": [_turn("bad", 0, "not xml <<<"), _turn("good", 0, _header("T")),
            _turn("good", 1, RESULTS), _turn("good", 2, None)],
    "nullkey": [_turn(None, 0, _header("NullKey")),
                _turn(None, 1, "<div><head>Results</head><p>null r.</p></div>"),
                _turn("good", 0, _header("T")), _turn("good", 1, RESULTS)],
    "skew": [_turn("big", 0, _header("Big"))]
    + [_turn("big", i, f"<div><head>Results</head><p>chunk {i} text.</p></div>")
       for i in range(1, 3000)]
    + [_turn("tiny", 0, _header("Tiny")), _turn("tiny", 1, RESULTS)],
}


def cases(spark, corpus_path) -> dict:
    """Golden name → the outputs of every entry point that must equal it
    (records and sections each have an assembled-docs and a raw-turns
    entry point, row-identical by contract)."""
    from paperslicer_spark.operators.assemble import assemble_documents
    from paperslicer_spark.operators.extract import (
        extract_sections_direct, extract_sections_fused, parse_documents,
        parse_turns_fused)

    sets = {"corpus": spark.read.parquet(corpus_path)}
    sets.update({k: spark.createDataFrame(v, TURNS_DDL)
                 for k, v in TURN_SETS.items()})
    out = {}
    for name, turns in sets.items():
        docs = assemble_documents(turns)
        out[f"{name}.records"] = [parse_documents(docs),
                                  parse_turns_fused(turns, partitions=3)]
        out[f"{name}.sections"] = [
            extract_sections_direct(docs),
            extract_sections_fused(turns, partitions=3)]
        if name != "corpus":  # the corpus has no error documents
            out[f"{name}.sections.emit_errors"] = [
                extract_sections_direct(docs, emit_errors=True),
                extract_sections_fused(turns, partitions=3,
                                       emit_errors=True)]
    skew, corpus = sets["skew"], sets["corpus"]
    out["skew.records.max100"] = [parse_turns_fused(
        skew, partitions=4, max_turns_per_conv=100)]
    out["skew.sections.max100"] = [extract_sections_fused(
        skew, partitions=4, max_turns_per_conv=100)]
    out["skew.sections.max100.emit_errors"] = [extract_sections_fused(
        skew, partitions=4, max_turns_per_conv=100, emit_errors=True)]
    # option plumbing: merge/review switches, the conv-aligned layout and
    # output batches smaller than a conversation group
    docs = assemble_documents(corpus)
    opts = dict(merge_tables=False, review_mode=True)
    out["corpus.records.no_merge_review"] = [
        parse_documents(docs, **opts),
        parse_turns_fused(corpus, conv_aligned=True, batch_rows=2, **opts)]
    out["corpus.sections.no_merge_review"] = [
        extract_sections_direct(docs, **opts),
        extract_sections_fused(corpus, conv_aligned=True, **opts)]
    return out


def dump(df) -> str:
    """Sorted JSONL of the collected rows."""
    return "".join(sorted(json.dumps(r.asDict(recursive=True)) + "\n"
                          for r in df.collect()))


def _path(name: str) -> str:
    return os.path.join(GOLDEN, name + ".jsonl")


NAMES = sorted(f[:-len(".jsonl")] for f in os.listdir(GOLDEN)
               if f.endswith(".jsonl")) if os.path.isdir(GOLDEN) else []


@pytest.fixture(scope="module")
def live(spark, corpus_path):
    return cases(spark, corpus_path)


def test_every_case_has_a_golden(live):
    assert sorted(live) == NAMES


@pytest.mark.parametrize("name", NAMES)
def test_output_matches_golden(live, name):
    with open(_path(name), encoding="utf-8", newline="") as f:
        want = f.read()
    for df in live[name]:
        assert dump(df) == want


if __name__ == "__main__":
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from paperslicer_spark.session import get_spark
    from paperslicer_spark.sources.transcripts import write_local_corpus

    spark = get_spark(app_name="freeze-extract-goldens", master="local[4]",
                      shuffle_partitions=8)
    with tempfile.TemporaryDirectory() as tmp:
        write_local_corpus(os.path.join(tmp, "part-0.parquet"), **CORPUS)
        os.makedirs(GOLDEN, exist_ok=True)
        for name, dfs in sorted(cases(spark, tmp).items()):
            outs = {dump(df) for df in dfs}
            assert len(outs) == 1, f"{name}: entry points disagree"
            with open(_path(name), "w", encoding="utf-8", newline="") as f:
                f.write(outs.pop())
            print(name)
    spark.stop()
