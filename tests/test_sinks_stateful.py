"""Record sinks (K1-K3)."""

import glob
import json


def test_write_records_jsonl_dedup(spark, tmp_path):
    from paperslicer_spark.operators.sinks import (
        write_records_jsonl_dedup, write_small_export, with_doc_filename)

    rows = [
        ("c1", "10.1/A", "T1"), ("c2", "10.1/a", "T2"),   # dup DOI
        ("c3", None, "Same"), ("c4", None, "same"),        # dup title
        ("c5", None, "Unique"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, doi string, title string")
    out = str(tmp_path / "jsonl")
    write_records_jsonl_dedup(df, out)
    kept = set()
    for f in glob.glob(out + "/part-*"):
        with open(f) as fh:
            kept |= {json.loads(line)["conv_id"] for line in fh if line.strip()}
    assert kept == {"c1", "c3", "c5"}

    named = with_doc_filename(df)
    files = {r["doc_file"] for r in named.collect()}
    assert len(files) == 5 and all(f.endswith(".json") for f in files)

    write_small_export(df, str(tmp_path / "single"))
    assert len(glob.glob(str(tmp_path / "single") + "/part-*")) == 1
