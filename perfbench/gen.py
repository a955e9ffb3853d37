"""Seeded inputs and Spark-free expectations for the benchmark.

- ``write_transcripts``: the extraction corpus, built from
  ``sources.transcripts`` (every 500th conversation 25x longer) plus
  this benchmark's own fault injection: about 1 in 200 conversations
  gets one malformed turn, about 1 in 200 gets one NULL-text turn.
  It is written as several parquet files, more than the core count.
- ``expected_sections``: the rows the job must commit under ``data/``,
  computed without Spark by running ``parse_tei`` (plus the table merge
  and review profile the job applies) over each conversation's
  assembled payload. A conversation with a malformed turn yields no
  rows (it becomes an error record).
- ``write_documents``: the curation input, a seeded table of the same
  shape as the sf0.1 ``documents`` table (5 languages, 20 sources,
  10-100 words from a 30-word vocabulary, ~5% near-duplicates made by
  appending `` dup`` to an earlier document).
- ``expected_curation``: the outputs ``run_curate.py`` must write with
  its default flags, computed without Spark by the repo's DuckDB
  oracles (``__spark_entry__.oracle_sql``): x27 quality flags, x26
  near-duplicate clusters, x28 stratified sample.
"""

from __future__ import annotations

import hashlib
import os
import random
from typing import Dict, Iterable, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from paperslicer_spark.extraction.merge import merge_table_entries
from paperslicer_spark.extraction.review import apply_review, should_apply
from paperslicer_spark.extraction.tei import parse_tei
from paperslicer_spark.sources.transcripts import (assemble_payload,
                                                   doc_turn_rows)

MALFORMED_TURN = "<div><head>Broken</head><p>unclosed <b>markup</p></div>"
FAULT_EVERY = 200

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()),
    ("tool", pa.string()), ("ts", pa.timestamp("us")),
])


def conversations(n_convs: int, seed: int) -> List[List[Dict]]:
    """Turn rows per conversation, with the fault injection applied."""
    rng = random.Random(seed)
    convs = []
    for i in range(n_convs):
        rows = doc_turn_rows(i, seed=seed, skew_every=500, skew_mult=25)
        faults = [text for text in (MALFORMED_TURN, None)
                  if rng.randrange(FAULT_EVERY) == 0]
        for text in faults:
            extra = dict(rows[-1], turn_idx=len(rows), text=text)
            rows.insert(rng.randrange(1, len(rows) + 1), extra)
        for k, r in enumerate(rows):
            r["turn_idx"] = k
        convs.append(rows)
    return convs


def write_transcripts(convs: List[List[Dict]], path: str,
                      n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    rows = [r for c in convs for r in c]
    table = pa.Table.from_pylist(rows, schema=TRANSCRIPT_SCHEMA)
    n = table.num_rows
    for j in range(n_files):
        lo, hi = j * n // n_files, (j + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{j:03d}.parquet"))


def payload_of(conv: List[Dict]) -> str:
    return assemble_payload([r["text"] for r in conv if r["text"]])


def sections_of(conv_id: str, payload: str) -> List[Tuple]:
    """Section rows of one conversation, [] when its payload fails."""
    try:
        rec = parse_tei(payload, source_path=conv_id)
    except Exception:  # noqa: BLE001 — the job's error-row model
        return []
    merge_table_entries(rec)
    if should_apply(rec):
        apply_review(rec)
    return ([(conv_id, k, v, True) for k, v in rec["sections"].items()]
            + [(conv_id, h, t, False)
               for h, t in (rec.get("other_sections") or {}).items()])


def digest(rows: Iterable[Tuple]) -> Tuple[int, str]:
    """(row count, order-independent digest) of section rows."""
    hashes = sorted(hashlib.sha1(repr(tuple(r)).encode()).digest()
                    for r in rows)
    h = hashlib.sha256()
    for x in hashes:
        h.update(x)
    return len(hashes), h.hexdigest()


def expected_sections(convs: List[List[Dict]]) -> Tuple[int, str]:
    return digest(row for c in convs
                  for row in sections_of(c[0]["conv_id"], payload_of(c)))


VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en"] * 11 + ["zh", "es", "fr", "de"] * 4


def write_documents(n_docs: int, seed: int, path: str, n_files: int) -> None:
    rng = random.Random(seed)
    texts: List[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB)
                                  for _ in range(rng.randint(10, 100))))
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(path, exist_ok=True)
    for j in range(n_files):
        lo, hi = j * n_docs // n_files, (j + 1) * n_docs // n_files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{j:03d}.parquet"))


def expected_curation(documents: str) -> Dict:
    """Digests of the curate job's quality/, clusters/ and keep/ rows,
    and its funnel counts.

    keep/ is the x28 sample of the documents that pass x27 and are not
    dropped by x26 (not their cluster's representative), as the job
    composes its stages."""
    import duckdb

    from __spark_entry__ import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{os.path.join(documents, '*.parquet')}')")
    quality = [(r[0], r[-1]) for r in
               con.sql(sql["x27_gopher_quality"]).fetchall()]
    clusters = con.sql(sql["x26_dup_clusters"]).fetchall()
    sample = con.sql(sql["x28_stratified_sample"]).fetchall()
    n_docs = con.sql("SELECT count(*) FROM documents").fetchone()[0]
    con.close()
    passed = {doc for doc, keep in quality if keep}
    dropped = {doc for doc, _, is_rep in clusters if not is_rep}
    keep = [r for r in sample if r[0] in passed and r[0] not in dropped]
    return {
        "quality": digest(quality), "clusters": digest(clusters),
        "keep": digest(keep),
        "funnel": {"n_docs": n_docs, "n_quality_pass": len(passed),
                   "n_cluster_dropped": len(dropped), "n_kept": len(keep)},
    }
