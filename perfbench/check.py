"""Output checks, made with pyarrow only (no Spark).

Each function returns a list of problems; an empty list means the
output is correct.
"""

from __future__ import annotations

import glob
import os
from typing import Dict, List, Optional

import pyarrow.parquet as pq

from gen import digest

SECTION_COLS = ["conv_id", "section_label", "clean_text", "is_canonical"]
FUNNEL_COLS = ["n_docs", "n_quality_pass", "n_cluster_dropped", "n_kept"]


def _read(path: str, columns: Optional[List[str]] = None) -> List[Dict]:
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                             recursive=True))
    rows: List[Dict] = []
    for f in files:
        rel = os.path.relpath(f, path)
        if rel.startswith(("_", ".")) or "/_" in rel or "/." in rel:
            continue
        rows.extend(pq.read_table(f, columns=columns).to_pylist())
    return rows


def section_rows(out_dir: str) -> List[tuple]:
    return [tuple(r[c] for c in SECTION_COLS)
            for r in _read(os.path.join(out_dir, "data"), SECTION_COLS)]


def check_extract(out_dir: str, expected: tuple, n_convs: int,
                  n_buckets: int) -> List[str]:
    problems = []
    got = digest(section_rows(out_dir))
    if got != expected:
        problems.append(f"data/: {got[0]} rows, digest {got[1][:12]}; "
                        f"expected {expected[0]} rows, {expected[1][:12]}")
    quality = _read(os.path.join(out_dir, "quality"), ["total_docs"])
    if [r["total_docs"] for r in quality] != [n_convs]:
        problems.append(f"quality/ total_docs {quality} != {n_convs}")
    manifest = _read(os.path.join(out_dir, "_manifest"), ["bucket", "status"])
    done = sorted({r["bucket"] for r in manifest if r["status"] == "done"})
    if done != list(range(n_buckets)):
        problems.append(f"_manifest done buckets {done}")
    return problems


def check_curate(out_dir: str, expected: Dict) -> List[str]:
    """quality/, clusters/ and keep/ must hold the rows the oracles
    give (gen.expected_curation), metrics/ the funnel they imply, and
    chunks/ exactly the kept documents."""
    problems = []
    tables = {
        "quality": ["doc", "keep"],
        "clusters": ["doc", "cluster", "is_rep"],
        "keep": ["doc_id", "lang", "bucket"],
    }
    for table, cols in tables.items():
        got = digest(tuple(r[c] for c in cols)
                     for r in _read(os.path.join(out_dir, table), cols))
        want = expected[table]
        if got != want:
            problems.append(f"{table}/: {got[0]} rows, digest {got[1][:12]};"
                            f" expected {want[0]} rows, {want[1][:12]}")
    funnel = _read(os.path.join(out_dir, "metrics"), FUNNEL_COLS)
    if funnel != [expected["funnel"]]:
        problems.append(f"metrics/ funnel {funnel} != {expected['funnel']}")
    kept = {r["doc_id"] for r in _read(os.path.join(out_dir, "keep"),
                                       ["doc_id"])}
    chunked = {r["doc_id"] for r in _read(os.path.join(out_dir, "chunks"),
                                          ["doc_id"])}
    if chunked != kept:
        problems.append(f"chunks/ covers {len(chunked)} documents, "
                        f"keep/ has {len(kept)}")
    return problems
