"""Round-6 optimization probes (guide §1.4): noop-sink isolation of
sub-stages the frozen bench.py can't see. NOT part of the driver
contract — bench.py stays the measured artifact.

Usage: [SPARK_GRAFT_SF_DIR=...] python bench_extra.py [probe ...]

Probes:
  boundary   JVM->Python->JVM cost of an identity mapInArrow over the
             spans input projection (no parse) — isolates the Arrow
             boundary from the Python parse.
  q11        stage decomposition of q11_jaccard_pairs: shingle+hash
             scan, df-window pass, sizes agg, pair counts, full query.
  x52        c4_line_filter: synth-lines construction vs full filter.
  assembly   assemble_documents alone (the JVM payload shuffle term).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from paperslicer_spark.session import get_spark

REPO = os.path.dirname(os.path.abspath(__file__))


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 1.0
    n_docs = max(int(100000 * sf), 200)
    only = set(sys.argv[1:])

    spark = get_spark(app_name="bench-extra-r06", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    corpus = os.path.join(REPO, ".bench_cache", f"transcripts_sf{sf}_n{n_docs}")
    turns = spark.read.parquet(corpus)
    out: dict[str, float] = {}

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    def timed(name, fn, repeats=2):
        best = None
        for _ in range(repeats):
            sc.setJobDescription(f"probe: {name}")
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        sc.setJobDescription(None)
        out[name] = round(best, 3)
        print(f"{name:34s} {best:7.3f}s", flush=True)

    def want(p):
        return not only or p in only

    # warmup
    from paperslicer_spark.operators.spans import extract_turn_spans
    force(extract_turn_spans(turns.sample(0.05, seed=1)))

    if want("boundary"):
        import pyarrow as pa

        def identity(batches):
            for b in batches:
                yield b

        t3 = turns.select("conv_id", "turn_idx", "text")
        timed("boundary_identity_mapInArrow",
              lambda: force(t3.mapInArrow(
                  identity, schema="conv_id string, turn_idx int, text string")))
        timed("boundary_scan_only", lambda: force(t3))
        timed("spans_full", lambda: force(extract_turn_spans(turns)))

    if want("q11"):
        from paperslicer_spark.functions.text_stats import md5_bigint, shingles
        from pyspark.sql import Window
        docs = entrymod._t(spark, sf_dir, "documents")
        sh = docs.select(
            F.col("doc_id").alias("doc"),
            F.explode(shingles(F.col("text"), 3)).alias("shingle"),
        ).select("doc", md5_bigint(F.col("shingle")).alias("shingle"))
        timed("q11_shingle_hash_scan", lambda: force(sh))
        w = Window.partitionBy("shingle")
        filt = (sh.withColumn("_df", F.count("*").over(w))
                .where(F.col("_df") <= 50).drop("_df"))
        timed("q11_df_window_pass", lambda: force(filt))
        timed("q11_sizes", lambda: force(
            filt.groupBy("doc").agg(F.count("*").alias("sz"))))
        grouped = (filt.groupBy("shingle")
                   .agg(F.sort_array(F.collect_list("doc")).alias("docs"))
                   .where(F.size("docs") >= 2))
        timed("q11_grouped_arrays", lambda: force(grouped))
        qs = entrymod.queries()
        timed("q11_full", lambda: force(qs["q11_jaccard_pairs"](spark, sf_dir)))

    if want("x52"):
        qs = entrymod.queries()
        docs = entrymod._t(spark, sf_dir, "documents").where(F.trim("text") != "")
        timed("x52_synth_lines_only", lambda: force(docs.select(
            "doc_id",
            F.array_join(entrymod._synth_lines(), "\n").alias("text"))))
        timed("x52_full", lambda: force(qs["x52_c4_line_filter"](spark, sf_dir)))

    if want("assembly"):
        from paperslicer_spark.operators.assemble import assemble_documents
        timed("assembly_salted64", lambda: force(
            assemble_documents(turns, skew_threshold=64)))

    print(json.dumps({"probes": out, "sf": sf, "cpus": int(cpus)}))
    spark.stop()


if __name__ == "__main__":
    main()
