"""paperslicer_spark — a PySpark-native section/media extraction engine.

A from-scratch reimplementation of the query and data-processing
capabilities of Tuminha/PaperSlicer (reference snapshot at
/root/reference, studied for behaviour only), re-expressed Spark-first:

- input: a table of multi-turn conversation/agent transcripts
  ``(conv_id string, turn_idx int, role string, text string,
  tool string, ts timestamp)`` whose ``text`` payloads carry TEI-like
  XML document markup split across turns;
- the reference's GROBID HTTP round-trip is replaced by in-executor,
  Arrow-batched DOM-lite parsing (``mapInArrow``);
- all assembly/aggregation is expressed as DataFrame ops with explicit
  position keys so results are deterministic under parallel execution;
- designed for 10^12-turn scale: salted repartitioning on ``conv_id``,
  AQE-tuned shuffles, broadcast dimension joins, checkpoint/resume via
  partition manifests.
"""

__version__ = "0.1.0"
