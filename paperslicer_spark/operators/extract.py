"""Document extraction: one Arrow-batched parse core + exploded views.

This is the Spark-side replacement for the reference's per-PDF loop
(``project.py:174-192`` → ``pipeline.process``): ONE ``mapInArrow``
stage runs the whole record assembly (DOM-lite parse + table merge +
review profile) per document, so there is exactly one
JVM↔Python/Arrow boundary on the hot path (SURVEY.md §4.6).

The four entry points are compositions of one core (``_extract``):

- ``parse_documents``: assembled docs → nested records;
- ``parse_turns_fused``: raw turns → nested records;
- ``extract_sections_direct``: assembled docs → flat sections rows;
- ``extract_sections_fused``: raw turns → flat sections rows.

Each piece of the core is written once:

- input shape: ``_doc_shape`` reads ``(conv_id, payload)`` rows;
  ``_turn_shape`` repartitions/sorts raw turns and assembles each
  conversation inside the UDF (no payload shuffle);
- ``_build_row``: the only place a document is parsed;
- output projection: ``_record_rows`` or ``_section_rows``;
- ``arrow_batches``: the column-wise ``pa.RecordBatch`` builder, shared
  with ``spans.extract_turn_spans``.

Error model mirrors the reference's per-document try/except
(``project.py:57-62``): failures become ``status='error'`` rows, never
task failures — at 10^12-turn scale one malformed payload must not
kill a stage.
"""

from __future__ import annotations

from functools import partial
from typing import Iterator, Optional

from pyspark.sql import DataFrame, functions as F

from paperslicer_spark.extraction.merge import merge_table_entries
from paperslicer_spark.extraction.review import apply_review, should_apply
from paperslicer_spark.extraction.tei import parse_tei

RECORD_SCHEMA = (
    "conv_id string, status string, error string, "
    "title string, journal string, doi string, "
    "authors array<struct<name:string,affiliation:string>>, "
    "keywords array<string>, "
    "sections map<string,string>, "
    "other_sections array<struct<head:string,text:string>>, "
    "figures array<struct<label:string,caption:string,path:string,source:string,coords:string>>, "
    "tables array<struct<label:string,caption:string,path:string,source:string,coords:string>>, "
    "references array<struct<index:int,text:string,id:string,title:string,doi:string,year:string,authors:array<string>>>"
)

SECTIONS_SCHEMA = (
    "conv_id string, section_label string, clean_text string, "
    "is_canonical boolean"
)

# Marker label for error-document rows from the sections-only paths
# (emit_errors=True): at corpus scale "the sections output is silently
# smaller than the corpus" is an operational trap — the marker row
# keeps per-document accounting possible on the minimal-bytes path.
ERROR_SECTION_LABEL = "__error__"

# "no conversation open yet" sentinel for the turn-group loop. It must
# be distinct from None: the agg path's groupBy keeps a NULL conv_id as
# a real group, so a genuine null key has to open and close a group
# here too — `conv is None` would silently drop every null-keyed turn
# (None != None is False, the group never opens).
_UNSET = object()


def arrow_schema(ddl: str):
    """Spark DDL → the ``pa.Schema`` a ``mapInArrow`` UDF must emit
    (resolved on the driver: DDL parsing needs the JVM)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    return to_arrow_schema(_parse_datatype_string(ddl))


def arrow_batches(rows, schema, flush_rows: int) -> Iterator["pa.RecordBatch"]:
    """Row tuples → ``pa.RecordBatch``es of ``flush_rows`` rows (the
    last may be shorter), built column-wise: one C-level ``zip(*rows)``
    transpose and one ``pa.array`` per column. Pandas-DataFrame
    construction + coercion measured ~5× dearer per batch, per-row
    dicts ~10× dearer still."""
    import pyarrow as pa

    def build(buf):
        return pa.RecordBatch.from_arrays(
            [pa.array(col, f.type) for col, f in zip(zip(*buf), schema)],
            schema=schema)

    buf: list = []
    for row in rows:
        buf.append(row)
        if len(buf) >= flush_rows:
            yield build(buf)
            buf = []
    if buf:
        yield build(buf)


def _build_row(conv_id, payload: Optional[str], error: Optional[str],
               merge_tables: bool, review_mode: Optional[bool]):
    """Parse one assembled payload → ``(record, None)``; or ``(None,
    error)`` when the parse raised or the input shape already failed
    the document (``error`` given)."""
    if error is not None:
        return None, error
    try:
        rec = parse_tei(payload, source_path=conv_id)
        if merge_tables:
            merge_table_entries(rec)
        if review_mode is True or (review_mode is None and should_apply(rec)):
            apply_review(rec)
        return rec, None
    except Exception as e:  # noqa: BLE001 — error-row model
        return None, f"{type(e).__name__}: {e}"


def _media(items) -> list:
    return [(m.get("label"), m.get("caption"), m.get("path"),
             m.get("source"), m.get("coords")) for m in items or []]


def _record_rows(conv_id, rec: Optional[dict], error: Optional[str]) -> list:
    """Nested-record projection: one ``RECORD_SCHEMA`` row per document
    (structs as field-ordered tuples)."""
    if rec is None:
        return [(conv_id, "error", error, None, None, None,
                 [], [], {}, [], [], [], [])]
    meta = rec.get("meta") or {}
    return [(
        conv_id, "ok", None,
        meta.get("title"), meta.get("journal"), meta.get("doi"),
        [(a.get("name"), a.get("affiliation"))
         for a in meta.get("authors") or []],
        list(meta.get("keywords") or []),
        rec.get("sections") or {},
        list((rec.get("other_sections") or {}).items()),
        _media(rec.get("figures")),
        _media(rec.get("tables")),
        [(r.get("index"), r.get("text"), r.get("id"), r.get("title"),
          r.get("doi"), r.get("year"), list(r.get("authors") or []))
         for r in rec.get("references") or []],
    )]


def _section_rows(conv_id, rec: Optional[dict], error: Optional[str],
                  emit_errors: bool) -> list:
    """Flat sections projection: canonical sections then other
    sections; an error document yields nothing, or one
    ``ERROR_SECTION_LABEL`` row carrying the error with ``emit_errors``."""
    if rec is None:
        return [(conv_id, ERROR_SECTION_LABEL, error, False)] \
            if emit_errors else []
    return ([(conv_id, k, v, True) for k, v in rec["sections"].items()]
            + [(conv_id, k, v, False)
               for k, v in rec["other_sections"].items()])


def _doc_shape(docs: DataFrame):
    """Assembled ``(conv_id, payload)`` rows → (relation, doc reader)."""

    def read(batches):
        for batch in batches:
            for conv_id, payload in zip(batch.column(0).to_pylist(),
                                        batch.column(1).to_pylist()):
                yield conv_id, payload, None

    return docs.select("conv_id", "payload"), read


def _fused_partitions(t: DataFrame, partitions: Optional[int]) -> int:
    """Data-proportional repartition width: at least the source's own
    split count (∝ input bytes / maxPartitionBytes), floored by 2×
    cores — a cores-only default would under-partition a 100 TB input
    into enormous reducer tasks."""
    if partitions:
        return partitions
    try:
        src_parts = t.rdd.getNumPartitions()
    except Exception:  # non-scan sources where planning the RDD is costly
        src_parts = 0
    return max(t.sparkSession.sparkContext.defaultParallelism * 2, src_parts)


def _turn_shape(turns: DataFrame, conv_aligned: bool,
                partitions: Optional[int],
                max_turns_per_conv: Optional[int]):
    """Raw turns → (relation, conversation grouper). The only shuffle
    is a hash repartition of raw turn rows on ``conv_id`` (none with
    ``conv_aligned``); rows are sorted within partitions, so each
    conversation is one contiguous run that the grouper assembles —
    carried across input batches — into one payload."""
    t = turns.select("conv_id", "turn_idx", "text")
    if not conv_aligned:
        t = t.repartition(_fused_partitions(t, partitions), "conv_id")
    # text tiebreak mirrors array_sort(struct(pos,text)) in the agg path
    t = t.sortWithinPartitions("conv_id", "turn_idx", "text")

    def read(batches):
        from paperslicer_spark.sources.transcripts import assemble_payload

        def close(conv, frags, over):
            if over:
                return conv, None, f"oversized: > {max_turns_per_conv} turns"
            return conv, assemble_payload(frags), None

        conv, frags, over = _UNSET, [], False
        for batch in batches:
            for conv_id, text in zip(batch.column(0).to_pylist(),
                                     batch.column(2).to_pylist()):
                if conv_id != conv:
                    if conv is not _UNSET:
                        yield close(conv, frags, over)
                    conv, frags, over = conv_id, [], False
                if over:
                    continue  # oversized: drop fragments, never buffer
                if text:  # null/empty fragments skipped (agg-path parity)
                    frags.append(text)
                    if max_turns_per_conv and len(frags) > max_turns_per_conv:
                        over, frags = True, []
        if conv is not _UNSET:
            yield close(conv, frags, over)

    return t, read


def _extract(shape, project, schema: str, flush_rows: int,
             merge_tables: bool, review_mode: Optional[bool]) -> DataFrame:
    """The core: input shape → ``_build_row`` → projection → Arrow
    batches, as ONE ``mapInArrow`` over the shape's relation."""
    rel, read = shape
    pa_schema = arrow_schema(schema)

    def run(batches):
        rows = (row for conv_id, payload, error in read(batches)
                for row in project(conv_id, *_build_row(
                    conv_id, payload, error, merge_tables, review_mode)))
        return arrow_batches(rows, pa_schema, flush_rows)

    return rel.mapInArrow(run, schema=schema)


def parse_documents(docs: DataFrame, merge_tables: bool = True,
                    review_mode: Optional[bool] = None) -> DataFrame:
    """``(conv_id, payload)`` → typed record rows.

    ``review_mode``: True forces the review profile, False disables it,
    None applies the reference heuristic (``journals/review.py:10-20``).
    """
    return _extract(_doc_shape(docs), _record_rows, RECORD_SCHEMA, 512,
                    merge_tables, review_mode)


def check_conv_alignment(turns: DataFrame) -> int:
    """Number of conversations straddling >1 input partition — 0 means
    the layout satisfies ``conv_aligned=True``'s contract. Diagnostic
    (one groupBy shuffle over (conv_id, partition_id) pairs, no
    payload bytes): run once when onboarding a new table layout, not
    per job — the per-job guard is the free count assertion
    (records == conversations) noted in ``parse_turns_fused``."""
    return (
        turns.select("conv_id", F.spark_partition_id().alias("pid"))
        .groupBy("conv_id")
        .agg(F.countDistinct("pid").alias("n_parts"))
        .where(F.col("n_parts") > 1)
        .count()
    )


def parse_turns_fused(turns: DataFrame, merge_tables: bool = True,
                      review_mode: Optional[bool] = None,
                      conv_aligned: bool = False,
                      partitions: Optional[int] = None,
                      batch_rows: int = 512,
                      max_turns_per_conv: Optional[int] = None) -> DataFrame:
    """Transcript turns → typed records with NO payload shuffle — the
    scale path, row-identical to ``parse_documents(assemble_documents(
    turns))`` (parity-enforced in tests/test_spark_extract.py).

    The agg path shuffles every assembled payload byte through a
    ``collect_list`` + ``array_sort`` of multi-KB strings and then
    ships it across the Arrow boundary; measured, that JVM agg stage is
    the records pipeline's non-scaling term (BENCH/scaling.json round 2
    decomposition: ~10 s floor regardless of cores). Here the only
    shuffle is a plain hash ``repartition`` of RAW turn rows on
    ``conv_id`` — no aggregation state, no big-array sort — rows are
    sorted within partitions, and per-conversation assembly happens
    INSIDE the same ``mapInArrow`` that parses: turn bytes cross the
    JVM↔Python boundary exactly once, compact records come back.
    ``batch_rows`` is the output batch size in records.

    ``conv_aligned=True`` additionally skips the repartition for
    sources whose layout guarantees a conversation never straddles
    partitions (the 100 TB deployment: Iceberg table bucketed by
    ``conv_id``, sorted by ``turn_idx`` — plans/checkpoint.py DDL);
    the stage is then a pure map, like the spans hot path.

    FILE-SPLIT CAVEAT: bucketing guarantees one bucket FILE per
    conversation, but Spark splits large parquet files across tasks at
    ``spark.sql.files.maxPartitionBytes`` boundaries — a bucket file
    over that size can split one conversation into two input
    partitions and silently emit two partial records. The layout
    contract is therefore: bucket files under ``maxPartitionBytes``,
    OR ``read.split.target-size`` >= the max file size / file
    splitting disabled (checkpoint.py DDL notes the same). Cheap
    runtime guard when doc count is known: assert output record count
    == conversation count (bench_scaling.py does exactly this); or
    run ``check_conv_alignment`` above on a new layout once.

    Long-conversation skew: a 1000× conversation is one Python group
    inside one task (bounded by its own payload size), never a hot
    reducer materializing a 10^5-element array — the skew-split salted
    agg remains available in assemble_documents for sources where even
    single payloads must be pre-reduced. ``max_turns_per_conv`` is the
    worker-memory guardrail for adversarial inputs: a conversation
    exceeding it becomes a ``status='error'`` row (its fragments are
    dropped as they stream in, so a 1 GB outlier never buffers), never
    a task OOM.
    """
    return _extract(
        _turn_shape(turns, conv_aligned, partitions, max_turns_per_conv),
        _record_rows, RECORD_SCHEMA, batch_rows, merge_tables, review_mode)


def extract_sections_direct(docs: DataFrame, merge_tables: bool = True,
                            review_mode: Optional[bool] = None,
                            emit_errors: bool = False) -> DataFrame:
    """``(conv_id, payload)`` → long-form sections rows directly.

    Row-equivalent to ``sections_long(parse_documents(docs))`` but the
    explode happens inside the UDF, so only flat string rows cross the
    Arrow boundary — no nested record structs. Use when downstream
    needs only sections (the common 100 TB case); the full record
    stage remains the source of figures/tables/references/meta.

    ``emit_errors=True`` emits one ``section_label='__error__'`` row
    per failed document (clean_text = the error message,
    is_canonical = false) so corpus-size accounting survives this
    path; the default False keeps exact row parity with
    ``sections_long(parse_documents(...))``, which drops error docs.
    """
    return _extract(_doc_shape(docs),
                    partial(_section_rows, emit_errors=emit_errors),
                    SECTIONS_SCHEMA, 4096, merge_tables, review_mode)


def extract_sections_fused(turns: DataFrame, merge_tables: bool = True,
                           review_mode: Optional[bool] = None,
                           conv_aligned: bool = False,
                           partitions: Optional[int] = None,
                           max_turns_per_conv: Optional[int] = None,
                           emit_errors: bool = False) -> DataFrame:
    """Sections-only fused variant: assembly + parse + explode all
    inside ONE ``mapInArrow`` over (optionally repartitioned) raw
    turns — the minimal-bytes path when downstream needs only sections
    (the common 100 TB case): only flat section strings ever cross the
    Arrow boundary, no nested meta/media/reference structs.
    Row-identical to ``sections_long(parse_turns_fused(...))``
    (error conversations yield no section rows either way, unless
    ``emit_errors=True`` adds a ``'__error__'`` marker row per failed
    document for corpus-size accounting).

    ``max_turns_per_conv``, ``conv_aligned`` and ``partitions`` mean
    what they mean for ``parse_turns_fused`` (an oversized
    conversation yields no section rows, or the error marker with
    ``emit_errors=True``) — see its docstring for the file-split
    caveat of ``conv_aligned``."""
    return _extract(
        _turn_shape(turns, conv_aligned, partitions, max_turns_per_conv),
        partial(_section_rows, emit_errors=emit_errors),
        SECTIONS_SCHEMA, 4096, merge_tables, review_mode)


def sections_long(records: DataFrame) -> DataFrame:
    """Exploded long-form sections table — the north_star's
    ``(conv_id, section_label, is_canonical, clean_text)`` view.

    Single-pass: canonical map entries and other_sections structs are
    concatenated into one array before ONE explode, so the upstream
    parse UDF runs exactly once (a union of two selects would
    re-execute the whole parse stage per branch).
    """
    entry = lambda label, text, canon: F.struct(  # noqa: E731
        label.alias("section_label"), text.alias("clean_text"),
        canon.alias("is_canonical"))
    arr = F.concat(
        F.transform(
            F.map_entries("sections"),
            lambda e: entry(e.getField("key"), e.getField("value"), F.lit(True)),
        ),
        F.transform(
            F.col("other_sections"),
            lambda o: entry(o.getField("head"), o.getField("text"), F.lit(False)),
        ),
    )
    return records.select("conv_id", F.explode(arr).alias("s")).select(
        "conv_id", "s.section_label", "s.clean_text", "s.is_canonical")


def media_long(records: DataFrame) -> DataFrame:
    """Figures+tables exploded with kind + per-document position —
    single explode, same one-parse-pass rationale as sections_long."""
    def tagged(col: str, kind: str):
        return F.transform(
            F.col(col),
            lambda m, i: F.struct(
                F.lit(kind).alias("kind"), i.alias("pos"),
                m.getField("label").alias("label"),
                m.getField("caption").alias("caption"),
                m.getField("path").alias("path"),
                m.getField("source").alias("source"),
                m.getField("coords").alias("coords"),
            ),
        )
    arr = F.concat(tagged("figures", "figure"), tagged("tables", "table"))
    return records.select("conv_id", F.explode(arr).alias("m")).select(
        "conv_id", "m.kind", "m.pos", "m.label", "m.caption", "m.path",
        "m.source", "m.coords")


def references_long(records: DataFrame) -> DataFrame:
    return records.select(
        "conv_id", F.explode("references").alias("r")
    ).select(
        "conv_id",
        F.col("r.index").alias("ref_index"),
        F.col("r.text").alias("text"),
        F.col("r.id").alias("ref_id"),
        F.col("r.title").alias("title"),
        F.col("r.doi").alias("doi"),
        F.col("r.year").alias("year"),
        F.col("r.authors").alias("authors"),
    )
