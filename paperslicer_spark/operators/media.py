"""Media post-processing: typed coords, caps, preference filters, sinks.

Covers the Spark-expressible parts of the reference's media layer:

- F7 (``parser.py:146-171``): the quirky ``"page,x,y,w,h"`` string is
  preserved for equality in the record; here it is *additionally*
  exposed as a typed struct for downstream predicates.
- W4 (``media/exporter.py:18,68,110,169``): first-N caps become
  per-document top-k windows.
- W5 + §2.11 (``tests/test_media_filters.py:49-139`` — the reference's
  ``media/filters.py`` module is missing from the snapshot; behaviour
  reconstructed from its tests): banner-aspect drop and
  crop-over-page-image preference as pure column predicates. Pixel
  inspections (blank/low-ink) need rasterization (PyMuPDF absent) and
  are documented out of scope.
- §2.10: the strategy cascade's priority ordering as a rank over
  source tags.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# §2.10 cascade order — earlier wins (pipeline.py:194-318 priority)
SOURCE_PRIORITY = [
    "grobid+crop", "tei", "embedded-image", "tei-ref", "tei-text",
    "page-image",
]


def coords_struct(coords_col):
    """F7 as a typed struct: ``"page,x,y,w,h"`` → (page,x,y,w,h)."""
    parts = F.split(coords_col, ",")
    return F.when(
        coords_col.isNotNull() & (F.size(parts) >= 5),
        F.struct(
            parts[0].cast("int").alias("page"),
            parts[1].cast("double").alias("x"),
            parts[2].cast("double").alias("y"),
            parts[3].cast("double").alias("w"),
            parts[4].cast("double").alias("h"),
        ),
    )


def with_typed_coords(media: DataFrame) -> DataFrame:
    return media.withColumn("coords_t", coords_struct(F.col("coords")))


def cap_per_document(media: DataFrame, max_items: int = 50,
                     order_cols=("pos",)) -> DataFrame:
    """W4: keep the first ``max_items`` media entries per document in
    document order (the reference's ``max_images=50`` early break)."""
    w = Window.partitionBy("conv_id", "kind").orderBy(
        *[F.col(c) for c in order_cols])
    return (
        media.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_items)
        .drop("_rn")
    )


def filter_media(media: DataFrame, banner_aspect: float = 5.0) -> DataFrame:
    """§2.11 subset as metadata predicates:

    - drop banner-aspect entries (w/h > ``banner_aspect``, the 800×80
      page-image case from ``test_media_filters.py:108-113``);
    - W5: within a (doc, page), prefer crop-tagged sources over
      page-image duplicates (``:124-139``).
    """
    m = with_typed_coords(media)
    aspect_ok = (
        F.col("coords_t").isNull()
        | (F.col("coords_t.h") <= 0)
        | ((F.col("coords_t.w") / F.col("coords_t.h")) <= banner_aspect)
    )
    m = m.where(aspect_ok)

    prio = F.lit(len(SOURCE_PRIORITY))
    for i, s in enumerate(reversed(SOURCE_PRIORITY)):
        prio = F.when(F.col("source") == s,
                      F.lit(len(SOURCE_PRIORITY) - 1 - i)).otherwise(prio)
    w = Window.partitionBy(
        "conv_id", "kind", F.coalesce(F.col("coords_t.page"), F.lit(-1))
    ).orderBy(prio.asc(), F.col("pos").asc())
    return (
        m.withColumn("_prio_rank", F.rank().over(w))
        .where(
            (F.col("coords_t.page").isNull()) | (F.col("_prio_rank") == 1)
        )
        .drop("_prio_rank", "coords_t")
    )
