"""Equivalence pins for the plan-construction rewrites.

kmeans and normalize_events build their expressions from single SQL
strings; each gets a test proving it computes EXACTLY what the
Column-by-Column construction it replaced computes — schema and rows —
so the rewrites can never drift from the semantics the oracles pinned.
SimHash has one Column construction path; its tests pin that a name, a
dotted name and a Column expression hash alike. The call-site capture
switch is pinned against the private PySpark attribute it sets.
"""

import pytest
from pyspark.sql import functions as F


# ---- kmeans_assign: SQL fast path vs Column construction -------------

def test_kmeans_assign_sql_equals_column_construction(spark):
    from chunker_spark.ops.clustering import _sq_dist, kmeans_assign

    rows = [
        (0, [0.0, 0.0, 0.0]),
        (1, [1.0, 2.0, -3.5]),
        (2, [0.5, 0.5, 0.5]),
        (3, [1e-9, -1e-9, 123456.789]),
        # exact tie with both centroids -> lower cid must win
        (4, [2.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0, 0.0]), (1, [3.0, 0.0, 0.0]), (2, [0.5, 0.5, 0.5])]

    new = kmeans_assign(df, cents)

    v = F.col("embedding").cast("array<double>")
    structs = F.array(
        *[
            F.struct(
                F.round(_sq_dist(v, vec), 6).alias("d"),
                F.lit(int(cid)).alias("cid"),
            )
            for cid, vec in cents
        ]
    )
    best = F.array_min(structs)
    old = df.withColumn("cluster", best["cid"]).withColumn("sq_dist", best["d"])

    assert new.schema == old.schema
    assert new.exceptAll(old).count() == 0 and old.exceptAll(new).count() == 0


def test_kmeans_assign_rejects_dotted_vec_col(spark):
    """The SQL string path has no Column fallback: a struct path must
    raise instead of being quoted into one (wrong) column name."""
    from chunker_spark.ops.clustering import kmeans_assign

    df = spark.createDataFrame(
        [(0, ([1.0, 0.0],))], "vec_id long, s struct<embedding: array<double>>"
    )
    with pytest.raises(ValueError, match="s.embedding"):
        kmeans_assign(df, [(0, [1.0, 0.0])], vec_col="s.embedding")


# ---- simhash: one path for names and Columns -------------------------

def test_simhash_name_equals_column(spark):
    from chunker_spark.ops.dedup import simhash_expr

    rows = [
        (0, "The quick brown fox jumps over the lazy dog"),
        (1, "lorem ipsum dolor sit amet " * 5),
        (2, ""),
        (3, "one-word"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    both = df.select(
        "doc_id",
        simhash_expr("text").alias("h_name"),
        simhash_expr(F.col("text")).alias("h_col"),
    ).collect()
    for r in both:
        assert r["h_name"] == r["h_col"], r


def test_simhash_dotted_name_reaches_struct_field(spark):
    """A dotted name is not an identifier, so it takes the Column path
    and resolves ``s.text`` as a struct field, hashing like the flat
    column does."""
    from chunker_spark.ops.dedup import simhash_expr

    rows = [(0, "The quick brown fox", ("The quick brown fox",)), (1, "", ("",))]
    df = spark.createDataFrame(rows, "doc_id long, text string, s struct<text: string>")
    for r in df.select(
        simhash_expr("text").alias("flat"), simhash_expr("s.text").alias("nested")
    ).collect():
        assert r["flat"] == r["nested"], r


# ---- call-site capture switch: a private PySpark attribute -----------

def test_debugging_cache_patch_still_reaches_pyspark():
    """__spark_entry__ turns call-site capture off by setting the private
    ``pyspark.errors.utils._enable_debugging_cache``. Assigning a renamed
    attribute would succeed silently and lose the plan-build saving, so
    pin that PySpark's reader still consults that exact global."""
    import pyspark.errors.utils as peu

    assert "_enable_debugging_cache" in peu.is_debugging_enabled.__code__.co_names
    import __spark_entry__  # noqa: F401

    assert peu._enable_debugging_cache is False
    assert peu.is_debugging_enabled() is False


# ---- normalize_events: precompiled SQL vs canonical_field ------------

def test_normalize_events_sql_equals_canonical_field(spark):
    from chunker_spark.cdc.schema import (
        FIELD_SOURCES,
        canonical_field,
        normalize_events,
    )

    # one row per schema version, plus a null-version row (fallthrough)
    rows = [
        (1, "2024-01-01T00:00:00", "I", 1, "r1", "p1", "c1", "py", None, None, "x"),
        (2, "2024-01-01T00:00:01", "U", 2, "r2", "p2", "c2", "py", None, "dev", "y"),
        (3, "2024-01-01T00:00:02", "D", 3, "r3", "p3", "c3", None, "rust", "main", None),
        (4, "2024-01-01T00:00:03", "I", None, "r4", "p4", "c4", "go", None, None, "z"),
    ]
    schema = (
        "seq long, ts string, op string, schema_ver int, repo string, "
        "path string, commit string, lang string, language string, "
        "branch string, content string"
    )
    df = spark.createDataFrame(rows, schema)
    new = normalize_events(df)
    old = df.select(
        F.col("seq"), F.col("ts"), F.col("op"),
        *[canonical_field(name) for name in FIELD_SOURCES],
    )
    assert [f.name for f in new.schema.fields] == [f.name for f in old.schema.fields]
    assert new.exceptAll(old).count() == 0 and old.exceptAll(new).count() == 0
