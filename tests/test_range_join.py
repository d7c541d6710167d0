from pyspark.sql import functions as F

from spatialgraft import datagen, sqlgen
from spatialgraft.extract import with_geometry
from spatialgraft.ops import range as rops
from tests.oracle import assert_df_matches_sql


def engine_points(spark, sf_dir):
    """Full engine path: synthesize spans docs -> Arrow extract."""
    return with_geometry(datagen.documents_spans(spark, sf_dir))


def test_extract_roundtrip(spark, sf_smoke):
    """Arrow extraction recovers exactly the derived geometry."""
    got = engine_points(spark, sf_smoke).select("doc_key", "mx", "my",
                                                "x", "y")
    sql = (f"SELECT doc_key, mx, my, x, y FROM ({sqlgen.points_cte()}) p")
    assert_df_matches_sql(got, sql, sf_smoke)


def test_spans_preserved(spark, sf_smoke):
    """Span-sequence invariant: extraction leaves spans untouched, and
    the full-width output keeps the input columns, then the derived
    geometry fields, in order."""
    docs = datagen.documents_spans(spark, sf_smoke)
    out = with_geometry(docs)
    assert out.columns == docs.columns + ["doc_key", "mx", "my", "x", "y",
                                          "text"]
    a = docs.select("doc_id", F.to_json("spans").alias("j"))
    b = out.select("doc_id", F.to_json("spans").alias("j"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_range_join_count_vs_oracle(spark, sf_correct):
    pts = engine_points(spark, sf_correct)
    boxes = datagen.query_boxes(spark, sf_correct)
    got = rops.range_join_count(pts, boxes)
    sql = (f"WITH pts AS ({sqlgen.points_cte()}), "
           f"boxes AS ({sqlgen.boxes_cte()}) "
           "SELECT b.box_id AS box_id, COUNT(*) AS cnt "
           "FROM boxes b JOIN pts p "
           "ON p.mx BETWEEN b.xmin AND b.xmax "
           "AND p.my BETWEEN b.ymin AND b.ymax "
           "GROUP BY 1")
    assert_df_matches_sql(got, sql, sf_correct)


def test_range_join_pairs_vs_oracle(spark, sf_smoke):
    pts = engine_points(spark, sf_smoke)
    boxes = datagen.query_boxes(spark, sf_smoke)
    got = rops.range_join(pts, boxes)
    sql = (f"WITH pts AS ({sqlgen.points_cte()}), "
           f"boxes AS ({sqlgen.boxes_cte()}) "
           "SELECT b.box_id AS box_id, p.doc_key AS doc_key "
           "FROM boxes b JOIN pts p "
           "ON p.mx BETWEEN b.xmin AND b.xmax "
           "AND p.my BETWEEN b.ymin AND b.ymax")
    assert_df_matches_sql(got, sql, sf_smoke)


def test_range_filter_and_textual(spark, sf_smoke):
    pts = engine_points(spark, sf_smoke)
    box = (150000, 100000, 170000, 110000)  # the hotspot
    got = rops.range_filter(pts, *box).select("doc_key", "mx", "my")
    sql = (f"WITH pts AS ({sqlgen.points_cte()}) "
           "SELECT doc_key, mx, my FROM pts "
           f"WHERE mx BETWEEN {box[0]} AND {box[2]} "
           f"AND my BETWEEN {box[1]} AND {box[3]}")
    assert_df_matches_sql(got, sql, sf_smoke)

    got2 = rops.spatio_textual_filter(pts, *box, "flag R").select(
        "doc_key")
    sql2 = (f"WITH pts AS ({sqlgen.points_cte()}) "
            "SELECT doc_key FROM pts "
            f"WHERE mx BETWEEN {box[0]} AND {box[2]} "
            f"AND my BETWEEN {box[1]} AND {box[3]} "
            "AND lower(textline) LIKE '%flag r%'")
    assert_df_matches_sql(got2, sql2, sf_smoke)
