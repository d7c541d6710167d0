"""spatialgraft — a PySpark-native spatial-join + tiling engine.

Brand-new DataFrame/Arrow re-design of the capabilities of
purduedb/LocationSpark (reference at /root/reference): range queries,
spatial range joins, kNN joins, point-in-polygon joins, raster<->vector
tile assignment and skew-aware partitioning — plus the
training-data-pipeline operators (dedup, similarity search, text stats)
a 100 TB corpus needs.
"""
