"""Driver contract for the spark-graft builder (PySpark target).

Engine: spatialgraft — PySpark-native spatial-join + tiling engine
(SURVEY.md §2 operator inventory).  Every query below runs the FULL
engine path: synthesize the spans-shaped documents table (input_hint)
-> vectorized Arrow span->geometry extraction -> DataFrame spatial op.
Oracles re-derive identical geometry straight from the parquet tables
via shared int64 arithmetic (spatialgraft.sqlgen).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spatialgraft import config as C  # noqa: E402
from spatialgraft import datagen  # noqa: E402
from spatialgraft.extract import with_geometry  # noqa: E402
from spatialgraft.oracles import HOTSPOT  # noqa: E402


def _points(spark: SparkSession, sf_dir: str,
            cols: list[str] | None = None) -> DataFrame:
    """Full engine path: synthesize spans table -> Arrow extraction.

    cols: output projection through the Python boundary (guide §4.1 —
    Catalyst cannot prune columns through mapInArrow, so each query
    declares what it consumes; the parse + span validation run
    unchanged).  None keeps the historical full-width output."""
    return with_geometry(datagen.documents_spans(spark, sf_dir),
                         columns=cols)


# the minimal projection every pure-spatial operator consumes
_SLIM = ["doc_key", "mx", "my"]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatial range-join with per-box count on sf0.001."""
    sf = "/root/testdata/sf0.001"
    from spatialgraft.ops import range as rops
    return rops.range_join_count(_points(spark, sf),
                                 datagen.query_boxes(spark, sf))


# ----------------------------------------------------------------- queries

def _q_range_join_count(spark, sf_dir):
    from spatialgraft.ops import range as rops
    return rops.range_join_count(_points(spark, sf_dir, _SLIM),
                                 datagen.query_boxes(spark, sf_dir))


def _q_range_join_pairs(spark, sf_dir):
    from spatialgraft.ops import range as rops
    return rops.range_join(_points(spark, sf_dir, _SLIM),
                           datagen.query_boxes(spark, sf_dir))


def _q_range_filter(spark, sf_dir):
    from spatialgraft.ops import range as rops
    return rops.range_filter(_points(spark, sf_dir, _SLIM), *HOTSPOT).select(
        "doc_key", "mx", "my")


def _q_spatio_textual(spark, sf_dir):
    from spatialgraft.ops import range as rops
    return rops.spatio_textual_filter(
        _points(spark, sf_dir, _SLIM + ["text"]), *HOTSPOT,
        "flag R").select("doc_key")


def _q_knn_join(spark, sf_dir):
    from spatialgraft.ops import knn as kops
    return kops.knn_join(_points(spark, sf_dir, _SLIM),
                         datagen.knn_queries(spark, sf_dir), k=C.DEFAULT_K)


def _q_knn_k150(spark, sf_dir):
    """Reference-scale k: LocationSpark's own benchmarks sweep k up to
    200 (reference README.md:51, testNestLoopKnnJoin.scala:89-103)."""
    from spatialgraft.ops import knn as kops
    return kops.knn_join(_points(spark, sf_dir, _SLIM),
                         datagen.knn_queries(spark, sf_dir), k=150)


def _q_pip_join_count(spark, sf_dir):
    from spatialgraft.ops import pip as pops
    return pops.pip_join_count(_points(spark, sf_dir, _SLIM),
                               datagen.polygons(spark, sf_dir))


def _q_pip_concave(spark, sf_dir):
    """Arbitrary simple polygons (concave, variable vertex count):
    exact int64 even-odd ray-cast — the north rule's general
    point-in-polygon (the convex fast path stays for fixed rings)."""
    from spatialgraft.ops import pip as pops
    return pops.pip_join_concave_count(
        _points(spark, sf_dir, _SLIM),
        datagen.polygons_concave(spark, sf_dir))


def _q_tiles_points(spark, sf_dir):
    from spatialgraft.ops import tiles as tops
    return tops.assign_tiles_points(_points(spark, sf_dir, _SLIM))


def _q_tiles_boxes(spark, sf_dir):
    from spatialgraft.ops import tiles as tops
    return tops.tiles_for_boxes(datagen.query_boxes(spark, sf_dir))


def _docs(spark, sf_dir):
    from spatialgraft.session import load_table
    return load_table(spark, sf_dir, "documents")


def _emb(spark, sf_dir):
    from spatialgraft.session import load_table
    return load_table(spark, sf_dir, "embeddings")


def _q_token_stats(spark, sf_dir):
    from spatialgraft.pipeline import textstats
    return textstats.token_stats(_docs(spark, sf_dir))


def _q_lang_id(spark, sf_dir):
    from spatialgraft.pipeline import textstats
    return textstats.lang_id(_docs(spark, sf_dir))


def _q_fingerprint(spark, sf_dir):
    from spatialgraft.pipeline import textstats
    return textstats.fingerprint(_docs(spark, sf_dir))


def _q_exact_dedup(spark, sf_dir):
    from spatialgraft.pipeline import dedup
    return dedup.exact_dedup(_docs(spark, sf_dir))


def _q_ngram_jaccard(spark, sf_dir):
    from spatialgraft.pipeline import dedup
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), tau=0.5)


def _q_minhash_lsh(spark, sf_dir):
    from spatialgraft.pipeline import dedup
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir))


def _q_simhash(spark, sf_dir):
    from spatialgraft.pipeline import dedup
    return dedup.simhash(_docs(spark, sf_dir))


def _q_simhash_pairs(spark, sf_dir):
    from spatialgraft.pipeline import dedup
    return dedup.simhash_pairs(_docs(spark, sf_dir))


def _q_cosine_topk(spark, sf_dir):
    from spatialgraft.pipeline import similarity
    return similarity.cosine_topk(_emb(spark, sf_dir))


def _q_lsh_ann(spark, sf_dir):
    from spatialgraft.pipeline import similarity
    return similarity.lsh_ann(_emb(spark, sf_dir))


def _q_cosine_dedup(spark, sf_dir):
    from spatialgraft.pipeline import similarity
    return similarity.cosine_dedup_pairs(_emb(spark, sf_dir), tau=0.35)


def _q_media_decode(spark, sf_dir):
    from spatialgraft.pipeline import multimodal
    pts = _points(spark, sf_dir, ["doc_key", "spans"])
    return multimodal.decode_features(multimodal.media_refs(pts))


def _q_media_decode_real(spark, sf_dir):
    """Real stdlib codec path: encode PNG/WAV bytes per doc, ship them
    through Arrow as a binary column, decode them back, and report the
    decoded statistics (which the oracle predicts arithmetically)."""
    from spatialgraft.pipeline import multimodal
    return multimodal.decode_media(
        multimodal.synth_media(_points(spark, sf_dir, ["doc_key"])))


def _q_multiget(spark, sf_dir):
    from pyspark.sql import functions as F
    from spatialgraft.ops import misc
    pts = _points(spark, sf_dir, _SLIM)
    keys = (pts.where(F.col("doc_key") % 97 == 0)
            .selectExpr("mx AS kmx", "my AS kmy"))
    return misc.multiget(pts, keys)


def _q_nearest_k(spark, sf_dir):
    from spatialgraft.ops import misc
    return misc.nearest_k(_points(spark, sf_dir, ["doc_key", "x", "y"]),
                          160000, 105000, 25)


def _q_count_in_box(spark, sf_dir):
    from spatialgraft.ops import misc
    return misc.count_in_box(_points(spark, sf_dir, ["mx", "my"]),
                             *HOTSPOT)


def _q_cell_histogram(spark, sf_dir):
    from spatialgraft.ops import misc
    return misc.cell_histogram(_points(spark, sf_dir, ["mx", "my"]))


def _q_to_wkt(spark, sf_dir):
    from spatialgraft.ops import misc
    return misc.to_wkt(_points(spark, sf_dir, ["doc_key", "x", "y"]))


def _q_intersects_join(spark, sf_dir):
    from spatialgraft.ops import range as rops
    return rops.intersects_join(datagen.data_boxes(spark, sf_dir),
                                datagen.query_boxes(spark, sf_dir))


def _q_multiput_get(spark, sf_dir):
    from pyspark.sql import functions as F
    from spatialgraft.ops import misc
    pts = _points(spark, sf_dir, _SLIM)
    base = pts.selectExpr("mx", "my", "CAST(1 AS BIGINT) AS v")
    upd = pts.where("doc_key % 97 = 0").selectExpr(
        "mx", "my", "CAST(100 AS BIGINT) AS v")
    merged = misc.multiput(base, upd, ["mx", "my"], "v", merge="sum")
    keys = pts.where("doc_key % 97 = 0").select("mx", "my").distinct()
    return merged.join(F.broadcast(keys), on=["mx", "my"])


def _q_spatio_textual_knn(spark, sf_dir):
    from spatialgraft.ops import knn as kops
    return kops.knn_join(_points(spark, sf_dir, _SLIM + ["text"]),
                         datagen.knn_queries(spark, sf_dir), k=5,
                         pred="lower(text) LIKE '%flag r%'")


def _q_range_join_count_salted(spark, sf_dir):
    from spatialgraft.ops import range as rops
    from spatialgraft.partitioner import plan_partitions
    pts = _points(spark, sf_dir, _SLIM)
    plan = plan_partitions(pts.select("doc_key", "mx", "my"))
    return rops.range_join_count_salted(
        pts, datagen.query_boxes(spark, sf_dir), plan)


def _session_tmp(spark, kind: str, sf_dir: str) -> str:
    """Stable per-(session, sf) scratch path: repeated driver-contract
    calls overwrite/reuse one directory instead of accumulating a fresh
    mkdtemp per call (VERDICT r5 nit 4)."""
    import tempfile
    tag = spark.sparkContext.applicationId
    sf = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(tempfile.gettempdir(), f"sg_{kind}_{tag}_{sf}")


def _q_range_filter_indexed(spark, sf_dir):
    from spatialgraft import index
    path = _session_tmp(spark, "idx", sf_dir) + "/pts"
    index.write_indexed(
        _points(spark, sf_dir, _SLIM).select("doc_key", "mx", "my"),
        path)
    return index.range_filter_indexed(spark, path, *HOTSPOT).select(
        "doc_key", "mx", "my")


def _q_checkpoint_range_join(spark, sf_dir):
    from spatialgraft.checkpoint import checkpointed_range_join
    # a stable root is also the more faithful resume exercise: the 2nd+
    # driver call starts from the previous call's committed manifest
    root = _session_tmp(spark, "ckpt", sf_dir)
    checkpointed_range_join(spark, sf_dir, root)  # cold run: commits
    return checkpointed_range_join(spark, sf_dir, root)  # resumed run


def _q_tile_rollup(spark, sf_dir):
    from spatialgraft.session import load_table
    from spatialgraft.streaming import tile_rollup_batch
    ev = load_table(spark, sf_dir, "events")
    return tile_rollup_batch(ev).selectExpr(
        "CAST(window_start AS LONG) AS window_start_s", "tile", "cnt")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "range_join_count": _q_range_join_count,
        "range_join_pairs": _q_range_join_pairs,
        "range_filter": _q_range_filter,
        "spatio_textual_filter": _q_spatio_textual,
        "knn_join": _q_knn_join,
        "knn_k150": _q_knn_k150,
        "pip_join_count": _q_pip_join_count,
        "pip_concave": _q_pip_concave,
        "tiles_points": _q_tiles_points,
        "tiles_boxes": _q_tiles_boxes,
        "token_stats": _q_token_stats,
        "lang_id": _q_lang_id,
        "fingerprint": _q_fingerprint,
        "exact_dedup": _q_exact_dedup,
        "ngram_jaccard": _q_ngram_jaccard,
        "minhash_lsh": _q_minhash_lsh,
        "simhash": _q_simhash,
        "simhash_pairs": _q_simhash_pairs,
        "cosine_topk": _q_cosine_topk,
        "lsh_ann": _q_lsh_ann,
        "cosine_dedup": _q_cosine_dedup,
        "media_decode": _q_media_decode,
        "media_decode_real": _q_media_decode_real,
        "multiget": _q_multiget,
        "nearest_k": _q_nearest_k,
        "count_in_box": _q_count_in_box,
        "cell_histogram": _q_cell_histogram,
        "to_wkt": _q_to_wkt,
        "intersects_join": _q_intersects_join,
        "multiput_get": _q_multiput_get,
        "spatio_textual_knn": _q_spatio_textual_knn,
        "range_join_count_salted": _q_range_join_count_salted,
        "range_filter_indexed": _q_range_filter_indexed,
        "checkpoint_range_join": _q_checkpoint_range_join,
        "tile_rollup": _q_tile_rollup,
    }


# ------------------------------------------------------------ oracle SQL

def oracle_sql() -> dict[str, str]:
    from spatialgraft.oracles import (all_oracles, cosine_dedup_oracle,
                                      extension_oracles, misc_oracles,
                                      pipeline_oracles)
    return {**all_oracles(k=C.DEFAULT_K), **pipeline_oracles(),
            **misc_oracles(), **extension_oracles(k_st=5),
            "knn_k150": all_oracles(k=150)["knn_join"],
            "cosine_dedup": cosine_dedup_oracle(0.35)}
