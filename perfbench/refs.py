"""Pinned correctness references, stored per query id.

A seed keeps a subset of the query ids (``inputs.select``), so its
expected output is a lookup into these arrays:

* boxes (indexed by part key): ``cnt``, ``sum(doc_key)`` and the pair
  checksum ``sum(PAIR_HASH)`` of the points each box contains, from the
  DuckDB oracle SQL of ``spatialgraft.oracles``;
* convex polygons (indexed by part key; 0 for non-polygon keys):
  ``cnt`` and ``sum(doc_key)``, from the same oracle's PIP predicate;
* kNN probes (indexed by order key // 16), for each k: ``n``,
  ``sum(doc_key)`` and ``sum(doc_key * rnk)`` of the top-k list, from a
  numpy brute force (the DuckDB kNN oracle is a cross join, too large
  for the points here);
* tiles: one ``(count, sum(tile), sum(TILE_HASH))`` triple over all
  points.

Regenerate after changing the dataset arithmetic in ``inputs.py``:

    python3 perfbench/refs.py 0.001 0.01 0.05
"""

from __future__ import annotations

import os
import sys
import tempfile

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
REF_DIR = os.path.join(HERE, "refs")
KS = (10, 150)

# per-pair checksums, computed identically by Spark, DuckDB and numpy
PAIR_HASH = "(({id} * 1000003 + doc_key) % 2147483647)"
TILE_HASH = "((doc_key * 1000003 + tile) % 2147483647)"


def ref_path(scale: float) -> str:
    return os.path.join(REF_DIR, f"scale_{scale:g}.npz")


class Refs:
    """Pinned reference arrays for one dataset scale."""

    def __init__(self, arrays: dict[str, np.ndarray]):
        self.a = {k: np.asarray(v) for k, v in arrays.items()}

    @classmethod
    def load(cls, scale: float) -> "Refs":
        with np.load(ref_path(scale)) as z:
            return cls({k: z[k] for k in z.files})

    def count_join(self, kind: str, ids: np.ndarray) -> dict[int, int]:
        """{id: cnt} for ids with at least one match (the engine's
        inner-join output omits empty boxes/polygons)."""
        cnt = self.a[f"{kind}_cnt"][ids]
        return {int(i): int(c) for i, c in zip(ids, cnt) if c}

    def box_totals(self, ids: np.ndarray) -> tuple[int, int, int]:
        """(pairs, sum doc_key, sum PAIR_HASH) over the boxes' pairs."""
        return tuple(int(self.a[f"box_{f}"][ids].sum())
                     for f in ("cnt", "sumk", "hsum"))

    def box(self, box_id: int) -> tuple[int, int]:
        return (int(self.a["box_cnt"][box_id]),
                int(self.a["box_sumk"][box_id]))

    def knn(self, k: int, probe_ids: np.ndarray
            ) -> dict[int, tuple[int, int, int]]:
        i = probe_ids // 16
        cols = [self.a[f"knn{k}_{f}"][i] for f in ("n", "sumk", "sumrk")]
        return {int(q): (int(n), int(s), int(r))
                for q, n, s, r in zip(probe_ids, *cols)}

    def tiles(self) -> tuple[int, int, int]:
        return tuple(int(v) for v in self.a["tiles"])


# ------------------------------------------------------------- generation

def _duckdb_refs(sf_dir: str, n_parts: int) -> dict[str, np.ndarray]:
    import duckdb

    from spatialgraft import config as C
    from spatialgraft import sqlgen

    con = duckdb.connect()
    for t in ("lineitem", "part", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf_dir}/{t}.parquet'")
    pts = sqlgen.points_cte()
    out: dict[str, np.ndarray] = {}
    box_sql = (
        f"WITH pts AS ({pts}), boxes AS ({sqlgen.boxes_cte()}) "
        "SELECT b.box_id, COUNT(*), SUM(p.doc_key), "
        f"SUM({PAIR_HASH.format(id='b.box_id')}) "
        "FROM boxes b JOIN pts p ON p.mx BETWEEN b.xmin AND b.xmax "
        "AND p.my BETWEEN b.ymin AND b.ymax GROUP BY 1")
    poly_sql = (
        f"WITH pts AS ({pts}), polys AS ({sqlgen.polygons_cte()}) "
        "SELECT g.poly_id, COUNT(*), SUM(p.doc_key) "
        "FROM polys g JOIN pts p ON p.mx BETWEEN g.xmin AND g.xmax "
        "AND p.my BETWEEN g.ymin AND g.ymax "
        f"WHERE {sqlgen.pip_predicate('p.mx', 'p.my', 'g.')} GROUP BY 1")
    for kind, sql, fields in (("box", box_sql, ("cnt", "sumk", "hsum")),
                              ("poly", poly_sql, ("cnt", "sumk"))):
        rows = np.array(con.execute(sql).fetchall(),
                        dtype=np.int64).reshape(-1, len(fields) + 1)
        for j, f in enumerate(fields):
            col = np.zeros(n_parts, dtype=np.int64)
            col[rows[:, 0]] = rows[:, j + 1]
            out[f"{kind}_{f}"] = col
    tile = (f"((mx * {C.TILE_TX}) // {C.WORLD_MX}) * {C.TILE_TY} "
            f"+ ((my * {C.TILE_TY}) // {C.WORLD_MY})")
    out["tiles"] = np.array(con.execute(
        f"WITH pts AS ({pts}), t AS (SELECT doc_key, {tile} AS tile "
        f"FROM pts) SELECT COUNT(*), SUM(tile), SUM({TILE_HASH}) FROM t"
    ).fetchone(), dtype=np.int64)
    # the kNN brute force below reads the oracle's own point and probe
    # derivations, so it shares their arithmetic exactly
    p = con.execute(f"SELECT doc_key, x, y FROM ({pts}) ORDER BY doc_key"
                    ).fetchnumpy()
    q = con.execute(f"SELECT qid, qx, qy FROM ({sqlgen.knn_queries_cte()}) "
                    "ORDER BY qid").fetchnumpy()
    out.update(_knn_refs(p, q))
    return out


def _knn_refs(p: dict, q: dict) -> dict[str, np.ndarray]:
    """Exact top-k by (dist2, doc_key), dist2 with the oracle's float64
    expression shape (qx - x)*(qx - x) + (qy - y)*(qy - y)."""
    keys, px, py = p["doc_key"], p["x"], p["y"]
    n_probe = int(q["qid"].max()) // 16 + 1
    out = {f"knn{k}_{f}": np.zeros(n_probe, dtype=np.int64)
           for k in KS for f in ("n", "sumk", "sumrk")}
    kmax = min(max(KS), len(keys))
    for qid, qx, qy in zip(q["qid"], q["qx"], q["qy"]):
        dx, dy = qx - px, qy - py
        d2 = dx * dx + dy * dy
        # every point tied with the kmax-th distance must be a candidate
        kth = np.partition(d2, kmax - 1)[kmax - 1]
        cand = np.flatnonzero(d2 <= kth)
        order = cand[np.lexsort((keys[cand], d2[cand]))]
        for k in KS:
            top = keys[order[:k]]
            i = int(qid) // 16
            out[f"knn{k}_n"][i] = len(top)
            out[f"knn{k}_sumk"][i] = int(top.sum())
            out[f"knn{k}_sumrk"][i] = int(
                (top * np.arange(1, len(top) + 1)).sum())
    return out


def generate(scale: float) -> str:
    import inputs

    ds = inputs.Dataset(scale)
    work = os.path.join(os.path.dirname(HERE), ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        sf_dir = inputs.write_tables(ds, None, tmp)
        arrays = _duckdb_refs(sf_dir, ds.n_parts)
    arrays["n_docs"] = np.array(len(ds.doc_keys()))
    os.makedirs(REF_DIR, exist_ok=True)
    np.savez_compressed(ref_path(scale), **arrays)
    return ref_path(scale)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    for s in sys.argv[1:]:
        print(generate(float(s)))
