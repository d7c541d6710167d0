"""Benchmark inputs: the key tables the engine derives its geometry from.

The engine's synthesis (``spatialgraft.datagen``) reads only three key
columns: ``lineitem(l_orderkey, l_linenumber)`` for the points,
``part(p_partkey)`` for query boxes and polygons and
``orders(o_orderkey)`` for kNN probes.  Every coordinate is a pure
integer function of those keys (``spatialgraft.sqlgen``), so this module
writes the keys and nothing else.

Two layers of determinism:

* the **dataset** (all keys at a scale) is fixed arithmetic — no RNG —
  so the references pinned in ``refs/`` stay valid for every run;
* the **workload seed** picks a fixed fraction of the query ids (boxes,
  polygons, kNN probes) and the index read boxes.  Its expected output
  is a subset lookup into the pinned per-id references.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# fraction of query ids a seed keeps
QUERY_FRACTION = 0.75
# index reads per pass
INDEX_READS = 2

_MIX = 2654435761


@dataclass(frozen=True)
class Dataset:
    """Every key at `scale` (TPC-H sf units: 0.1 -> 150k orders)."""
    scale: float

    @property
    def n_orders(self) -> int:
        return int(round(1_500_000 * self.scale))

    @property
    def n_parts(self) -> int:
        return int(round(200_000 * self.scale))

    def lineitem(self) -> tuple[np.ndarray, np.ndarray]:
        """(l_orderkey, l_linenumber): 1-6 lines per order, distinct."""
        o = np.arange(self.n_orders, dtype=np.int64)
        lines = 1 + ((o * _MIX) >> 16) % 6
        ok = np.repeat(o, lines)
        starts = np.repeat(np.cumsum(lines) - lines, lines)
        ln = np.arange(len(ok), dtype=np.int64) - starts + 1
        return ok, ln.astype(np.int32)

    def doc_keys(self) -> np.ndarray:
        ok, ln = self.lineitem()
        return ok * 8 + ln

    def part_keys(self) -> np.ndarray:
        return np.arange(self.n_parts, dtype=np.int64)

    def order_keys(self) -> np.ndarray:
        return np.arange(self.n_orders, dtype=np.int64)


@dataclass(frozen=True)
class Selection:
    """The query ids one seed keeps."""
    part_keys: np.ndarray      # boxes; polygons are the % 3 == 1 subset
    order_keys: np.ndarray     # kNN probes are the % 16 == 0 subset
    read_boxes: np.ndarray     # part keys of the index read boxes

    @property
    def box_ids(self) -> np.ndarray:
        return self.part_keys

    @property
    def poly_ids(self) -> np.ndarray:
        return self.part_keys[self.part_keys % 3 == 1]

    @property
    def probe_ids(self) -> np.ndarray:
        return self.order_keys[self.order_keys % 16 == 0]


def select(ds: Dataset, seed: int) -> Selection:
    rng = np.random.default_rng(seed)

    def keep(keys: np.ndarray) -> np.ndarray:
        n = int(round(QUERY_FRACTION * len(keys)))
        return np.sort(rng.permutation(keys)[:n])

    parts = keep(ds.part_keys())
    # probes only exist on every 16th order: sample among those so the
    # probe count is the same for every seed
    orders = keep(ds.order_keys()[ds.order_keys() % 16 == 0])
    reads = np.sort(rng.choice(parts, size=INDEX_READS, replace=False))
    return Selection(parts, orders, reads)


def _write(path: str, **cols: np.ndarray) -> None:
    pq.write_table(pa.table({k: pa.array(v) for k, v in cols.items()}),
                   path)


def write_tables(ds: Dataset, sel: Selection | None, out_dir: str) -> str:
    """Write lineitem/part/orders parquet under out_dir (the engine's
    sf_dir layout).  sel=None writes every key (reference generation)."""
    os.makedirs(out_dir, exist_ok=True)
    ok, ln = ds.lineitem()
    _write(f"{out_dir}/lineitem.parquet", l_orderkey=ok, l_linenumber=ln)
    parts = ds.part_keys() if sel is None else sel.part_keys
    orders = ds.order_keys() if sel is None else sel.order_keys
    _write(f"{out_dir}/part.parquet", p_partkey=parts)
    _write(f"{out_dir}/orders.parquet", o_orderkey=orders)
    return out_dir
