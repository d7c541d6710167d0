"""Span -> geometry extraction as a vectorized Arrow operator.

Replaces the reference's per-line WKT parse
(reference/src/main/scala/cs/purdue/edu/examples/SpatialJoinApp.scala:60-79)
with a single `mapInArrow` pass: pyarrow compute kernels only, no per-row
Python.  Input rows keep their `spans` column untouched (span-sequence
invariant); the pass appends
  doc_key bigint, mx/my bigint (exact milli coords), x/y double, text string.

Column projection through the Python boundary (optimization guide §4.1):
Catalyst cannot prune columns through an opaque mapInArrow, so by default
every input column (including the heavy `spans` array) is serialized back
JVM <- Python even when the caller immediately drops it.  `columns=`
declares the exact output set; the parse and the span-alignment
validation still run in full (the engine path is unchanged — only unused
columns stop crossing the boundary).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

# name -> Spark type of the derived columns, in full-width output order
_GEOM_TYPES = {"doc_key": "bigint", "mx": "bigint", "my": "bigint",
               "x": "double", "y": "double", "text": "string"}

_POINT_RE = r"POINT\((?P<gmx>\d+) (?P<gmy>\d+)\)"


def _one_per_parent(values: pa.Array, parents: pa.Array, n_rows: int,
                    what: str) -> pa.Array:
    """Enforce exactly one `what` span per document.  The count check
    alone would accept a batch where one doc has two spans and another
    has zero (misattributing geometry row-by-row); the alignment check
    pins span i to document i."""
    if len(values) != n_rows:
        raise ValueError(
            f"expected exactly one {what} span per document; "
            f"got {len(values)} spans for {n_rows} rows")
    if n_rows == 0:
        return values
    expected = pa.array(np.arange(n_rows, dtype=np.int64),
                        type=parents.type)
    aligned = pc.all(pc.equal(parents, expected))
    if not (aligned.is_valid and aligned.as_py()):
        raise ValueError(
            f"{what} spans misaligned: some document has != 1 span")
    return values


def _extract_batch(batch: pa.RecordBatch,
                   wanted: list[str]) -> pa.RecordBatch:
    spans = batch.column("spans")
    n = batch.num_rows
    flat = pc.list_flatten(spans)
    parents = pc.list_parent_indices(spans)
    kinds = pc.struct_field(flat, "kind")
    texts = pc.struct_field(flat, "text")

    geo_mask = pc.equal(kinds, "geo")
    geo_text = _one_per_parent(pc.filter(texts, geo_mask),
                               pc.filter(parents, geo_mask), n, "geo")
    parsed = pc.extract_regex(geo_text, _POINT_RE)
    mx = pc.cast(pc.struct_field(parsed, "gmx"), pa.int64())
    my = pc.cast(pc.struct_field(parsed, "gmy"), pa.int64())
    if mx.null_count or my.null_count:
        raise ValueError("unparseable geo span encountered")

    txt_mask = pc.equal(kinds, "text")
    txt = _one_per_parent(pc.filter(texts, txt_mask),
                          pc.filter(parents, txt_mask), n, "text")

    f64 = pa.float64()
    # compute only what crosses the boundary (the parse + alignment
    # validation above always ran in full)
    def col(name: str):
        if name == "doc_key":
            return pc.cast(batch.column("doc_id"), pa.int64())
        if name == "mx":
            return mx
        if name == "my":
            return my
        if name == "x":
            return pc.divide(pc.cast(pc.subtract(mx, 180000), f64),
                             1000.0)
        if name == "y":
            return pc.divide(pc.cast(pc.subtract(my, 90000), f64),
                             1000.0)
        if name == "text":
            return txt
        return batch.column(name)

    return pa.RecordBatch.from_arrays([col(nm) for nm in wanted],
                                      names=wanted)


def with_geometry(docs: DataFrame,
                  columns: list[str] | None = None) -> DataFrame:
    """documents(doc_id, spans, ...) -> geometry-extracted DataFrame.

    columns=[...]: exactly these columns (any mix of input columns and
    derived geom fields) cross the Python->JVM boundary — same parse,
    same validation, same rows.  columns=None (default): the full-width
    output, every input column then doc_key, mx, my, x, y, text."""
    in_types = {f.name: f.dataType.simpleString()
                for f in docs.schema.fields}
    wanted = (list(in_types) + list(_GEOM_TYPES) if columns is None
              else list(columns))
    unknown = [c for c in wanted
               if c not in _GEOM_TYPES and c not in in_types]
    if unknown:
        raise ValueError(f"with_geometry: unknown columns {unknown}")
    out_schema = ", ".join(
        f"{c} {_GEOM_TYPES.get(c) or in_types[c]}" for c in wanted)

    def fn(batches):
        for b in batches:
            yield _extract_batch(b, wanted)

    return docs.mapInArrow(fn, out_schema)
