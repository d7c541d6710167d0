"""ops.range.cover_count against a brute-force count, on inputs built from
the grid's own cell borders: boxes that start and end exactly on a
border or one milli past it, one- and two-cell-wide boxes (no interior
cell), world-edge and world-spanning boxes, a zero-area box, duplicate
coordinates, empty point and box sides, and a salted twin with one hot
cell.  The helpers read the grid from spatialgraft.config at call time,
so tests/test_grid_override.py reruns them on a 96x48 grid."""

from spatialgraft import config as C
from spatialgraft import datagen
from spatialgraft.cells import cover_cells, with_cell
from spatialgraft.extract import with_geometry
from spatialgraft.ops import range as rops
from spatialgraft.ops.range import cover_count
from spatialgraft.partitioner import plan_partitions

_PTS = "doc_key bigint, mx bigint, my bigint"
_BOXES = "box_id bigint, xmin bigint, ymin bigint, xmax bigint, ymax bigint"


def _xb(i: int) -> int:
    """Smallest mx of cell column i (its left border)."""
    return -(-i * C.WORLD_MX // C.CELL_CX)


def _yb(j: int) -> int:
    return -(-j * C.WORLD_MY // C.CELL_CY)


def _edge_values(border, n: int, world: int) -> list[int]:
    """Coordinates on, just before and just after the borders of the
    first 9 and the last 3 cells of an axis of n cells, plus the world's
    two edges."""
    out = {0, world - 1}
    for i in [*range(1, 9), n - 3, n - 2, n - 1]:
        b = border(i)
        out.update(v for v in (b - 1, b, b + 1) if 0 <= v < world)
    return sorted(out)


def _points() -> list[tuple[int, int, int]]:
    xs = _edge_values(_xb, C.CELL_CX, C.WORLD_MX)
    ys = _edge_values(_yb, C.CELL_CY, C.WORLD_MY)
    spots = [(x, y) for x in xs for y in ys]
    # duplicate coordinates: three more points on every 7th spot
    spots += [s for s in spots[::7] for _ in range(3)]
    # cell interiors away from any border
    spots += [((k * 7919) % C.WORLD_MX, (k * 104729) % C.WORLD_MY)
              for k in range(300)]
    return [(i, x, y) for i, (x, y) in enumerate(spots)]


def _boxes() -> list[tuple[int, int, int, int, int]]:
    X, Y = C.WORLD_MX - 1, C.WORLD_MY - 1
    cx, cy = C.CELL_CX, C.CELL_CY
    return [(i, *b) for i, b in enumerate([
        # exactly cell columns 2..5 x rows 3..6: interior 3..4 x 4..5
        (_xb(2), _yb(3), _xb(6) - 1, _yb(7) - 1),
        # one milli past those borders on every side
        (_xb(2) - 1, _yb(3) - 1, _xb(6), _yb(7)),
        # inside one cell column / row: no interior cell
        (_xb(3) + 1, _yb(1), _xb(4) - 1, _yb(8)),
        (_xb(1), _yb(4), _xb(8), _yb(4)),
        # two cells wide, border to border: still no interior cell
        (_xb(3), _yb(2), _xb(5) - 1, _yb(8) - 1),
        # at the world's lower-left and upper-right edges
        (0, 0, _xb(4), _yb(4)),
        (_xb(cx - 3), _yb(cy - 3), X, Y),
        # the whole world: every cell but the edge ring is interior
        (0, 0, X, Y),
        # zero area, on a border corner
        (_xb(5), _yb(5), _xb(5), _yb(5)),
    ])]


def _brute(points, boxes) -> dict[int, int]:
    out = {}
    for b, x0, y0, x1, y1 in boxes:
        n = sum(x0 <= x <= x1 and y0 <= y <= y1 for _, x, y in points)
        if n:
            out[b] = n
    return out


def _counts(df) -> dict[int, int]:
    return {int(r.box_id): int(r.cnt) for r in df.collect()}


def _count(pts, boxes, plan=None, broadcast=None):
    return _counts(cover_count(pts, boxes, broadcast, plan))


def assert_cover_count_twin(spark) -> None:
    """cover_count equals the brute-force count on the border cases,
    broadcast or shuffled, with interior (g = 1) and perimeter rows
    both taking part; empty sides give no rows."""
    points, boxes = _points(), _boxes()
    pts = spark.createDataFrame(points, _PTS)
    bx = spark.createDataFrame(boxes, _BOXES)
    want = _brute(points, boxes)
    assert len(want) == len(boxes)
    assert _count(pts, bx) == want
    assert _count(pts, bx, broadcast=False) == want
    # non-vacuous: interior cells with points joined, and the one- and
    # two-cell-wide boxes have no interior cell at all
    inner = cover_cells(bx, interior=True).where("g = 1")
    assert inner.join(with_cell(pts), "cell").count() > 0
    assert inner.where("box_id IN (2, 3, 4, 8)").count() == 0
    assert _count(spark.createDataFrame([], _PTS), bx) == {}
    assert _count(pts, spark.createDataFrame([], _BOXES)) == {}


def assert_salted_cover_count_twin(spark) -> None:
    """One hot cell salted into slices: cover_count with the plan
    equals the brute-force count, for boxes that hold the hot cell as
    an interior cell and for boxes whose border cuts through it."""
    hx, hy = _xb(10), _yb(10)  # the hot cell's lower-left corner
    w, h = _xb(11) - hx, _yb(11) - hy
    hot = [(hx + (k * 37) % w, hy + (k * 53) % h) for k in range(400)]
    hot += hot[:50]  # duplicate coordinates inside the hot cell
    cold = [((k * 7919) % C.WORLD_MX, (k * 104729) % C.WORLD_MY)
            for k in range(200)]
    points = [(i, x, y) for i, (x, y) in enumerate(hot + cold)]
    boxes = [(i, *b) for i, b in enumerate([
        (_xb(8), _yb(8), _xb(13), _yb(13)),  # hot cell interior
        (hx + w // 3, hy + h // 4, _xb(12), _yb(12)),  # border cuts it
        (hx, hy, hx + w // 2, hy + h // 2),  # inside the hot cell
        (0, 0, C.WORLD_MX - 1, C.WORLD_MY - 1),
    ])]
    pts = spark.createDataFrame(points, _PTS)
    bx = spark.createDataFrame(boxes, _BOXES)
    plan = plan_partitions(pts, skew_ratio=3.0)
    assert list(plan.assignment) == [with_cell(
        spark.createDataFrame([(0, hx, hy)], _PTS)).first().cell]
    assert plan.max_splits > 1
    want = _brute(points, boxes)
    assert _count(pts, bx, plan) == want
    assert _count(pts, bx) == want


def test_cover_count_matches_brute_force(spark):
    assert_cover_count_twin(spark)


def test_salted_cover_count_matches_brute_force(spark):
    assert_salted_cover_count_twin(spark)


def test_interior_rows_join_on_generated_data(spark, sf_smoke):
    """At sf0.001 the interior (g = 1) cover rows meet occupied cells,
    so the count path is exercised, and its counts equal the pairs
    that range_join emits."""
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke),
                        columns=["doc_key", "mx", "my"])
    boxes = datagen.query_boxes(spark, sf_smoke)
    inner = cover_cells(boxes, interior=True).where("g = 1")
    assert inner.join(with_cell(pts), "cell").count() > 0
    pairs = rops.range_join(pts, boxes).groupBy("box_id").count()
    assert _counts(rops.range_join_count(pts, boxes)) == \
        {int(r.box_id): int(r["count"]) for r in pairs.collect()}
