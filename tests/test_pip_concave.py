"""Concave point-in-polygon: template validity (machine-checked), a
pure-Python brute-force twin of the even-odd ray-cast on hostile
fixtures (reflex pockets, on-edge/on-vertex points), and the full
operator vs the twin on a dense local grid."""

from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from spatialgraft import config as C
from spatialgraft.ops.pip import pip_join_concave


# ---------------------------------------------------------- pure twin

def _inside_bruteforce(px, py, xs, ys):
    """Reference even-odd ray-cast with exact rational intersection
    points (Fraction) — independently derived from the SQL predicate:
    border-inclusive, ray toward +x, strict (y1 > py) != (y2 > py)
    straddle rule."""
    n = len(xs)
    # on-edge check
    for i in range(n):
        x1, y1 = xs[i], ys[i]
        x2, y2 = xs[(i + 1) % n], ys[(i + 1) % n]
        cross = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
        if (cross == 0 and min(x1, x2) <= px <= max(x1, x2)
                and min(y1, y2) <= py <= max(y1, y2)):
            return True
    hits = 0
    for i in range(n):
        x1, y1 = xs[i], ys[i]
        x2, y2 = xs[(i + 1) % n], ys[(i + 1) % n]
        if (y1 > py) != (y2 > py):
            ix = Fraction(x1) + Fraction(x2 - x1) * Fraction(
                py - y1, y2 - y1)
            if ix > px:
                hits += 1
    return hits % 2 == 1


def _segments_intersect(p1, p2, p3, p4):
    def o(a, b, c):
        v = ((b[0] - a[0]) * (c[1] - a[1])
             - (b[1] - a[1]) * (c[0] - a[0]))
        return 0 if v == 0 else (1 if v > 0 else -1)

    def on_seg(a, b, c):
        return (min(a[0], b[0]) <= c[0] <= max(a[0], b[0])
                and min(a[1], b[1]) <= c[1] <= max(a[1], b[1]))

    o1, o2 = o(p1, p2, p3), o(p1, p2, p4)
    o3, o4 = o(p3, p4, p1), o(p3, p4, p2)
    if o1 != o2 and o3 != o4:
        return True
    return ((o1 == 0 and on_seg(p1, p2, p3))
            or (o2 == 0 and on_seg(p1, p2, p4))
            or (o3 == 0 and on_seg(p3, p4, p1))
            or (o4 == 0 and on_seg(p3, p4, p2)))


# ------------------------------------------------- template validity

@pytest.mark.parametrize("tid", range(len(C.STAR_OFFSETS)))
def test_star_template_simple_ccw_concave(tid):
    offs = C.STAR_OFFSETS[tid]
    n = len(offs)
    # simple: no two non-adjacent edges intersect
    edges = [(offs[i], offs[(i + 1) % n]) for i in range(n)]
    for i in range(n):
        for j in range(i + 1, n):
            if j == i + 1 or (i == 0 and j == n - 1):
                continue
            assert not _segments_intersect(*edges[i], *edges[j]), \
                f"template {tid}: edges {i} and {j} intersect"
    # CCW: shoelace area positive
    area2 = sum(offs[i][0] * offs[(i + 1) % n][1]
                - offs[(i + 1) % n][0] * offs[i][1] for i in range(n))
    assert area2 > 0, f"template {tid} not CCW"
    # concave: at least one reflex vertex (negative turn in CCW ring)
    turns = []
    for i in range(n):
        ax, ay = offs[i - 1]
        bx, by = offs[i]
        cx, cy = offs[(i + 1) % n]
        turns.append((bx - ax) * (cy - by) - (by - ay) * (cx - bx))
    assert any(t < 0 for t in turns), f"template {tid} is convex"


# ------------------------------------------------ operator vs twin

def _poly_df(spark, polys):
    rows = []
    for pid, (xs, ys) in enumerate(polys):
        rows.append((pid, xs, ys, min(xs), min(ys), max(xs), max(ys)))
    return spark.createDataFrame(
        rows, "poly_id bigint, vxs array<bigint>, vys array<bigint>, "
              "xmin bigint, ymin bigint, xmax bigint, ymax bigint")


def test_concave_operator_matches_bruteforce_grid(spark):
    # one star of each template + a hand-made concave "C" shape whose
    # pocket would be misclassified by any convex test
    polys = []
    for t, offs in enumerate(C.STAR_OFFSETS):
        cx, cy = 100_000 + 3000 * t, 90_000
        r = 400 + 100 * t
        polys.append(([cx + r * ox for ox, _ in offs],
                      [cy + r * oy for _, oy in offs]))
    cpoly_x = [110_000, 112_000, 112_000, 110_000, 110_000, 111_500,
               111_500, 110_000]
    cpoly_y = [88_000, 88_000, 92_000, 92_000, 91_500, 91_500,
               88_500, 88_500]
    polys.append((cpoly_x, cpoly_y))

    # dense integer grid spanning all polygons (+ outside margin)
    xs = range(97_000, 115_001, 157)
    ys = range(86_000, 94_001, 101)
    pts = [(i, x, y) for i, (x, y) in enumerate(
        (x, y) for x in xs for y in ys)]
    pts_df = spark.createDataFrame(
        pts, "doc_key bigint, mx bigint, my bigint")

    got = {(r["poly_id"], r["doc_key"])
           for r in pip_join_concave(pts_df, _poly_df(spark, polys))
           .collect()}
    want = set()
    for pid, (pxs, pys) in enumerate(polys):
        for i, x, y in pts:
            if (min(pxs) <= x <= max(pxs) and min(pys) <= y <= max(pys)
                    and _inside_bruteforce(x, y, pxs, pys)):
                want.add((pid, i))
    assert got == want
    assert len(want) > 100  # non-vacuous


def test_concave_border_and_pocket_points(spark):
    # C-shape: explicit on-edge, on-vertex, pocket (outside), and
    # interior points
    pxs = [0, 4000, 4000, 0, 0, 3000, 3000, 0]
    pys = [0, 0, 8000, 8000, 7000, 7000, 1000, 1000]
    cases = [
        (0, (2000, 0), True),      # on bottom edge
        (1, (4000, 4000), True),   # on right edge
        (2, (0, 0), True),         # on vertex
        (3, (3000, 4000), True),   # on inner pocket wall
        (4, (2000, 4000), False),  # inside the pocket = OUTSIDE
        (5, (3500, 4000), True),   # in the right arm
        (6, (500, 500), True),     # in the bottom arm
        (7, (5000, 4000), False),  # right of polygon
        (8, (1000, 7500), True),   # in the top arm
    ]
    pts_df = spark.createDataFrame(
        [(i, x, y) for i, (x, y), _ in cases],
        "doc_key bigint, mx bigint, my bigint")
    got = {r["doc_key"] for r in pip_join_concave(
        pts_df, _poly_df(spark, [(pxs, pys)])).collect()}
    for i, (x, y), inside in cases:
        assert _inside_bruteforce(x, y, pxs, pys) == inside, (i, x, y)
        assert (i in got) == inside, (i, x, y)


def _many_vertex_star(cx, cy, outer_r, n):
    """Star polygon with n vertices at strictly increasing angles and
    alternating outer/inner radii — star-shaped around (cx, cy), hence
    simple; reflex at every inner vertex, hence concave."""
    import math
    xs, ys = [], []
    for i in range(n):
        th = 2 * math.pi * i / n
        r = outer_r if i % 2 == 0 else outer_r // 3
        xs.append(cx + round(r * math.cos(th)))
        ys.append(cy + round(r * math.sin(th)))
    return xs, ys


@pytest.mark.parametrize("n", [64, 256])
def test_many_vertex_star_matches_bruteforce(spark, n):
    """VERDICT r4 item 4: many-vertex polygons are where the O(#vertex)
    interpreted ray-cast is expensive and the codegen bbox pre-filter
    pays; exactness must hold through it."""
    xs, ys = _many_vertex_star(100_000, 90_000, 3000, n)
    # fixture quality: the rounded star is still simple
    vertices = list(zip(xs, ys))
    edges = [(vertices[i], vertices[(i + 1) % n]) for i in range(n)]
    for i in range(n):
        for j in range(i + 2, n):
            if i == 0 and j == n - 1:
                continue
            assert not _segments_intersect(*edges[i], *edges[j]), (i, j)

    grid = [(k, x, y) for k, (x, y) in enumerate(
        (x, y) for x in range(96_500, 103_501, 211)
        for y in range(86_500, 93_501, 113))]
    pts_df = spark.createDataFrame(
        grid, "doc_key bigint, mx bigint, my bigint")
    polys_df = _poly_df(spark, [(xs, ys)])
    want = {(0, k) for k, x, y in grid
            if min(xs) <= x <= max(xs) and min(ys) <= y <= max(ys)
            and _inside_bruteforce(x, y, xs, ys)}
    got = {(r["poly_id"], r["doc_key"]) for r in pip_join_concave(
        pts_df, polys_df).collect()}
    assert got == want
    assert len(want) > 50  # non-vacuous


def test_concave_plan_has_no_python(spark, sf_smoke):
    from spatialgraft import datagen
    from spatialgraft.extract import with_geometry
    from spatialgraft.ops.pip import pip_join_concave_count
    df = pip_join_concave_count(
        with_geometry(datagen.documents_spans(spark, sf_smoke)),
        datagen.polygons_concave(spark, sf_smoke))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


# ----------------- property tests (both dialect emitters, one source)

def _random_star(rng, n, cx, cy, rmax):
    """Random star-shaped polygon: distinct sorted angles, random radii
    — simple by construction before rounding; rounding is re-verified
    by the caller."""
    import math
    angles = sorted(rng.uniform(0, 2 * math.pi) for _ in range(n))
    xs, ys = [], []
    for th in angles:
        r = rng.randint(max(3, rmax // 4), rmax)
        xs.append(cx + round(r * math.cos(th)))
        ys.append(cy + round(r * math.sin(th)))
    return xs, ys


def _random_trial_cases(seed, trials=40):
    """(xs, ys, probes) for random simple star polygons with hostile
    probe sets: all vertices, integer edge midpoints, and a 7x7 grid
    across the bbox (inside, outside, pocket, border candidates).
    Rounding may break the sorted-angle simplicity guarantee, so only
    genuinely simple rings (the operator's contract) are yielded.
    Shared by BOTH dialect property tests — the Spark and DuckDB
    emitters are separate code paths (VERDICT r5 nit 5) and must be
    exercised on the same generator."""
    import random
    rng = random.Random(seed)
    for _trial in range(trials):
        n = rng.choice([4, 5, 7, 9, 12, 16])
        xs, ys = _random_star(rng, n, 100_000, 90_000, rng.choice(
            [5, 40, 1000]))
        verts = list(zip(xs, ys))
        if len(set(verts)) != n:
            continue
        edges = [(verts[i], verts[(i + 1) % n]) for i in range(n)]
        ok = True
        for i in range(n):
            for j in range(i + 1, n):
                if j == i + 1 or (i == 0 and j == n - 1):
                    continue
                if _segments_intersect(*edges[i], *edges[j]):
                    ok = False
        if not ok:
            continue
        probes = set(verts)
        for (x1, y1), (x2, y2) in edges:
            probes.add(((x1 + x2) // 2, (y1 + y2) // 2))
        x0, x1b = min(xs) - 2, max(xs) + 2
        y0, y1b = min(ys) - 2, max(ys) + 2
        for gx in range(7):
            for gy in range(7):
                probes.add((x0 + (x1b - x0) * gx // 6,
                            y0 + (y1b - y0) * gy // 6))
        yield xs, ys, sorted(probes)


_PROPERTY_SEED = 20260817


def test_concave_predicate_duckdb_random_polygons_match_twin():
    """DuckDB-dialect even-odd ray-cast vs the Fraction-exact twin on
    random star polygons — any divergence would break the bit-exact
    CORRECTNESS contract on the oracle side."""
    import duckdb

    from spatialgraft.sqlgen import pip_concave_predicate

    con = duckdb.connect()
    pred = pip_concave_predicate("p.mx", "p.my", "g.vxs", "g.vys",
                                 "duckdb")
    cases = 0
    for xs, ys, probes in _random_trial_cases(_PROPERTY_SEED):
        pts_sql = ", ".join(f"({px}, {py})" for px, py in probes)
        got = con.execute(
            f"SELECT {pred} FROM (VALUES {pts_sql}) AS p(mx, my) "
            f"CROSS JOIN (SELECT {list(xs)}::BIGINT[] AS vxs, "
            f"{list(ys)}::BIGINT[] AS vys) AS g "
            f"ORDER BY p.mx, p.my").fetchall()
        for (px, py), (res,) in zip(probes, got):
            want = _inside_bruteforce(px, py, xs, ys)
            assert bool(res) == want, (px, py, xs, ys)
            cases += 1
    assert cases > 1500  # non-vacuous across trials


def test_concave_predicate_spark_random_polygons_match_twin(spark):
    """VERDICT r5 nit 5: the SPARK-dialect emitter run through the same
    random-polygon generator as the DuckDB one (the two emitters are
    separate code paths; star templates and fixtures alone covered the
    Spark side).  One SQL evaluates every (polygon, probe) pair
    JVM-side against the Fraction-exact twin."""
    from spatialgraft.sqlgen import pip_concave_predicate

    pred = pip_concave_predicate("p.mx", "p.my", "g.vxs", "g.vys",
                                 "spark")
    poly_rows, probe_rows, want = [], [], set()
    pid = 0
    for xs, ys, probes in _random_trial_cases(_PROPERTY_SEED):
        vx = ", ".join(f"{v}L" for v in xs)
        vy = ", ".join(f"{v}L" for v in ys)
        poly_rows.append(f"({pid}L, array({vx}), array({vy}))")
        for px, py in probes:
            probe_rows.append(f"({pid}L, {px}L, {py}L)")
            if _inside_bruteforce(px, py, xs, ys):
                want.add((pid, px, py))
        pid += 1
    assert pid >= 25 and len(probe_rows) > 1500  # non-vacuous
    sql = (f"SELECT p.pid, p.mx, p.my "
           f"FROM (VALUES {', '.join(probe_rows)}) AS p(pid, mx, my) "
           f"JOIN (VALUES {', '.join(poly_rows)}) AS g(pid, vxs, vys) "
           f"ON p.pid = g.pid WHERE {pred}")
    got = {(r[0], r[1], r[2]) for r in spark.sql(sql).collect()}
    assert got == want
