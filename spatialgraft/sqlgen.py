"""Shared SQL fragments for deterministic geometry derivation.

The same arithmetic text is executed by Spark (via F.expr / spark.sql)
when *synthesizing* the spans-shaped documents table, and by DuckDB when
running the oracle.  Everything is int64 modular arithmetic on positive
values, so the two engines agree bit-exactly.  Only two dialect
differences exist (string cast type, integer division operator) and both
are handled here.

Derivations:
  points   <- lineitem  (doc_key = l_orderkey*8 + l_linenumber)
  boxes    <- part      (box_id  = p_partkey)
  knn_pts  <- orders    (qid     = o_orderkey, every 16th order)
  polygons <- part      (poly_id = p_partkey, partkeys % 3 == 1)
"""

from . import config as C


def _str_t(dialect: str) -> str:
    return "STRING" if dialect == "spark" else "VARCHAR"


def idiv(a: str, b: str, dialect: str) -> str:
    op = " div " if dialect == "spark" else " // "
    return f"(({a}){op}({b}))"


# The distinct-document key set (shared by points_cte / data_boxes_cte
# and by datagen's DataFrame-side composition).
POINTS_KEYS_INNER = ("SELECT DISTINCT CAST(l_orderkey AS BIGINT) * 8 "
                     "+ CAST(l_linenumber AS BIGINT) AS k FROM lineitem")


def _point_location(k: str) -> tuple[str, str]:
    """The (mx, my) CASE expressions of document key column k: a hashed
    world position, every 5th key moved into the hotspot.  Shared by
    the points and the data-box derivations."""
    h1 = f"(({k} * {C.PT_A1} + {C.PT_B1}) % {C.WORLD_MX})"
    h2 = f"(({k} * {C.PT_A2} + {C.PT_B2}) % {C.WORLD_MY})"
    mx = (f"(CASE WHEN {k} % 5 = 0 THEN {C.HOT_MX0} + ({h1} % {C.HOT_MXW}) "
          f"ELSE {h1} END)")
    my = (f"(CASE WHEN {k} % 5 = 0 THEN {C.HOT_MY0} + ({h2} % {C.HOT_MYW}) "
          f"ELSE {h2} END)")
    return mx, my


def _points_fragments(dialect: str) -> dict[str, str]:
    """Aliased derived-column expressions over a relation with column k.
    Single source of truth for points_cte AND datagen.documents_spans
    (which derives AFTER its slim key shuffle) — the emitted CTE text is
    byte-identical to pre-refactor (tests/test_sqlgen_text_pinned.py)."""
    k = "k"
    mx, my = _point_location(k)
    text = (f"printf('item %d flag %s status %s', {k}, "
            f"CASE WHEN {k} % 3 = 0 THEN 'R' WHEN {k} % 3 = 1 "
            f"THEN 'A' ELSE 'N' END, "
            f"CASE WHEN {k} % 2 = 0 THEN 'O' ELSE 'F' END)")
    return {
        "doc_key": f"{k} AS doc_key",
        "doc_id": f"CAST({k} AS {_str_t(dialect)}) AS doc_id",
        "mx": f"{mx} AS mx",
        "my": f"{my} AS my",
        "x": f"(CAST({mx} AS DOUBLE) - 180000) / 1000.0 AS x",
        "y": f"(CAST({my} AS DOUBLE) - 90000) / 1000.0 AS y",
        "textline": f"{text} AS textline",
    }


def points_exprs(dialect: str = "spark",
                 cols: list[str] | None = None) -> list[str]:
    """The points derivation as selectExpr strings over a relation that
    holds the distinct key column k — lets datagen shuffle only the
    8-byte key and derive columns after (optimization guide §2.3)."""
    frags = _points_fragments(dialect)
    return [frags[c] for c in (cols if cols is not None else frags)]


def points_cte(dialect: str = "duckdb") -> str:
    """Point derivation from lineitem: doc_key, mx, my, x, y, textline.

    (l_orderkey, l_linenumber) pairs are NOT unique in the driver's
    synthetic lineitem, so the document set is the DISTINCT pair set and
    every derived column is a pure function of doc_key k."""
    frags = _points_fragments(dialect)
    return ("SELECT " + ", ".join(frags.values()) +
            f" FROM ({POINTS_KEYS_INNER}) base")


def boxes_cte(dialect: str = "duckdb") -> str:
    """Query-box derivation from part: box_id, xmin..ymax (milli ints)."""
    b = "CAST(p_partkey AS BIGINT)"
    g1 = f"(({b} * {C.BOX_A1} + {C.BOX_B1}) % {C.WORLD_MX})"
    g2 = f"(({b} * {C.BOX_A2} + {C.BOX_B2}) % {C.WORLD_MY})"
    cx = (f"(CASE WHEN {b} % 4 = 0 THEN {C.HOT_MX0} + ({g1} % {C.HOT_MXW}) "
          f"ELSE {g1} END)")
    cy = (f"(CASE WHEN {b} % 4 = 0 THEN {C.HOT_MY0} + ({g2} % {C.HOT_MYW}) "
          f"ELSE {g2} END)")
    bw = f"(2000 + ({b} * 37) % 8000)"
    bh = f"(1000 + ({b} * 53) % 4000)"
    return (f"SELECT {b} AS box_id, "
            f"GREATEST(0, {cx} - {bw}) AS xmin, "
            f"GREATEST(0, {cy} - {bh}) AS ymin, "
            f"LEAST({C.WORLD_MX - 1}, {cx} + {bw}) AS xmax, "
            f"LEAST({C.WORLD_MY - 1}, {cy} + {bh}) AS ymax "
            f"FROM part")


def data_boxes_cte(dialect: str = "duckdb") -> str:
    """Data-side box set (F3): one small box per document, centered on
    the document's point location (same derivation as points_cte) —
    box-geometry data entries like the reference's Box entries
    (reference Geom.scala:184-221).  dbox_id = doc_key."""
    k = "k"
    cx, cy = _point_location(k)
    bw = f"(200 + ({k} * 13) % 1300)"
    bh = f"(100 + ({k} * 17) % 650)"
    return (f"SELECT {k} AS dbox_id, "
            f"GREATEST(0, {cx} - {bw}) AS xmin, "
            f"GREATEST(0, {cy} - {bh}) AS ymin, "
            f"LEAST({C.WORLD_MX - 1}, {cx} + {bw}) AS xmax, "
            f"LEAST({C.WORLD_MY - 1}, {cy} + {bh}) AS ymax "
            f"FROM ({POINTS_KEYS_INNER}) base")


def knn_queries_cte(dialect: str = "duckdb") -> str:
    """kNN query points from orders (every 16th): qid, qmx, qmy, qx, qy."""
    q = "CAST(o_orderkey AS BIGINT)"
    q1 = f"(({q} * {C.QRY_A1} + {C.QRY_B1}) % {C.WORLD_MX})"
    q2 = f"(({q} * {C.QRY_A2} + {C.QRY_B2}) % {C.WORLD_MY})"
    qmx = (f"(CASE WHEN {q} % 6 = 0 THEN {C.HOT_MX0} + ({q1} % {C.HOT_MXW}) "
           f"ELSE {q1} END)")
    qmy = (f"(CASE WHEN {q} % 6 = 0 THEN {C.HOT_MY0} + ({q2} % {C.HOT_MYW}) "
           f"ELSE {q2} END)")
    return (f"SELECT {q} AS qid, {qmx} AS qmx, {qmy} AS qmy, "
            f"(CAST({qmx} AS DOUBLE) - 180000) / 1000.0 AS qx, "
            f"(CAST({qmy} AS DOUBLE) - 90000) / 1000.0 AS qy "
            f"FROM orders WHERE {q} % 16 = 0")


def polygons_cte(dialect: str = "duckdb") -> str:
    """Convex-hexagon polygons from part (% 3 == 1 subset).

    Emits poly_id, center (pcx,pcy), radius r, and the 6 vertices as
    columns vx0..vy5 (milli ints) plus the bbox.  Vertices are
    center + r * HEX_OFFSETS[i] — exact int64.
    """
    b = "CAST(p_partkey AS BIGINT)"
    g1 = f"(({b} * {C.BOX_A1} + 333667) % 350000)"
    g2 = f"(({b} * {C.BOX_A2} + 123457) % 170000)"
    pcx = f"(5000 + {g1})"
    pcy = f"(5000 + {g2})"
    r = f"(500 + ({b} * 29) % 2500)"
    cols = [f"{b} AS poly_id", f"{pcx} AS pcx", f"{pcy} AS pcy", f"{r} AS r"]
    for i, (ox, oy) in enumerate(C.HEX_OFFSETS):
        cols.append(f"({pcx} + ({r}) * {ox}) AS vx{i}")
        cols.append(f"({pcy} + ({r}) * {oy}) AS vy{i}")
    cols.append(f"({pcx} - ({r}) * 2) AS xmin")
    cols.append(f"({pcx} + ({r}) * 2) AS xmax")
    cols.append(f"({pcy} - ({r}) * 2) AS ymin")
    cols.append(f"({pcy} + ({r}) * 2) AS ymax")
    return ("SELECT " + ", ".join(cols) +
            f" FROM part WHERE {b} % 3 = 1")


def concave_polygons_cte(dialect: str = "duckdb") -> str:
    """Concave star polygons from part (% 3 == 2 subset, disjoint from
    the convex % 3 == 1 set): poly_id, vertex arrays (vxs, vys — milli
    ints, variable length 8/10/12 by template), and the bbox.

    Vertices are center + r * STAR_OFFSETS[t][i] — exact int64; the
    center is clamped so center +- 4r stays inside the world box."""
    b = "CAST(p_partkey AS BIGINT)"
    g1 = f"(({b} * {C.BOX_A1} + 333667) % 330000)"
    g2 = f"(({b} * {C.BOX_A2} + 123457) % 150000)"
    pcx = f"(15000 + {g1})"
    pcy = f"(15000 + {g2})"
    r = f"(500 + ({b} * 29) % 2500)"
    tmpl = idiv(b, "3", dialect) + " % 3"

    def arr(vals: list[str]) -> str:
        inner = ", ".join(vals)
        return (f"array({inner})" if dialect == "spark" else f"[{inner}]")

    def case_arr(coord: int) -> str:
        # coord 0 -> x offsets, 1 -> y offsets
        branches = []
        for t, offs in enumerate(C.STAR_OFFSETS):
            base = pcx if coord == 0 else pcy
            vals = [f"({base} + ({r}) * {o[coord]})" for o in offs]
            branches.append(f"WHEN ({tmpl}) = {t} THEN {arr(vals)}")
        return "CASE " + " ".join(branches) + " END"

    return (f"SELECT {b} AS poly_id, "
            f"{case_arr(0)} AS vxs, {case_arr(1)} AS vys, "
            f"({pcx} - ({r}) * 4) AS xmin, "
            f"({pcx} + ({r}) * 4) AS xmax, "
            f"({pcy} - ({r}) * 4) AS ymin, "
            f"({pcy} + ({r}) * 4) AS ymax "
            f"FROM part WHERE {b} % 3 = 2")


def pip_concave_predicate(px: str, py: str, vxs: str = "vxs",
                          vys: str = "vys",
                          dialect: str = "spark") -> str:
    """Border-inclusive point-in-polygon for ARBITRARY simple polygons
    (concave, any vertex count) — exact int64 even-odd ray-cast, no UDF.

    For each edge i (vertices 1-based i+1 -> i+2, wrapping), with the
    horizontal ray from (px, py) toward +x:
      straddle  the edge crosses the ray's line: (y1 > py) != (y2 > py)
      cross     (x2-x1)*(py-y1) - (px-x1)*(y2-y1)  — the intersection
                x satisfies (ix - px)*(y2-y1) = cross, so ix > px
                iff (cross > 0) == (y2 > y1); all int64, exact
      on-edge   cross == 0 and (px, py) inside the edge's bbox
                -> the point lies ON the segment (border-inclusive)
    inside = on any edge OR odd number of ray crossings.

    The same text structure is emitted for Spark (sequence/filter/
    exists/element_at) and DuckDB (range/list_filter/len/[]), with
    identical integer comparisons -> bit-exact agreement.  The convex
    fast path (pip_predicate) remains for fixed convex rings."""
    spark = dialect == "spark"
    n = f"size({vxs})" if spark else f"len({vxs})"

    def elem(a: str, idx: str) -> str:
        return (f"element_at({a}, CAST({idx} AS INT))" if spark
                else f"{a}[{idx}]")

    # 1-based current and wrapped-next vertex indices from lambda var i
    i1 = "i + 1"
    i2 = (f"CASE WHEN i = {n} - 1 THEN 1 ELSE i + 2 END")
    x1, y1 = elem(vxs, i1), elem(vys, i1)
    x2, y2 = elem(vxs, i2), elem(vys, i2)
    cross = (f"(({x2}) - ({x1})) * (({py}) - ({y1})) "
             f"- (({px}) - ({x1})) * (({y2}) - ({y1}))")
    crossing = (f"((({y1}) > ({py})) != (({y2}) > ({py}))) "
                f"AND ((({cross}) > 0) = (({y2}) > ({y1})))")
    on_edge = (f"(({cross}) = 0 "
               f"AND ({px}) >= least({x1}, {x2}) "
               f"AND ({px}) <= greatest({x1}, {x2}) "
               f"AND ({py}) >= least({y1}, {y2}) "
               f"AND ({py}) <= greatest({y1}, {y2}))")
    if spark:
        seq = f"sequence(0, {n} - 1)"
        return (f"(exists({seq}, i -> {on_edge}) OR "
                f"size(filter({seq}, i -> {crossing})) % 2 = 1)")
    return (f"(len(list_filter(range({n}), i -> {on_edge})) > 0 OR "
            f"len(list_filter(range({n}), i -> {crossing})) % 2 = 1)")


def pip_predicate(px: str, py: str, prefix: str = "") -> str:
    """Border-inclusive point-in-convex-polygon as a conjunction of 6
    exact int64 cross-product tests (CCW ring => all crosses >= 0)."""
    n = len(C.HEX_OFFSETS)
    terms = []
    for i in range(n):
        j = (i + 1) % n
        x1, y1 = f"{prefix}vx{i}", f"{prefix}vy{i}"
        x2, y2 = f"{prefix}vx{j}", f"{prefix}vy{j}"
        terms.append(f"(({x2}-{x1})*(({py})-{y1}) - "
                     f"({y2}-{y1})*(({px})-{x1}) >= 0)")
    return "(" + " AND ".join(terms) + ")"
