"""Engine-wide constants.

Coordinate system: the world box lon[-180,180) x lat[-90,90) is modeled in
*milli-degree integer space* ``mx in [0, 360000)``, ``my in [0, 180000)``
(``x = (mx-180000)/1000``, ``y = (my-90000)/1000``).  All containment /
point-in-polygon / tile predicates are evaluated on int64 milli values, so
the engine and the DuckDB oracle agree bit-exactly with no float-boundary
hazards (the reference computes border-inclusive contains on Float32,
reference/src/main/scala/cs/purdue/edu/spatialindex/rtree/Geom.scala:85-86;
we pin exact integer semantics instead).
"""

# World extent in milli-degrees.
WORLD_MX = 360_000
WORLD_MY = 180_000

# Grid level: CX x CY cells over the world.  Role of the reference's
# Hilbert/quadkey cell ids (reference sfcurve.scala:28-148) — here a flat
# grid id `cell = cell_x * CY + cell_y` with exact integer assignment
# `cell_x = mx * CX div WORLD_MX`.  The default CX*CY = 32768 cells:
# small enough that per-cell stats collect to the driver even at 10^12
# rows (stats are O(#cells), never O(#rows)).
#
# Env-tunable (SPARK_GRAFT_CELL_CX / _CY) because granularity is the
# join-shape tradeoff: finer cells cut the kNN cover-join / range-refine
# probe volume ~linearly (each candidate cell holds fewer rows) but
# multiply multicast cover rows and the O(#cells) driver structures.
# Results are grid-INDEPENDENT (the grid only routes work; every
# operator refines exactly), machine-checked by running the oracle
# suite under a non-default grid.  All derived constants (N_CELLS, the
# kNN SAT sub-grid and its ring radii) follow automatically.
import os as _os

CELL_CX = int(_os.environ.get("SPARK_GRAFT_CELL_CX", "256"))
CELL_CY = int(_os.environ.get("SPARK_GRAFT_CELL_CY", "128"))
# Validate the overrides up front (ADVICE r5): a non-positive dimension
# breaks the div/pmod cell arithmetic silently, and a grid beyond 2^26
# cells overruns the O(#cells) driver structures (histogram, SAT,
# partition map) the design budgets for.  Non-power-of-two dims are
# fine — the kNN SAT ring radii derive from bit_length and span any grid.
if CELL_CX < 1 or CELL_CY < 1:
    raise ValueError(
        f"SPARK_GRAFT_CELL_CX/_CY must be >= 1, got {CELL_CX}x{CELL_CY}")
if CELL_CX * CELL_CY > 1 << 26:
    raise ValueError(
        f"grid {CELL_CX}x{CELL_CY} exceeds 2^26 cells — per-cell driver "
        "structures are O(#cells); use a coarser grid")
N_CELLS = CELL_CX * CELL_CY

# Tile level for raster<->vector tile assignment (finer than join cells).
TILE_TX = 1024
TILE_TY = 512

# Default cap on a hot cell's salt-slice count (`n_partitions` of
# partitioner.plan_partitions; reference default 500 partitions,
# spatialrdd/impl/Util.scala:21 — we size to the local sandbox; at
# cluster scale pass n_partitions explicitly).
DEFAULT_PARTITIONS = 64

# Skew handling: a cell whose row count exceeds `mean * SKEW_RATIO` gets
# salted into ceil(count / int(mean * SKEW_RATIO)) splits (reference
# threshold ratio 3, scheduler/skewAnalysis.scala:145-160).
SKEW_RATIO = 3.0

# --- deterministic data derivation constants (shared Spark/DuckDB) ------
# Points are derived from `lineitem` (doc_key = l_orderkey*8+l_linenumber),
# boxes from `part`, kNN query points from `orders`, polygons from `part`.
# 20% of points / 25% of boxes / ~17% of kNN queries land in a hotspot
# box lon[-30,-10) x lat[10,20) to exercise the skew path (mirrors the
# gaussian-cluster generators the reference tests use,
# test/.../quadtree/testQuadtreeS.scala:17-35).
PT_A1, PT_B1 = 2654435761, 1013904223
PT_A2, PT_B2 = 2246822519, 880406837
HOT_MX0, HOT_MXW = 150_000, 20_000
HOT_MY0, HOT_MYW = 100_000, 10_000

BOX_A1, BOX_B1 = 40503, 9999991
BOX_A2, BOX_B2 = 65537, 7777777

QRY_A1, QRY_B1 = 2654435761, 11
QRY_A2, QRY_B2 = 2246822519, 17

# Convex hexagon template (CCW, integer offsets scaled by radius r).
HEX_OFFSETS = [(2, 0), (1, 2), (-1, 2), (-2, 0), (-1, -2), (1, -2)]

# Concave star-polygon templates (integer offsets scaled by radius r):
# vertices are sorted by angle around the origin (=> always simple /
# non-self-intersecting, CCW) with radii alternating outer/inner
# (=> reflex vertices, genuinely concave).  Variable vertex counts
# (8 / 10 / 12) exercise the variable-length even-odd ray-cast path.
# Max |offset| is 4, so the bbox is center +- 4r.  Geometric validity
# (simple, CCW, concave) is machine-checked in tests/test_pip_concave.py.
STAR_OFFSETS = [
    [(4, 0), (1, 1), (0, 4), (-1, 1), (-4, 0), (-1, -1), (0, -4),
     (1, -1)],
    [(4, 0), (1, 1), (1, 3), (0, 1), (-3, 2), (-2, 0), (-3, -2),
     (-1, -2), (1, -3), (2, -1)],
    [(4, 0), (2, 1), (2, 3), (0, 1), (-2, 3), (-2, 1), (-4, 0),
     (-2, -1), (-2, -3), (0, -1), (2, -3), (2, -1)],
]

DEFAULT_K = 10

# --- real media codec content (shared Spark-UDF/DuckDB arithmetic) ------
# Deterministic media payloads for the REAL decode path
# (pipeline/mediacodec.py): even doc_keys carry a PNG (8-bit greyscale,
# w = 8 + k%9, h = 8 + (k*3)%9, pixel(i) = (k*PIX_A + i*PIX_B) % 256
# row-major, row r filtered with PNG filter (k+r) % 5 so every filter
# type ships in real data); odd doc_keys carry a WAV (16-bit mono PCM,
# rate 8000 + (k%4)*4000, n = 64 + k%64, sample(i) =
# (k*AUD_A + i*AUD_B) % 65536 - 32768).  The DuckDB oracle predicts the
# DECODED statistics from this same arithmetic, so an encode or decode
# bug in either codec breaks the bit-exact match.
MEDIA_PIX_A, MEDIA_PIX_B = 2654435761, 40503
MEDIA_AUD_A, MEDIA_AUD_B = 1103515245, 12345
MEDIA_MAX_PIXELS = 16 * 16  # w,h <= 16: oracle index-join upper bound

# --- training-data pipeline constants (shared Spark/DuckDB) -------------
# 31-bit modulus used ONLY for MinHash permutation slots and band mixing
# (sketch width, where collisions are by-design noise, not merges).
FP_MOD = 2147483647

# ~117-bit document/shingle fingerprint: two independent polynomial
# folds (acc*P + ascii(c)) % M with primes chosen so acc*P + 255 stays
# inside int64 in BOTH Spark and DuckDB (P*M + 255 < 2^63).  Birthday
# collisions start around 2^58 documents — safe past 10^12 docs (the
# old single 31-bit fold falsely merged distinct docs from ~50k).
FP2_P1, FP2_M1 = 31, 297528130221121781   # 59-bit prime
FP2_P2, FP2_M2 = 37, 249280325320399333   # 58-bit prime

# Token shingling for near-dup detection.
SHINGLE_K = 3

# Hot-shingle document-frequency cap for the n-gram Jaccard self-join:
# shingles appearing in more than NGRAM_DF_CAP documents are stop-
# shingles (boilerplate) and are dropped from the similarity space
# BEFORE the inverted-index join — a shingle in f docs otherwise makes
# f^2/2 join rows, so one viral 3-gram quadratically dominates at scale.
# Jaccard is computed over the capped shingle space (both the common
# counts and the per-doc sizes), mirrored exactly in the DuckDB oracle.
NGRAM_DF_CAP = 1000

# MinHash: H signature slots, B bands x R rows (H = B*R); slot i applies
# (A[i]*h + B[i]) % FP_MOD to the shingle hash h.
MINHASH_A = [1103515245, 1588635695, 1117695901, 1503765159,
             1458777823, 2012747901, 1135016843, 1873672811]
MINHASH_B = [12345, 390451, 586081, 908441, 136261, 270271, 565573, 66179]
MINHASH_BANDS = 4
MINHASH_ROWS = 2
BAND_MIX = 1000003

# SimHash over shingle hashes (16-bit for oracle tractability) and the
# near-dup hamming threshold.
SIMHASH_BITS = 16
SIMHASH_MAX_HAMMING = 3
# 4 bands x 4 bits: pigeonhole-complete pair recall for hamming <= 3
SIMHASH_BANDS = 4

# Text quality / language-id stopword lists (fixed order = tie order).
STOP_WORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on"]
LANG_STOPS = [
    ("en", ["the", "and", "of", "a"]),
    ("de", ["der", "die", "und", "nicht"]),
    ("fr", ["le", "la", "et", "les"]),
    ("es", ["el", "los", "y", "que"]),
]

# Similarity search.
ANN_K = 5
ANN_QUERY_MOD = 10      # vec_id % ANN_QUERY_MOD == 0 are the probe set

# Multi-band hyperplane LSH over the embedding column: ANN_BANDS
# signatures of ANN_BAND_BITS sign bits each, every bit from a
# deterministic +-1 hyperplane (seeded by ANN_SIGN_A mod ANN_SIGN_K —
# shared with the DuckDB oracle).  2 bands x 16 bits = 65,536 buckets
# per band: at 10^12 vectors a band bucket holds ~1.5e7 rows (vs the
# old single 8-bit table's 4e9), and union-of-bands recall grows with
# each extra band — the standard random-hyperplane LSH scale shape.
ANN_BANDS = 2
ANN_BAND_BITS = 16
ANN_SIGN_A = 2654435761
ANN_SIGN_K = 1000003
EMB_DIM = 64            # embeddings.embedding is array<float>[64]
