"""Engine hyper-parameters.

Semantics mirror the reference's ``parameters.py`` (cited per constant);
values are the defaults of the *headless Processing path*
(``/root/reference/processing/full_sidewalkreator_bbox_algorithm.py``)
because the reference's golden fixtures were produced by it.
All distances in meters.
"""

# --- sidewalk generation (reference parameters.py:30-60) ---
DEFAULT_CURVE_RADIUS = 3.0          # parameters.py:30
MIN_D_TO_BUILDING = 1.0             # parameters.py:33
MINIMAL_BUFFER = 3.0                # parameters.py:45
PERC_DRAW_KERBS = 25.0              # headless path: full_sidewalkreator_bbox_algorithm.py:889 (GUI: 30, parameters.py:51)
PERC_TOL_CROSSINGS = 25.0           # parameters.py:54
D_TO_ADD_TO_EACH_SIDE = 1.0         # parameters.py:60

# --- cleaning / filtering (reference parameters.py:143-172) ---
PROTOBLOCKS_BUFFER = 0.5            # parameters.py:143
TINY_SEGMENTS_TOL = 0.1             # parameters.py:146
MIN_AREA_PERIMETER_RATIO = 0.02     # parameters.py:149
INCREMENT_INWARD = 0.5              # parameters.py:152
MAX_CROSSINGS_ITERATIONS = 20       # parameters.py:154
KNN_MAX_DIST = 50.0                 # parameters.py:157
CUTOFF_PERCENT_PROTOBLOCK = 40.0    # parameters.py:160
DUPLICATE_POINTS_TOL = 0.1          # parameters.py:163
SNAP_DISJOINTED_TOL = 0.5           # parameters.py:166
MIN_STRETCH_SIZE = 7.0              # parameters.py:169
ABS_MAX_CROSSING_LEN = 100.0        # parameters.py:172

# --- crossings, headless-path constants ---
# full_sidewalkreator_bbox_algorithm.py:683 (endpoint search buffer, m)
ENDPOINT_SEARCH_BUFFER = 2.0
# full_sidewalkreator_bbox_algorithm.py:827 (min segment length for crossing)
MIN_SEG_LEN_FOR_CROSSING = 20.0
KERB_PERC = PERC_DRAW_KERBS / 100.0

# --- per-highway-class default widths (reference parameters.py:67-105) ---
DEFAULT_WIDTHS = {
    "motorway": 22.0,
    "trunk": 18.0,
    "primary": 12.0,
    "residential": 6.0,
    "secondary": 10.0,
    "tertiary": 8.0,
    "unclassified": 4.0,
    "road": 6.0,
    "living_street": 0.0,
    "trunk_link": 0.0,
    "motorway_link": 0.0,
    "secondary_link": 0.0,
    "tertiary_link": 0.0,
    "primary_link": 0.0,
    # ignored classes (width 0 => dropped by the <0.5 filter):
    "sidewalk": 0.0,
    "crossing": 0.0,
    "path": 0.0,
    "service": 0.0,
    "pedestrian": 0.0,
    "escape": 0.0,
    "raceway": 0.0,
    "cycleway": 0.0,
    "proposed": 0.0,
    "construction": 0.0,
    "platform": 0.0,
    "services": 0.0,
    "footway": 0.0,
    "track": 0.0,
    "corridor": 0.0,
    "steps": 0.0,
    "street_lamp": 0.0,
}
MIN_VALID_WIDTH = 0.5               # drop classes below (osm_sidewalkreator.py:697-718)

# --- engine knobs (no reference analog: Spark-scale parameters) ---
ARC_SEGMENTS_PER_QUADRANT = 5       # buffer arc discretization (QGIS segments=5 default)
TILE_SIZE_M = 512.0                 # per-tile geometry pipeline tile edge, m
# halo must exceed the geometric influence radius: half the largest city
# block (ownership is by centroid/representative point) + max buffer
# (MAX_SIDEWALK_WIDTH/2 + d_to_add/2) + curve radius + crossing half-span.
# ~90 m for 100 m blocks; 128 m default. Tile size is the parallelism /
# skew knob (more tiles = more shuffle keys; halo/tile ratio = overlap
# overhead, 2.25x at 128/512).
TILE_HALO_M = 128.0
CELL_SIZE_M = 128.0                 # join-candidate cell size, m
DEM_CELL_M = 10.0                   # DEM grid spacing (FIXTURES.md §6)
