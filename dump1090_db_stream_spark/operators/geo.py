"""Geospatial operators — native-expression re-expression of the
reference's optional PostGIS surface (README.md:255-273: ST_MakePoint /
ST_SetSRID / ST_MakeLine / ST_AsGeoJSON) plus the radius query a real
ADS-B deployment runs constantly ("aircraft within R km of the
airport"), which the reference delegates entirely to PostGIS.

No Sedona dependency: everything here is pure Column trigonometry and an
equi-join, so it runs on stock Spark and stays inside WholeStageCodegen.

Scale design — ``radius_join``:
a naive within-radius join is a cross product (|points| x |centers|
haversine evaluations — 10^14 at 100 TB). Here the plane is bucketed
into a fixed-degree grid; each point lands in ONE cell (narrow
projection), each center explodes to the small neighborhood of cells
its radius can touch (lon span widened by 1/cos(lat) so the cover stays
correct at high latitude), and the join is EQUI on the cell id with the
exact haversine as a residual predicate. Shuffle volume is
O(points + centers x cells_per_center); the cross product never exists.
Catalyst plans a plain hash join — broadcast when the exploded center
side is small (the common case: thousands of airports x ~9-25 cells).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088
#: km per degree of latitude (and of longitude at the equator)
KM_PER_DEG = 111.195


def haversine_km(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column,
) -> Column:
    """Great-circle distance in km (haversine; double math, JVM-native)."""
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2))
        * F.sin(dlon) * F.sin(dlon)
    )
    return F.lit(2 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def _pack_cell(lo: Column, la: Column) -> Column:
    """Pack (lon_idx, lat_idx) into one BIGINT: lon in the high 32 bits,
    lat in the low 32. Both indices are non-negative (offset by 180/90
    before flooring) and bounded by 360/cell_deg < 2^31 for any
    cell_deg > ~1.7e-7 deg (~2 cm), so the packed id cannot collide —
    unlike a decimal-shift pack, which aliased lon/lat for radii under
    ~200 m and inflated the equi-join with spurious candidate pairs."""
    return F.shiftleft(lo, 32) + la


def grid_cell(lat: Column, lon: Column, cell_deg: float,
              wrap_lon: bool = False) -> Column:
    """Single packed BIGINT cell id for a point on a fixed-degree grid.

    Packing keeps the join key one 8-byte column instead of two.
    ``wrap_lon=True`` reduces the lon index modulo the grid width so
    neighbor enumeration can cross the antimeridian (close_encounters
    uses it; radius_join documents non-wrapping as its trade-off).
    """
    la = F.floor((lat + F.lit(90.0)) / F.lit(cell_deg)).cast("long")
    lo = F.floor((lon + F.lit(180.0)) / F.lit(cell_deg)).cast("long")
    if wrap_lon:
        lo = F.pmod(lo, F.lit(_n_lon_cells(cell_deg)))
    return _pack_cell(lo, la)


def _n_lon_cells(cell_deg: float) -> int:
    """Longitude cells in a full 360° ring at this resolution."""
    return max(1, int(math.ceil(360.0 / cell_deg)))


def _center_cells(
    lat: Column, lon: Column, radius_km: float, cell_deg: float,
    wrap_lon: bool = False,
) -> Column:
    """All grid cells a ``radius_km`` disk around (lat, lon) can touch —
    an array built with sequence/transform (no Python, no UDF). The lon
    reach is widened by 1/cos(lat) (clamped near the poles) so coverage
    holds at any latitude. ``wrap_lon=True`` wraps lon indices around
    the antimeridian (and dedups, since a wide reach near a pole can
    lap the whole ring)."""
    reach_deg = radius_km / KM_PER_DEG
    # lat cells the disk spans (same everywhere on the globe)
    d_lat = F.lit(int(math.ceil(reach_deg / cell_deg)))
    # lon cells: reach grows with latitude; clamp cos to avoid pole blowup
    coslat = F.greatest(F.cos(F.radians(lat)), F.lit(0.01))
    d_lon = F.ceil(F.lit(reach_deg / cell_deg) / coslat).cast("int")
    if wrap_lon:
        # the wrapped ring is RAGGED unless cell_deg divides 360: the
        # last cell is narrower than cell_deg, adding one extra cell
        # boundary at the +-180 seam that the uniform-width budget
        # above cannot see. A span of x degrees therefore crosses at
        # most ceil(x/cell_deg) + 1 boundaries — widen by exactly one.
        d_lon = d_lon + F.lit(1)
    la0 = F.floor((lat + F.lit(90.0)) / F.lit(cell_deg)).cast("long")
    lo0 = F.floor((lon + F.lit(180.0)) / F.lit(cell_deg)).cast("long")
    if wrap_lon:
        n_lon = F.lit(_n_lon_cells(cell_deg))
        cells = F.flatten(
            F.transform(
                F.sequence(-d_lon, d_lon),
                lambda i: F.transform(
                    F.sequence(-d_lat, d_lat),
                    lambda j: _pack_cell(F.pmod(lo0 + i, n_lon), la0 + j),
                ),
            )
        )
        return F.array_distinct(cells)
    return F.flatten(
        F.transform(
            F.sequence(-d_lon, d_lon),
            lambda i: F.transform(
                F.sequence(-d_lat, d_lat),
                lambda j: _pack_cell(lo0 + i, la0 + j),
            ),
        )
    )


def radius_join(
    points: DataFrame,
    centers: DataFrame,
    radius_km: float,
    point_lat: str = "lat",
    point_lon: str = "lon",
    center_lat: str = "lat",
    center_lon: str = "lon",
    distance_col: str = "distance_km",
) -> DataFrame:
    """All (point, center) pairs within ``radius_km``, via grid-cell
    equi-join + exact haversine residual. Output: all point columns, all
    center columns, plus ``distance_col``.

    The grid cell is the radius' latitude span (``radius_km /
    KM_PER_DEG``, at least 1e-6 deg) — each center then touches ~9
    cells at mid latitudes. Column names shared between
    the two inputs must be disambiguated by the caller (alias first).

    Limitation: the grid does not wrap the antimeridian — a disk
    straddling lon ±180 needs a second pass on a 180°-shifted grid
    (union the results). Deliberate: the wrap costs every query a
    doubled cell list to serve a sliver of the Pacific.
    """
    cell_deg = max(radius_km / KM_PER_DEG, 1e-6)
    p = points.withColumn(
        "_cell", grid_cell(F.col(point_lat), F.col(point_lon), cell_deg))
    c = centers.withColumn(
        "_cell",
        F.explode(_center_cells(
            F.col(center_lat), F.col(center_lon), radius_km, cell_deg)),
    )
    dist = haversine_km(
        F.col(f"p.{point_lat}"), F.col(f"p.{point_lon}"),
        F.col(f"c.{center_lat}"), F.col(f"c.{center_lon}"))
    return (
        p.alias("p").join(c.alias("c"), F.col("p._cell") == F.col("c._cell"))
        .withColumn(distance_col, dist)
        .filter(F.col(distance_col) <= F.lit(radius_km))
        .drop("_cell")
    )


def wkt_coord(v: Column, decimals: int = 6) -> Column:
    """One WKT coordinate as text: fixed-point ``%.{decimals}f`` then
    trailing-zero / trailing-dot trim — ``102.500000`` → ``102.5``,
    ``-170.000000`` → ``-170``.

    Why not the engine's double-to-string? Shortest-repr formatting
    differs between JVM (pre-Ryu Double.toString on Java 17) and other
    engines; fixed-point-then-trim is the same string everywhere, so a
    DuckDB oracle can replay it closed-form. Caveat: exact decimal
    TIES at position ``decimals``+1 (only dyadic rationals can hit one)
    round HALF_UP on the JVM and half-even in C-printf engines; 6 dp
    (~0.1 m) keeps real coordinate data away from ties."""
    s = F.format_string(f"%.{decimals}f", v.cast("double"))
    return F.regexp_replace(F.regexp_replace(s, r"0+$", ""), r"\.$", "")


def st_astext_point(point: Column, decimals: int = 6) -> Column:
    """ST_AsText for a point struct with ``x``/``y`` fields:
    ``POINT(x y)``, PostGIS text form (README.md:255-263's geo surface,
    WKT interop without Sedona)."""
    return F.concat(
        F.lit("POINT("), wkt_coord(point["x"], decimals), F.lit(" "),
        wkt_coord(point["y"], decimals), F.lit(")"))


def st_astext_line(points: Column, decimals: int = 6) -> Column:
    """ST_AsText(ST_MakeLine(...)): ``LINESTRING(x1 y1,x2 y2,...)`` from
    an array of ``x``/``y`` structs in drawing order (comma-separated,
    no space after commas — the PostGIS text form, README.md:266-273).
    Pure Column string building: transform + array_join, zero Python."""
    return F.concat(
        F.lit("LINESTRING("),
        F.array_join(
            F.transform(
                points,
                lambda p: F.concat(wkt_coord(p["x"], decimals), F.lit(" "),
                                   wkt_coord(p["y"], decimals))),
            ","),
        F.lit(")"))


# --- WKB emission: binary geometry for real GIS interop -----------------
# The reference's PostGIS surface (README.md:261-273) hands geometries to
# tools that consume ST_AsBinary bytes (GEOS, GDAL, shapely, QGIS). The
# WKT text forms above cover human/SQL interop; these emit the OGC WKB
# byte forms as pure Column arithmetic — no Sedona, no UDF, fully inside
# WholeStageCodegen.

_P52 = 4503599627370496  # 2^52
_MIN_NORMAL = 2.0 ** -1022


def ieee754_le_hex(v: Column) -> Column:
    """IEEE-754 binary64 little-endian hex (16 lowercase chars) of a
    double, recomposed closed-form from sign/exponent/mantissa — the
    engine-portable building block of WKB (a DuckDB oracle replays the
    identical arithmetic, so emitted bytes are cross-checked bit-exactly).

    Exactness argument: a finite normal double is m * 2^(e-52) with
    integer m in [2^52, 2^53); dividing by 2^e and rescaling by 2^52 are
    power-of-two operations, hence exact, so the mantissa is recovered
    bit-perfectly. floor(log2(|v|)) can be off by one at binade
    boundaries (log2 rounds) — corrected by direct comparison against
    the candidate binade. -0.0 and subnormals (|v| < 2^-1022, far below
    any geographic coordinate) normalize to +0.0; NaN/Inf are out of
    contract (geometry coordinates are finite)."""
    d = v.cast("double")
    # clamp so log2/pow stay finite for v == 0 (result is overridden)
    a = F.greatest(F.abs(d), F.lit(_MIN_NORMAL))
    e0 = F.floor(F.log2(a)).cast("int")
    ec = (F.when(a / F.pow(F.lit(2.0), e0.cast("double")) >= 2, e0 + 1)
          .when(a / F.pow(F.lit(2.0), e0.cast("double")) < 1, e0 - 1)
          .otherwise(e0))
    m = ((a / F.pow(F.lit(2.0), ec.cast("double")) * F.lit(float(_P52)))
         .cast("long") - F.lit(_P52))
    sign = F.when(d < 0, F.lit(-(1 << 63))).otherwise(F.lit(0))
    bits = F.when(F.abs(d) < F.lit(_MIN_NORMAL), F.lit(0)).otherwise(
        sign + (ec.cast("long") + F.lit(1023)) * F.lit(_P52) + m)
    h = F.lower(F.lpad(F.hex(bits), 16, "0"))
    return F.concat(*[F.substring(h, 15 - 2 * i, 2) for i in range(8)])


def _u32_le_hex(n: Column) -> Column:
    """uint32 little-endian hex (8 lowercase chars)."""
    h = F.lower(F.lpad(F.hex(n.cast("long")), 8, "0"))
    return F.concat(*[F.substring(h, 7 - 2 * i, 2) for i in range(4)])


def st_asbinary_point(point: Column) -> Column:
    """ST_AsBinary for a point struct with ``x``/``y`` fields:
    OGC WKB little-endian bytes — 01, uint32 type 1, two binary64
    coordinates."""
    return F.unhex(F.concat(
        F.lit("01"), _u32_le_hex(F.lit(1)),
        ieee754_le_hex(point["x"]), ieee754_le_hex(point["y"])))


def st_asbinary_line(points: Column) -> Column:
    """ST_AsBinary(ST_MakeLine(...)): OGC WKB LINESTRING bytes from an
    array of x/y structs in drawing order — 01, uint32 type 2, uint32
    point count, binary64 coordinate pairs. transform + array_join keep
    it one narrow projection."""
    return F.unhex(F.concat(
        F.lit("01"), _u32_le_hex(F.lit(2)), _u32_le_hex(F.size(points)),
        F.array_join(F.transform(
            points, lambda p: F.concat(ieee754_le_hex(p["x"]),
                                       ieee754_le_hex(p["y"]))), "")))


def close_encounters(
    df: DataFrame,
    dist_km: float,
    window_seconds: int,
    id_col: str = "event_id",
    obj_col: str = "user_id",
    ts_col: str = "ts",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Spatio-temporal proximity self-join: pairs of events from
    DIFFERENT objects within ``dist_km`` AND ``window_seconds`` of each
    other — the ADS-B loss-of-separation / close-encounter query, and
    the generic trajectory-proximity primitive.

    Never a cross join: the equi key is (time bucket, grid cell). One
    side keeps its single (bucket, cell); the other explodes into
    adjacent time buckets x the latitude-corrected cell cover
    (:func:`_center_cells` — the same cover whose losslessness is
    property-tested for the radius join), with WRAPPED longitude
    indices so pairs straddling the antimeridian are found (the
    radius join documents non-wrapping as its trade-off; a proximity
    join cannot afford the blind sliver).

    Pairing-direction discipline cuts the b-side time replication from
    3 buckets to 2: the join requires the a side to be the (t, id)-
    EARLIER event of the pair, so the later event's bucket is always
    equal to or one above a's — b only explodes {tb-1, tb}, a 1/3 cut
    in exploded join input vs the naive +-1 explode (the id_a < id_b
    convention alone pairs in either time direction and needs all 3).
    Exactly-once still holds with no distinct() pass: exploded
    (bucket, cell) keys are distinct (array_distinct after wrapping)
    and only one bucket value can equal a's. The output contract is
    unchanged (id_a < id_b, dt signed b-minus-a): a conditional swap
    relabels the time-ordered pair by id order. Exact residuals (|dt|
    and haversine) then discard the quantization margin.

    Scale: shuffle keyed on (bucket, cell) — volume O(rows x cover
    size); the grid cell is the distance's latitude span (``dist_km /
    KM_PER_DEG``, at least 1e-6 deg). Encounter hot spots (one
    airport's cell) are classic skew, handled by AQE skew-join
    splitting.

    Output: id_a, id_b, obj_a, obj_b, dt_sec (signed, b minus a),
    distance_km (rounded 2).
    """
    cell_deg = max(dist_km / KM_PER_DEG, 1e-6)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    bucket = F.floor(us / F.lit(window_seconds * 1_000_000)).cast("long")
    base = df.select(
        F.col(id_col).alias("id"), F.col(obj_col).alias("obj"),
        us.alias("t_us"),
        F.col(lat_col).alias("lat"), F.col(lon_col).alias("lon"),
        bucket.alias("tb"),
    )
    a = base.withColumn(
        "cell",
        grid_cell(F.col("lat"), F.col("lon"), cell_deg, wrap_lon=True),
    ).alias("a")
    b = (base
         .withColumn("tb", F.explode(F.array(
             F.col("tb") - 1, F.col("tb"))))
         .withColumn("cell", F.explode(_center_cells(
             F.col("lat"), F.col("lon"), dist_km, cell_deg,
             wrap_lon=True)))
         .alias("b"))
    dist = haversine_km(F.col("a.lat"), F.col("a.lon"),
                        F.col("b.lat"), F.col("b.lon"))
    # a is the (t, id)-earlier event: |t_b - t_a| <= window implies
    # b's true bucket is a.tb or a.tb + 1, both reached by b's
    # {tb-1, tb} explode. Strict tuple order also excludes self-pairs.
    earlier = (F.col("a.t_us") < F.col("b.t_us")) | (
        (F.col("a.t_us") == F.col("b.t_us"))
        & (F.col("a.id") < F.col("b.id")))
    pairs = (
        a.join(b, (F.col("a.tb") == F.col("b.tb"))
               & (F.col("a.cell") == F.col("b.cell"))
               & earlier
               & (F.col("a.obj") != F.col("b.obj")))
        .withColumn("dt_sec",
                    (F.col("b.t_us") - F.col("a.t_us"))
                    / F.lit(1_000_000.0))
        .withColumn("distance_km", dist)
        # dt_sec >= 0 by the `earlier` condition — no abs() needed;
        # the bare <= states the invariant the 2-bucket explode needs
        .filter((F.col("dt_sec") <= window_seconds)
                & (F.col("distance_km") <= dist_km))
    )
    # relabel by id order (the output contract): dt stays signed b-a
    # in ID order, so it flips sign when id order disagrees with time
    # order
    a_first = F.col("a.id") < F.col("b.id")
    pick = lambda x, y: F.when(a_first, x).otherwise(y)  # noqa: E731
    return pairs.select(
        pick(F.col("a.id"), F.col("b.id")).alias("id_a"),
        pick(F.col("b.id"), F.col("a.id")).alias("id_b"),
        pick(F.col("a.obj"), F.col("b.obj")).alias("obj_a"),
        pick(F.col("b.obj"), F.col("a.obj")).alias("obj_b"),
        pick(F.col("dt_sec"), -F.col("dt_sec")).alias("dt_sec"),
        F.round("distance_km", 2).alias("distance_km"),
    )
