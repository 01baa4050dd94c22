"""Spatial search — the LatLonType / geofilt surface (SURVEY.md §2.12).

References: solr/core/src/java/org/apache/solr/schema/LatLonType.java
(+ solr/core/.../search/SpatialFilterQParserPlugin.java '{!geofilt}'):
filter docs within d km of a point, with a bounding-box prune before
the exact great-circle test; lucene/spatial/ provides the underlying
distance math (GeoDistanceUtils haversine).

Spark shape: the bounding box is a pair of BETWEEN predicates pushed
into the parquet scan (the trie/grid prune analogue — at 100 TB this is
partition + row-group pruning on lat/lon min-max stats); only surviving
rows pay the haversine, a whole-stage-codegen'd expression. No UDFs.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions.literals import const_array

EARTH_RADIUS_KM = 6371.0087714  # GeoDistanceUtils mean earth radius


def haversine_km(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """Great-circle distance in km, double math in a fixed op order
    (mirrored textually by the SQL oracle)."""
    rlat1 = F.radians(lat1)
    rlat2 = F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return (
        F.lit(2.0 * EARTH_RADIUS_KM)
        * F.atan2(F.sqrt(a), F.sqrt(F.lit(1.0) - a))
    )


def geofilt(
    docs: DataFrame,
    lat: float,
    lon: float,
    d_km: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """{!geofilt pt=lat,lon d=km}: docs within d km, with a bbox prune
    before the exact haversine. Returns (doc_id, dist_km)."""
    dlat = math.degrees(d_km / EARTH_RADIUS_KM)
    coslat = math.cos(math.radians(lat))
    dlon = 180.0 if coslat <= 1e-9 else math.degrees(
        d_km / (EARTH_RADIUS_KM * coslat)
    )
    boxed = docs.where(
        F.col(lat_col).between(lat - dlat, lat + dlat)
        & F.col(lon_col).between(lon - dlon, lon + dlon)
    )
    dist = haversine_km(
        F.lit(float(lat)),
        F.lit(float(lon)),
        F.col(lat_col),
        F.col(lon_col),
    )
    return (
        boxed.withColumn("dist_km", dist)
        .where(F.col("dist_km") <= F.lit(float(d_km)))
        .select("doc_id", F.round("dist_km", 4).alias("dist_km"))
    )


def bbox_filter(
    docs: DataFrame,
    lat: float,
    lon: float,
    d_km: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """{!bbox pt=lat,lon d=km} (SpatialBoxQParserPlugin.java:25 →
    SpatialFilterQParser bbox=true → LatLonType.createSpatialQuery's
    box-only branch): the cheap lat/lon BETWEEN prune WITHOUT the exact
    great-circle test — admits the box's corners, unlike geofilt. Two
    pushed-down range predicates; at 100 TB this is pure partition +
    row-group pruning on lat/lon min-max stats."""
    dlat = math.degrees(d_km / EARTH_RADIUS_KM)
    coslat = math.cos(math.radians(lat))
    dlon = 180.0 if coslat <= 1e-9 else math.degrees(
        d_km / (EARTH_RADIUS_KM * coslat)
    )
    return docs.where(
        F.col(lat_col).between(lat - dlat, lat + dlat)
        & F.col(lon_col).between(lon - dlon, lon + dlon)
    ).select("doc_id")


def haversine_units(
    lat1: Column,
    lon1: Column,
    lat2: Column,
    lon2: Column,
    radius: float,
    convert_degrees: bool = True,
) -> Column:
    """Parametric-radius haversine — the hsin() ValueSource
    (solr/core/.../function/distance/HaversineFunction.java:71-92:
    optional degrees->radians conversion, then spatial4j
    distHaversineRAD * radius; result is in the radius' units)."""
    if convert_degrees:
        lat1, lon1 = F.radians(lat1), F.radians(lon1)
        lat2, lon2 = F.radians(lat2), F.radians(lon2)
    hsin_y = F.sin((lat1 - lat2) * 0.5)
    hsin_x = F.sin((lon1 - lon2) * 0.5)
    h = hsin_y * hsin_y + F.cos(lat1) * F.cos(lat2) * hsin_x * hsin_x
    return (
        F.lit(2.0 * radius)
        * F.atan2(F.sqrt(h), F.sqrt(F.lit(1.0) - h))
    )


# --- geohash (GeohashFunction / GeohashHaversineFunction) -------------
# Format per spatial4j GeohashUtils (the lib the reference's
# solr/core/.../distance/GeohashFunction.java:58 delegates to): base-32
# alphabet, lon/lat bits interleaved lon-first, precision 12 chars = 60
# bits = 30 per axis. Encode is modelled closed-form — cell index =
# floor((coord+off)/span * 2^30) clamped — which the SQL oracle twin
# reproduces with the identical double arithmetic; decode returns the
# cell CENTER like GeohashUtils.decode. Everything is integer shift +
# array lookup Catalyst expressions: zero UDFs, whole-stage codegen.

GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"
GEOHASH_PRECISION = 12
_GH_AXIS_BITS = 30  # per-axis bits at precision 12


def _gh_cell(coord: Column, offset: float, span: float) -> Column:
    """Closed-form axis cell index: floor((coord+off)/span * 2^30),
    clamped into [0, 2^30-1] (the +edge coordinate maps to the top
    cell, as bisection does)."""
    raw = F.floor(
        (coord + F.lit(offset)) / F.lit(span) * F.lit(float(2**_GH_AXIS_BITS))
    ).cast("long")
    return F.greatest(
        F.lit(0).cast("long"),
        F.least(raw, F.lit(2**_GH_AXIS_BITS - 1).cast("long")),
    )


def geohash_encode(lat: Column, lon: Column) -> Column:
    """Precision-12 geohash of (lat, lon) as a string column."""
    lat_i = _gh_cell(lat, 90.0, 180.0)
    lon_i = _gh_cell(lon, 180.0, 360.0)
    alpha = const_array(GEOHASH_ALPHABET, "string")
    chars = []
    for c in range(GEOHASH_PRECISION):
        idx: Column | None = None
        for j in range(5):
            g = 5 * c + j  # global bit, MSB first; even = lon
            axis, b = (lon_i, g // 2) if g % 2 == 0 else (lat_i, g // 2)
            bit = F.shiftright(axis, _GH_AXIS_BITS - 1 - b).bitwiseAND(
                F.lit(1).cast("long")
            )
            weighted = bit * F.lit(1 << (4 - j)).cast("long")
            idx = weighted if idx is None else idx + weighted
        chars.append(F.element_at(alpha, (idx + 1).cast("int")))
    return F.concat(*chars)


def geohash_cell_center(lat: Column, lon: Column) -> tuple[Column, Column]:
    """The cell CENTER geohash_encode(lat,lon) encodes to, computed
    closed-form without the string round-trip — decode(encode(p))
    composition would otherwise duplicate the 60-bit-extract encode
    tree into every decode bit (a Catalyst expression-size blow-up)."""
    lat_i = _gh_cell(lat, 90.0, 180.0)
    lon_i = _gh_cell(lon, 180.0, 360.0)
    scale_lat = 180.0 / float(2**_GH_AXIS_BITS)
    scale_lon = 360.0 / float(2**_GH_AXIS_BITS)
    return (
        F.lit(-90.0) + (lat_i.cast("double") + F.lit(0.5)) * F.lit(scale_lat),
        F.lit(-180.0) + (lon_i.cast("double") + F.lit(0.5)) * F.lit(scale_lon),
    )


def geohash_encode_py(lat: float, lon: float) -> str:
    """Driver-side twin of geohash_encode (same closed-form cell +
    interleave), for constant-folding literal points at compile time."""
    def cell(coord, offset, span):
        import math

        raw = math.floor((coord + offset) / span * float(2**_GH_AXIS_BITS))
        return max(0, min(int(raw), 2**_GH_AXIS_BITS - 1))

    lat_i, lon_i = cell(lat, 90.0, 180.0), cell(lon, 180.0, 360.0)
    out = []
    for c in range(GEOHASH_PRECISION):
        idx = 0
        for j in range(5):
            g = 5 * c + j
            axis, b = (lon_i, g // 2) if g % 2 == 0 else (lat_i, g // 2)
            idx |= ((axis >> (_GH_AXIS_BITS - 1 - b)) & 1) << (4 - j)
        out.append(GEOHASH_ALPHABET[idx])
    return "".join(out)


def geohash_decode_py(gh: str) -> tuple[float, float]:
    """Driver-side twin of geohash_decode (cell center), for
    constant-folding literal geohash strings at compile time."""
    lat_i = lon_i = 0
    for c, ch in enumerate(gh[:GEOHASH_PRECISION]):
        v = GEOHASH_ALPHABET.index(ch)
        for j in range(5):
            g = 5 * c + j
            bit = (v >> (4 - j)) & 1
            if g % 2 == 0:
                lon_i |= bit << (_GH_AXIS_BITS - 1 - g // 2)
            else:
                lat_i |= bit << (_GH_AXIS_BITS - 1 - g // 2)
    scale_lat = 180.0 / float(2**_GH_AXIS_BITS)
    scale_lon = 360.0 / float(2**_GH_AXIS_BITS)
    return (
        -90.0 + (lat_i + 0.5) * scale_lat,
        -180.0 + (lon_i + 0.5) * scale_lon,
    )


def geohash_decode(gh: Column) -> tuple[Column, Column]:
    """(lat, lon) cell-center columns of a precision-12 geohash —
    GeohashUtils.decode semantics (center of the encoded cell)."""
    charmap = F.create_map(
        *[
            lit
            for i, c in enumerate(GEOHASH_ALPHABET)
            for lit in (F.lit(c), F.lit(i).cast("long"))
        ]
    )
    lat_i: Column | None = None
    lon_i: Column | None = None
    for c in range(GEOHASH_PRECISION):
        v = F.element_at(charmap, F.substring(gh, c + 1, 1))
        for j in range(5):
            g = 5 * c + j
            bit = F.shiftright(v, 4 - j).bitwiseAND(F.lit(1).cast("long"))
            b = g // 2  # axis bit position (MSB first)
            weighted = bit * F.lit(
                1 << (_GH_AXIS_BITS - 1 - b)
            ).cast("long")
            if g % 2 == 0:
                lon_i = weighted if lon_i is None else lon_i + weighted
            else:
                lat_i = weighted if lat_i is None else lat_i + weighted
    scale_lat = 180.0 / float(2**_GH_AXIS_BITS)
    scale_lon = 360.0 / float(2**_GH_AXIS_BITS)
    lat = F.lit(-90.0) + (lat_i.cast("double") + F.lit(0.5)) * F.lit(scale_lat)
    lon = F.lit(-180.0) + (lon_i.cast("double") + F.lit(0.5)) * F.lit(scale_lon)
    return lat, lon


def with_synthetic_coords(docs: DataFrame) -> DataFrame:
    """Deterministic lat/lon derived from doc_id (the driver tables
    carry no coordinates; both engine and oracle derive the SAME values
    from the same integer arithmetic, so the operator is fully gated)."""
    lat = (F.pmod(F.col("doc_id") * F.lit(37), F.lit(1800)) / 10.0) - 90.0
    lon = (F.pmod(F.col("doc_id") * F.lit(73), F.lit(3600)) / 10.0) - 180.0
    return docs.withColumn("lat", lat).withColumn("lon", lon)


# --- prefix-tree strategy (RecursivePrefixTreeStrategy) ----------------


def _gh_spans(precision: int) -> tuple[float, float]:
    """(lat_span, lon_span) degrees of one geohash cell at the given
    precision — lon takes the ceil half of the 5p bits (interleave
    starts with lon)."""
    bits = 5 * precision
    lon_bits = (bits + 1) // 2
    lat_bits = bits // 2
    return 180.0 / (1 << lat_bits), 360.0 / (1 << lon_bits)


def cover_cells(
    lat: float, lon: float, d_km: float, max_cells: int = 64
) -> tuple[int, list[str]]:
    """Geohash prefixes covering the query circle — the grid-cell
    enumeration of RecursivePrefixTreeFilter.java (lucene/spatial/.../
    prefix/RecursivePrefixTreeFilter.java:90-150: descend the SPT until
    cells are small enough, collect covering cells). Picks the finest
    precision whose cover stays within ``max_cells`` (the
    prefixGridScanLevel analogue), enumerates the circle's bounding
    box on that grid, and returns the cell prefixes. The cover is
    COMPLETE (every point within d lies in some returned cell), so
    pruning by it can never drop a true match."""
    dlat = math.degrees(d_km / EARTH_RADIUS_KM)
    coslat = math.cos(math.radians(lat))
    dlon = 180.0 if coslat <= 1e-9 else math.degrees(
        d_km / (EARTH_RADIUS_KM * coslat)
    )
    lat_min = max(-90.0, lat - dlat)
    lat_max = min(90.0, lat + dlat)
    lon_min = max(-180.0, lon - dlon)
    lon_max = min(180.0, lon + dlon)
    best = (1, None)
    for p in range(1, 8):
        lat_span, lon_span = _gh_spans(p)
        n_lat = int((lat_max - lat_min) / lat_span) + 2
        n_lon = int((lon_max - lon_min) / lon_span) + 2
        if n_lat * n_lon > max_cells:
            break
        best = (p, (lat_span, lon_span, n_lat, n_lon))
    p, dims = best
    if dims is None:
        lat_span, lon_span = _gh_spans(1)
        dims = (
            lat_span,
            lon_span,
            int((lat_max - lat_min) / lat_span) + 2,
            int((lon_max - lon_min) / lon_span) + 2,
        )
    lat_span, lon_span, n_lat, n_lon = dims
    # snap to the grid so enumeration starts at the containing cell
    lat0 = math.floor((lat_min + 90.0) / lat_span) * lat_span - 90.0
    lon0 = math.floor((lon_min + 180.0) / lon_span) * lon_span - 180.0
    cells: list[str] = []
    seen = set()
    for i in range(n_lat):
        clat = min(89.9999999, max(-90.0, lat0 + (i + 0.5) * lat_span))
        if clat - lat_span > lat_max:
            continue
        for j in range(n_lon):
            clon = lon0 + (j + 0.5) * lon_span
            if clon > 180.0:
                clon -= 360.0
            gh = geohash_encode_py(clat, clon)[:p]
            if gh not in seen:
                seen.add(gh)
                cells.append(gh)
    return p, cells


def geofilt_prefix(
    docs: DataFrame,
    lat: float,
    lon: float,
    d_km: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    gh_col: str | None = None,
    max_cells: int = 64,
) -> DataFrame:
    """{!geofilt} through the prefix-tree index path
    (RecursivePrefixTreeStrategy.java / TermQueryPrefixTreeStrategy.
    java): candidate docs are pruned by covering-geohash-prefix
    membership BEFORE the exact haversine verify — with a stored
    ``gh_col`` the IN-prefix predicate pushes into the parquet scan,
    so at 10^12 points only the cover cells' row groups decode.
    Identical results to :func:`geofilt` (the cover is complete;
    false-positive cells are removed by the exact verify)."""
    p, cells = cover_cells(lat, lon, d_km, max_cells)
    if gh_col is not None:
        # stored geohash: OR of startswith predicates — Catalyst
        # translates each to a parquet StringStartsWith pushed filter
        # (range [prefix, prefix+0xff)), so row groups outside the
        # cover never leave disk
        cond = F.col(gh_col).startswith(cells[0])
        for c in cells[1:]:
            cond = cond | F.col(gh_col).startswith(c)
        pruned = docs.where(cond)
    else:
        gh = geohash_encode(F.col(lat_col), F.col(lon_col))
        pruned = docs.where(F.substring(gh, 1, p).isin(cells))
    return geofilt(pruned, lat, lon, d_km, lat_col, lon_col)
