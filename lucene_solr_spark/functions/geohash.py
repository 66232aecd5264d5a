"""Geohash value sources: geohash(lat,lon) and ghhsin(radius,gh1,gh2)
(solr/core/src/java/org/apache/solr/search/function/distance/
GeohashFunction.java, GeohashHaversineFunction.java; ValueSourceParser.java
addParser("geohash"/"ghhsin")).

The geohash scheme is public knowledge (Niemeyer 2008): interleave
longitude/latitude range-halving bits MSB-first (lon takes the even
positions) and emit 5-bit groups as base-32 digits.  spatial4j's
GeohashUtils.encodeLatLon defaults to precision 12 (60 bits: 30 lon + 30
lat); decode returns the CELL CENTER.  ghhsin decodes both hashes and
returns the great-circle distance: spatial4j's
DistanceCalc.distance (degrees) * degrees2Dist(1, radius), which reduces to
haversine_central_angle * radius.

Catalyst realization: the iterative range-halving equals one fixed-point
quantization — ilat = floor((lat+90)/180 * 2^30) clamped to 2^30-1, ilon
likewise over 360 — so the encode is a flat JVM-side expression (bit
spread + 12 base-32 digit lookups), whole-stage-codegen friendly, no
Python in the loop.  The pure-Python twins (used by the DuckDB oracle
generator and pinned to published vectors in tests) are an independent
second realization."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"
PRECISION = 12  # spatial4j GeohashUtils.encodeLatLon default
_BITS = 5 * PRECISION  # 60
_HALF = _BITS // 2  # 30 bits each for lat/lon


# --- pure-Python reference (oracle generator + golden tests) --------------

def geohash_encode(lat: float, lon: float, precision: int = PRECISION) -> str:
    """Classic iterative range-halving encode — deliberately NOT the
    quantization form the Catalyst side uses, so the two realizations
    check each other."""
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    out = []
    bit, ch, even = 0, 0, True
    while len(out) < precision:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                ch = (ch << 1) | 1
                lon_lo = mid
            else:
                ch = ch << 1
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                ch = (ch << 1) | 1
                lat_lo = mid
            else:
                ch = ch << 1
                lat_hi = mid
        even = not even
        bit += 1
        if bit == 5:
            out.append(BASE32[ch])
            bit, ch = 0, 0
    return "".join(out)


def geohash_decode(gh: str) -> tuple[float, float]:
    """(lat, lon) CELL CENTER, as GeohashUtils.decode."""
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    even = True
    for c in gh:
        d = BASE32.index(c)
        for shift in range(4, -1, -1):
            bit = (d >> shift) & 1
            if even:
                mid = (lon_lo + lon_hi) / 2
                if bit:
                    lon_lo = mid
                else:
                    lon_hi = mid
            else:
                mid = (lat_lo + lat_hi) / 2
                if bit:
                    lat_lo = mid
                else:
                    lat_hi = mid
            even = not even
    return (lat_lo + lat_hi) / 2, (lon_lo + lon_hi) / 2


# --- Catalyst realization ---------------------------------------------------

def _quant(v: Column, lo: float, span: float, bits: int) -> Column:
    """floor((v - lo)/span * 2^bits), clamped into [0, 2^bits - 1] — the
    closed form of MSB-first range halving (the upper bound v == hi lands
    in the last cell, as the iterative form does)."""
    q = F.floor((v.cast("double") - F.lit(lo)) / F.lit(span) * F.lit(float(1 << bits)))
    return F.least(
        F.greatest(q.cast("long"), F.lit(0)), F.lit((1 << bits) - 1)
    )


def geohash_encode_col(lat: Column, lon: Column) -> Column:
    """geohash(lat,lon) at precision 12 as one flat JVM expression."""
    ilat = _quant(lat, -90.0, 180.0, _HALF)
    ilon = _quant(lon, -180.0, 360.0, _HALF)
    # interleave: bit b of ilon -> position 2b+1 from LSB of the 60-bit
    # word (lon leads MSB-first), bit b of ilat -> position 2b
    total = F.lit(0).cast("long")
    for b in range(_HALF):
        total = (
            total
            + F.shiftleft(F.shiftright(ilon, b).bitwiseAND(F.lit(1)), 2 * b + 1)
            + F.shiftleft(F.shiftright(ilat, b).bitwiseAND(F.lit(1)), 2 * b)
        )
    alphabet = F.array(*[F.lit(c) for c in BASE32])
    chars = []
    for i in range(PRECISION):
        d = F.shiftright(total, _BITS - 5 * (i + 1)).bitwiseAND(F.lit(31))
        chars.append(F.element_at(alphabet, d.cast("int") + 1))
    return F.concat(*chars)


def geohash_decode_cols(gh: Column) -> tuple[Column, Column]:
    """(lat_center, lon_center) of a precision-12 geohash column."""
    ilat, ilon = decode_quant_cols(gh)
    return center_from_quant(ilat, ilon)


def quant_cols(lat: Column, lon: Column) -> tuple[Column, Column]:
    """(ilat, ilon) 30-bit cell coordinates of a point — the encode's
    quantization WITHOUT the interleave/base-32 rendering.  ghhsin built
    on these avoids the decode(encode(...)) string round-trip whose nested
    Catalyst tree (the encode subtree duplicated once per de-interleaved
    bit) blows analysis memory; the de-interleave is the interleave's
    exact inverse, so cell centers from (ilat, ilon) are identical."""
    return _quant(lat, -90.0, 180.0, _HALF), _quant(lon, -180.0, 360.0, _HALF)


def quant_of_hash(gh: str) -> tuple[int, int]:
    """Python twin: (ilat, ilon) of a geohash string (driver-side literal
    decode)."""
    total = 0
    for c in gh:
        total = (total << 5) | BASE32.index(c)
    bits = 5 * len(gh)
    ilat = ilon = 0
    half = bits // 2
    for b in range(half):
        ilon |= ((total >> (2 * b + 1)) & 1) << b
        ilat |= ((total >> (2 * b)) & 1) << b
    return ilat, ilon


def center_from_quant(
    ilat: Column | int, ilon: Column | int, bits: int = _HALF
) -> tuple[Column, Column]:
    """Cell-center (lat, lon) from 30-bit cell coordinates."""
    if isinstance(ilat, int):
        ilat = F.lit(ilat)
    if isinstance(ilon, int):
        ilon = F.lit(ilon)
    lat = (ilat.cast("double") + F.lit(0.5)) / F.lit(float(1 << bits)) * F.lit(
        180.0
    ) - F.lit(90.0)
    lon = (ilon.cast("double") + F.lit(0.5)) / F.lit(float(1 << bits)) * F.lit(
        360.0
    ) - F.lit(180.0)
    return lat, lon


def decode_quant_cols(gh: Column) -> tuple[Column, Column]:
    """(ilat, ilon) cell coordinates of a precision-12 geohash COLUMN (the
    heavy bit de-interleave — only for hashes stored as plain columns;
    geohash(...) sub-expressions and literals never take this path)."""
    alphabet = F.array(*[F.lit(c) for c in BASE32])
    total = F.lit(0).cast("long")
    for i in range(PRECISION):
        ch = F.substring(gh, i + 1, 1)
        d = (F.array_position(alphabet, ch) - 1).cast("long")
        total = total + F.shiftleft(d, _BITS - 5 * (i + 1))
    ilat = F.lit(0).cast("long")
    ilon = F.lit(0).cast("long")
    for b in range(_HALF):
        ilon = ilon + F.shiftleft(
            F.shiftright(total, 2 * b + 1).bitwiseAND(F.lit(1)), b
        )
        ilat = ilat + F.shiftleft(
            F.shiftright(total, 2 * b).bitwiseAND(F.lit(1)), b
        )
    return ilat, ilon


def ghhsin_from_quants(
    radius: float,
    q1: tuple[Column | int, Column | int],
    q2: tuple[Column | int, Column | int],
) -> Column:
    """GeohashHaversineFunction over cell coordinates: equal cells (== the
    reference's equal-string short-circuit at fixed precision) -> 0.0,
    else great-circle distance between cell CENTERS on a sphere of
    ``radius`` (distance-in-degrees * degrees2Dist(1, radius) reduces to
    central-angle * radius)."""
    from lucene_solr_spark.functions.value_sources import _haversine

    def _c(v):
        return F.lit(v) if isinstance(v, int) else v

    ilat1, ilon1 = _c(q1[0]), _c(q1[1])
    ilat2, ilon2 = _c(q2[0]), _c(q2[1])
    lat1, lon1 = center_from_quant(ilat1, ilon1)
    lat2, lon2 = center_from_quant(ilat2, ilon2)
    dist = F.lit(radius) * _haversine(
        F.radians(lat1), F.radians(lon1), F.radians(lat2), F.radians(lon2)
    )
    return F.when(
        (ilat1 == ilat2) & (ilon1 == ilon2), F.lit(0.0)
    ).otherwise(dist)
