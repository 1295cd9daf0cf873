"""CRS reprojection (reference X1/X2, io.py:238-309) without pyproj.

The reference ALWAYS reprojects the label to the image CRS with
nearest-neighbor resampling. This module implements the two projections the
synthetic fixtures use — equirectangular lon/lat (EPSG:4326-like) and
spherical Web-Mercator (EPSG:3857-like, public formulas) — plus:

- `reproject_points`: vectorized numpy forward/inverse transforms for
  vector geometry (X2: gdf.to_crs analog);
- `reproject_raster_nearest`: nearest-neighbor regrid between two affine
  frames (X1: warp.reproject(..., Resampling.nearest) analog): for every
  destination pixel center, invert to source coordinates and take the
  nearest source pixel, 255-fill outside (the reference's label fill).

Spherical-mercator formulas (public): x = R*lon_rad,
y = R*ln(tan(pi/4 + lat_rad/2)), R = 6378137.
"""

from __future__ import annotations

import numpy as np

R = 6378137.0
MAX_LAT = 85.05112878  # mercator validity bound


def lonlat_to_mercator(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_LAT, MAX_LAT)
    x = R * np.radians(lon)
    y = R * np.log(np.tan(np.pi / 4 + np.radians(lat) / 2))
    return x, y


def mercator_to_lonlat(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    lon = np.degrees(np.asarray(x, dtype=np.float64) / R)
    lat = np.degrees(2 * np.arctan(np.exp(np.asarray(y, dtype=np.float64) / R)) - np.pi / 2)
    return lon, lat


_TRANSFORMS = {
    ("EPSG:4326", "EPSG:3857"): lonlat_to_mercator,
    ("EPSG:3857", "EPSG:4326"): mercator_to_lonlat,
}


def reproject_points(
    xs: np.ndarray, ys: np.ndarray, src_crs: str, dst_crs: str
) -> tuple[np.ndarray, np.ndarray]:
    """X2: vectorized point reprojection; identity when CRS match."""
    if src_crs == dst_crs:
        return np.asarray(xs, dtype=np.float64), np.asarray(ys, dtype=np.float64)
    try:
        fn = _TRANSFORMS[(src_crs, dst_crs)]
    except KeyError:
        raise ValueError(f"unsupported CRS pair {src_crs} -> {dst_crs}") from None
    return fn(xs, ys)


def reproject_raster_nearest(
    src: np.ndarray,
    src_transform: tuple[float, float, float, float],  # (x0, dx, y0, dy)
    dst_shape: tuple[int, int],
    dst_transform: tuple[float, float, float, float],
    src_crs: str,
    dst_crs: str,
    fill: int = 255,
) -> np.ndarray:
    """X1: nearest-neighbor regrid. Transforms are axis-aligned affine
    (origin + pixel size), the only kind the reference's fixtures use.
    Pixels whose inverse-projected center falls outside the source grid get
    `fill` (255 = the reference's label nodata, io.py:704-706)."""
    h, w = dst_shape
    x0, dx, y0, dy = dst_transform
    xs = x0 + (np.arange(w) + 0.5) * dx
    ys = y0 + (np.arange(h) + 0.5) * dy
    gx, gy = np.meshgrid(xs, ys)
    sx, sy = reproject_points(gx.ravel(), gy.ravel(), dst_crs, src_crs)
    sx0, sdx, sy0, sdy = src_transform
    col = np.floor((sx - sx0) / sdx).astype(np.int64)
    row = np.floor((sy - sy0) / sdy).astype(np.int64)
    ok = (col >= 0) & (col < src.shape[1]) & (row >= 0) & (row < src.shape[0])
    out = np.full(h * w, fill, dtype=src.dtype)
    out[ok] = src[row[ok], col[ok]]
    return out.reshape(h, w)
