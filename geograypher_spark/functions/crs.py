"""CRS transforms in pure numpy (no PROJ in this container).

Reference X1/X2 (``meshes/meshes.py:230-285``, ``utils/geospatial.py:51-71``):
the pipelines reproject between geodetic lon/lat (EPSG:4326), Earth-centered
ECEF (EPSG:4978) and a working UTM zone. Implemented from the published
WGS84 / transverse-Mercator equations (Karney-style series, standard
textbook forms):

- geodetic ↔ ECEF: closed form + Bowring's iteration for the inverse
- geodetic ↔ UTM: 6th-order Krüger series (sub-mm accuracy in-zone)
- UTM EPSG code from lon/lat: the reference's arithmetic formula

All vectorized; pUDF wrappers at the bottom. Round-trip accuracy is tested
to < 1e-8 m (ECEF) and < 1e-6 m (UTM).
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level so pandas_udf string type hints resolve

# WGS84
_A = 6378137.0
_F = 1.0 / 298.257223563
_E2 = _F * (2 - _F)
_B = _A * (1 - _F)

# UTM / transverse Mercator
_K0 = 0.9996
_E0 = 500000.0      # false easting
_N0_SOUTH = 10000000.0

# Krüger series: n = third flattening
_N = _F / (2 - _F)
# meridian-arc scaling
_A_CAP = _A / (1 + _N) * (1 + _N**2 / 4 + _N**4 / 64 + _N**6 / 256)
# forward series alpha_j (to n^6)
_ALPHA = np.array([
    _N / 2 - 2 * _N**2 / 3 + 5 * _N**3 / 16 + 41 * _N**4 / 180 - 127 * _N**5 / 288 + 7891 * _N**6 / 37800,
    13 * _N**2 / 48 - 3 * _N**3 / 5 + 557 * _N**4 / 1440 + 281 * _N**5 / 630 - 1983433 * _N**6 / 1935360,
    61 * _N**3 / 240 - 103 * _N**4 / 140 + 15061 * _N**5 / 26880 + 167603 * _N**6 / 181440,
    49561 * _N**4 / 161280 - 179 * _N**5 / 168 + 6601661 * _N**6 / 7257600,
    34729 * _N**5 / 80640 - 3418889 * _N**6 / 1995840,
    212378941 * _N**6 / 319334400,
])
# inverse series beta_j
_BETA = np.array([
    _N / 2 - 2 * _N**2 / 3 + 37 * _N**3 / 96 - _N**4 / 360 - 81 * _N**5 / 512 + 96199 * _N**6 / 604800,
    _N**2 / 48 + _N**3 / 15 - 437 * _N**4 / 1440 + 46 * _N**5 / 105 - 1118711 * _N**6 / 3870720,
    17 * _N**3 / 480 - 37 * _N**4 / 840 - 209 * _N**5 / 4480 + 5569 * _N**6 / 90720,
    4397 * _N**4 / 161280 - 11 * _N**5 / 504 - 830251 * _N**6 / 7257600,
    4583 * _N**5 / 161280 - 108847 * _N**6 / 3991680,
    20648693 * _N**6 / 638668800,
])


def utm_epsg_from_lonlat(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """The reference's arithmetic EPSG formula (``utils/geospatial.py:51-57``):
    32700 - round((45+lat)/90)*100 + round((183+lon)/6)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    return (32700 - np.round((45 + lat) / 90) * 100
            + np.round((183 + lon) / 6)).astype(np.int64)


def geodetic_to_ecef(lon: np.ndarray, lat: np.ndarray, h: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    lon = np.radians(np.asarray(lon, dtype=np.float64))
    lat = np.radians(np.asarray(lat, dtype=np.float64))
    h = np.asarray(h, dtype=np.float64)
    sin_lat, cos_lat = np.sin(lat), np.cos(lat)
    n = _A / np.sqrt(1 - _E2 * sin_lat**2)
    x = (n + h) * cos_lat * np.cos(lon)
    y = (n + h) * cos_lat * np.sin(lon)
    z = (n * (1 - _E2) + h) * sin_lat
    return x, y, z


def ecef_to_geodetic(x: np.ndarray, y: np.ndarray, z: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Bowring's method + 2 Newton refinements (≪ 1e-9 m error)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    lon = np.arctan2(y, x)
    p = np.hypot(x, y)
    # Bowring initial
    theta = np.arctan2(z * _A, p * _B)
    e2p = (_A**2 - _B**2) / _B**2
    lat = np.arctan2(z + e2p * _B * np.sin(theta)**3,
                     p - _E2 * _A * np.cos(theta)**3)
    for _ in range(2):
        sin_lat = np.sin(lat)
        n = _A / np.sqrt(1 - _E2 * sin_lat**2)
        h = p / np.cos(lat) - n
        lat = np.arctan2(z, p * (1 - _E2 * n / (n + h)))
    sin_lat = np.sin(lat)
    n = _A / np.sqrt(1 - _E2 * sin_lat**2)
    h = p / np.cos(lat) - n
    return np.degrees(lon), np.degrees(lat), h


def _utm_lon0(zone: int) -> float:
    return np.radians(zone * 6.0 - 183.0)


def geodetic_to_utm(lon: np.ndarray, lat: np.ndarray, zone: int, south: bool = False) -> tuple[np.ndarray, np.ndarray]:
    """Krüger forward series → (easting, northing)."""
    lam = np.radians(np.asarray(lon, dtype=np.float64)) - _utm_lon0(zone)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    # conformal latitude
    t = np.sinh(np.arctanh(np.sin(phi))
                - 2 * np.sqrt(_N) / (1 + _N) * np.arctanh(
                    2 * np.sqrt(_N) / (1 + _N) * np.sin(phi)))
    xi = np.arctan2(t, np.cos(lam))
    eta = np.arcsinh(np.sin(lam) / np.hypot(t, np.cos(lam)))
    xs, es = xi.copy(), eta.copy()
    for j in range(6):
        xs = xs + _ALPHA[j] * np.sin(2 * (j + 1) * xi) * np.cosh(2 * (j + 1) * eta)
        es = es + _ALPHA[j] * np.cos(2 * (j + 1) * xi) * np.sinh(2 * (j + 1) * eta)
    easting = _E0 + _K0 * _A_CAP * es
    northing = _K0 * _A_CAP * xs + (_N0_SOUTH if south else 0.0)
    return easting, northing


def utm_to_geodetic(easting: np.ndarray, northing: np.ndarray, zone: int, south: bool = False) -> tuple[np.ndarray, np.ndarray]:
    """Krüger inverse series → (lon, lat) degrees."""
    x = (np.asarray(northing, dtype=np.float64) - (_N0_SOUTH if south else 0.0)) / (_K0 * _A_CAP)
    y = (np.asarray(easting, dtype=np.float64) - _E0) / (_K0 * _A_CAP)
    xs, es = x.copy(), y.copy()
    for j in range(6):
        xs = xs - _BETA[j] * np.sin(2 * (j + 1) * x) * np.cosh(2 * (j + 1) * y)
        es = es - _BETA[j] * np.cos(2 * (j + 1) * x) * np.sinh(2 * (j + 1) * y)
    chi = np.arcsin(np.sin(xs) / np.cosh(es))
    # invert the conformal latitude: find phi with chi(phi) = chi via the
    # fixed point phi ← phi − (chi(phi) − chi); converges quadratically-ish
    # since dchi/dphi ≈ 1 at geodetic latitudes
    phi = chi.copy()
    for _ in range(6):
        t = np.sinh(np.arctanh(np.sin(phi))
                    - 2 * np.sqrt(_N) / (1 + _N) * np.arctanh(
                        2 * np.sqrt(_N) / (1 + _N) * np.sin(phi)))
        phi = phi - (np.arctan(t) - chi)
    lam = np.arctan2(np.sinh(es), np.cos(xs))
    lon = np.degrees(lam + _utm_lon0(zone))
    lat = np.degrees(phi)
    return lon, lat


# ---------------------------------------------------------------------------
# pUDF wrappers
# ---------------------------------------------------------------------------

def register_udfs():
    """Build the pandas UDF wrappers lazily (needs an active session)."""

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.StructType([
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("z", T.DoubleType())]))
    def geodetic_to_ecef_udf(lon: pd.Series, lat: pd.Series, h: pd.Series) -> pd.DataFrame:
        x, y, z = geodetic_to_ecef(lon.to_numpy(), lat.to_numpy(), h.to_numpy())
        return pd.DataFrame({"x": x, "y": y, "z": z})

    @pandas_udf(T.StructType([
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("h", T.DoubleType())]))
    def ecef_to_geodetic_udf(x: pd.Series, y: pd.Series, z: pd.Series) -> pd.DataFrame:
        lon, lat, h = ecef_to_geodetic(x.to_numpy(), y.to_numpy(), z.to_numpy())
        return pd.DataFrame({"lon": lon, "lat": lat, "h": h})

    return geodetic_to_ecef_udf, ecef_to_geodetic_udf
