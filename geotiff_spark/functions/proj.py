"""Map projections needed by the test oracle, vectorized numpy.

The reference's transform tests project capital coordinates EPSG:4326 →
EPSG:3035 with the external `proj` crate (dev-dependency only,
/root/reference/tests/transform.rs:124-137). That CRS is ETRS89-extended /
LAEA Europe: Lambert Azimuthal Equal-Area on GRS80, lat_0=52, lon_0=10,
x_0=4321000, y_0=3210000. Formulas are the standard ellipsoidal LAEA from
Snyder, *Map Projections — A Working Manual* (USGS PP 1395, pp. 187-190) —
closed-form, no series truncation, so results agree with PROJ to sub-mm.
"""

from __future__ import annotations

import numpy as np

# GRS80
_A = 6378137.0
_F = 1.0 / 298.257222101
_E2 = _F * (2.0 - _F)
_E = np.sqrt(_E2)


def _q(sin_phi: np.ndarray) -> np.ndarray:
    """Authalic q (Snyder 3-12)."""
    esin = _E * sin_phi
    return (1.0 - _E2) * (
        sin_phi / (1.0 - _E2 * sin_phi * sin_phi)
        - (1.0 / (2.0 * _E)) * np.log((1.0 - esin) / (1.0 + esin))
    )


# EPSG:3035 (ETRS89-extended / LAEA Europe): origin and false origin.
LON0_DEG, LAT0_DEG = 10.0, 52.0
FALSE_EASTING, FALSE_NORTHING = 4321000.0, 3210000.0


def laea_constants() -> dict[str, float]:
    """Point-independent EPSG:3035 LAEA terms (qp, beta1 trig, rq, d…):
    laea_forward's own, and embedded into ANSI-SQL oracles with only
    per-point trig left to the SQL engine."""
    lat0 = np.radians(LAT0_DEG)
    qp = float(_q(np.array(1.0)))
    q1 = float(_q(np.sin(lat0)))
    beta1 = np.arcsin(q1 / qp)
    rq = _A * np.sqrt(qp / 2.0)
    m1 = np.cos(lat0) / np.sqrt(1.0 - _E2 * np.sin(lat0) ** 2)
    d = _A * m1 / (rq * np.cos(beta1))
    return {
        "e": float(_E),
        "e2": float(_E2),
        "qp": qp,
        "sin_beta1": float(np.sin(beta1)),
        "cos_beta1": float(np.cos(beta1)),
        "rq": float(rq),
        "d": float(d),
        "lon0": float(np.radians(LON0_DEG)),
        "fe": FALSE_EASTING,
        "fn": FALSE_NORTHING,
    }


def laea_forward(lon_deg, lat_deg):
    """Ellipsoidal LAEA forward (Snyder 24-2..24-8, 3-11, 3-12) to
    EPSG:3035. Returns (x, y) float64 arrays.
    """
    c = laea_constants()
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64))
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    beta = np.arcsin(np.clip(_q(np.sin(lat)) / c["qp"], -1.0, 1.0))
    dlon = lon - c["lon0"]
    b = c["rq"] * np.sqrt(
        2.0
        / (
            1.0
            + c["sin_beta1"] * np.sin(beta)
            + c["cos_beta1"] * np.cos(beta) * np.cos(dlon)
        )
    )
    d = c["d"]
    x = c["fe"] + b * d * np.cos(beta) * np.sin(dlon)
    y = c["fn"] + (b / d) * (
        c["cos_beta1"] * np.sin(beta) - c["sin_beta1"] * np.cos(beta) * np.cos(dlon)
    )
    return x, y
