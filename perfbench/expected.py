"""The expected change set of a generated input, computed without Spark.

``reference_model.conflate`` is the repo's sequential O(n^2) oracle.  At
benchmark sizes one call would take minutes, so it is called once per
connected component of the input.  Two points are linked when they lie
within the largest match radius (or the duplicate distance) of each
other.  No step of the reference dataflow relates points further apart
than that: spatial dedup, the vicinity set and the candidate pairs are
radius-limited, and every other step looks at one point.  Greedy
one-to-one matching splits over components too, because no candidate
pair crosses one.  Ref-dedup (keep the first row of an id) is the one
global step, so it runs once before the split.

The links come from a numpy prefilter that keeps a superset of the
close pairs.  Extra links only merge components, so the changes are
exactly the reference's; every decision is still made by
``reference_model`` itself.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from osm_conflate_spark import reference_model as rm
from osm_conflate_spark.config import ConflateConfig
from osm_conflate_spark.gen import parse_tags_raw


def _close_pairs(lat: np.ndarray, lon: np.ndarray, r: float):
    """Index pairs (i, j) of points within about ``r`` metres of each
    other: every pair ``rm.distance`` puts within ``r``, and maybe more.
    ``rm.distance`` is at least EARTH_R * |dlat| in radians, so a lat
    window bounds the search."""
    order = np.argsort(lat, kind="stable")
    la = lat[order]
    hi = np.searchsorted(la, la + np.degrees(r / rm.EARTH_R), side="right")
    n_after = hi - np.arange(len(la)) - 1
    i = np.repeat(np.arange(len(la)), n_after)
    start = np.cumsum(n_after) - n_after
    j = i + 1 + np.arange(len(i)) - np.repeat(start, n_after)
    a, b = order[i], order[j]
    dx = np.radians(lon[a] - lon[b]) * np.cos(0.5 * np.radians(lat[a] + lat[b]))
    dy = np.radians(lat[a] - lat[b])
    keep = rm.EARTH_R * np.sqrt(dx * dx + dy * dy) <= r
    return a[keep], b[keep]


def _components(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """A component label per node: the smallest node id reachable over
    the edges (a, b)."""
    lab = np.arange(n)
    while True:
        new = lab.copy()
        m = np.minimum(lab[a], lab[b])
        np.minimum.at(new, a, m)
        np.minimum.at(new, b, m)
        new = new[new]
        if np.array_equal(new, lab):
            return lab
        lab = new


def conflate_changes(ds: pd.DataFrame, osm: pd.DataFrame,
                     cfg: ConflateConfig) -> list[dict]:
    """``reference_model.conflate(...)["changes"]`` for generator frames
    (``tags_raw`` columns), one connected component at a time."""
    assert cfg.matches is None and cfg.weight is None  # no cross-point hooks
    points, _dropped = rm.ref_dedup([
        rm.SourcePoint(r.id, float(r.lat), float(r.lon), parse_tags_raw(r.tags_raw),
                       r.category)
        for r in ds.itertuples()
    ])
    osm_points = [
        rm.OSMPoint(r.osm_type, int(r.osm_id), int(r.version), float(r.lat),
                    float(r.lon), parse_tags_raw(r.tags_raw))
        for r in osm.itertuples()
    ]
    n = len(points)
    reach = max([cfg.max_distance, cfg.duplicate_distance,
                 *cfg.category_radii.values()])
    lat = np.array([p.lat for p in points] + [p.lat for p in osm_points])
    lon = np.array([p.lon for p in points] + [p.lon for p in osm_points])
    a, b = _close_pairs(lat, lon, reach * (1 + 1e-6) + 1e-3)
    either_ds = (a < n) | (b < n)  # OSM-OSM links decide nothing
    lab = _components(len(lat), a[either_ds], b[either_ds])

    changes: list[dict] = []
    order = np.argsort(lab, kind="stable")
    bounds = np.flatnonzero(np.diff(lab[order])) + 1
    lonely_osm = []
    for comp in np.split(order, bounds):
        sub_ds = [points[k] for k in comp if k < n]
        sub_osm = [osm_points[k - n] for k in comp if k >= n]
        if sub_ds:
            changes += rm.conflate(sub_ds, sub_osm, cfg)["changes"]
        else:
            lonely_osm += sub_osm
    # OSM points with no dataset point near them, in one call (O(m))
    changes += rm.conflate([], lonely_osm, cfg)["changes"]
    return changes
