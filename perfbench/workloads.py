"""Seeded, cached inputs for the conflation benchmark.

Every input is a pure function of ``(workload, size, seed)`` and the
generator parameters below.  Generation uses the library's own
generators (``osm_conflate_spark.gen``); the hotspot relocation lives
here, outside the program, with its seed, square size and share as
parameters.  Tables are written as parquet with pyarrow (no Spark
session needed) under a cache directory keyed by all of them, together
with the change summary the reference oracle expects for them
(``expected.py``), so a repeated seed reads both back instead of
generating them again.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Workload:
    name: str
    #: "pages" feeds html pages through extraction; "points" feeds
    #: pre-extracted dataset points and writes every output as parquet
    source: str
    #: dataset points before the generator's injected duplicates
    n: int
    #: share of points relocated into the hot square (0 = none)
    hot_share: float = 0.0
    #: edge of the hot square in metres
    hot_square_m: float = 2000.0


# Sizes fit a 4-core, 15 GB box and the benchmark's time budget: below
# about 50k points a warm run is dominated by per-job fixed cost, so the
# sizes stay small and the hotspot concentrates enough pairs in one
# super-block to exceed the benchmark's salt cap (see conflate_config).
# BENCHMARK.json lists pages_hotspot and points_out and says why;
# pages_uniform is the bench.py shape without the hotspot, which the
# benchmark's own tests run against the oracle and against points_out.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("pages_uniform", "pages", 10_000),
        Workload("pages_hotspot", "pages", 10_000, hot_share=0.10, hot_square_m=500.0),
        Workload("points_out", "points", 10_000),
    )
}

#: the library's default salt cap (1M pairs) is sized for 600k-6M pages;
#: at these sizes the cap is scaled down so the skew guard fires on the
#: hotspot and nowhere else.  Hot-square pairs grow with n^2, so a run at
#: another size scales the cap by the same factor.
SALT_CAP_PAIRS = 50_000
SALT_CAP_AT_N = 10_000


def conflate_config(w: Workload) -> dict:
    """ConflateConfig overrides for a workload: the defaults except the
    salt cap."""
    cap = SALT_CAP_PAIRS * (w.n / SALT_CAP_AT_N) ** 2
    return dict(salt_cap_pairs=max(1, int(cap)))


# the hot square sits inside the Moscow city cluster, as bench.py's
# skew fixture does
HOT_CENTER = (55.75, 37.61)

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("lang", pa.string()),
])
POINTS_SCHEMA = pa.schema([
    ("id", pa.string()), ("lat", pa.float64()), ("lon", pa.float64()),
    ("tags", pa.map_(pa.string(), pa.string())),
    ("category", pa.string()), ("remarks", pa.string()), ("url", pa.string()),
])
OSM_SCHEMA = pa.schema([
    ("osm_type", pa.string()), ("osm_id", pa.int64()), ("version", pa.int32()),
    ("lat", pa.float64()), ("lon", pa.float64()), ("tags_raw", pa.string()),
])


def generate(w: Workload, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(dataset points, osm points) as generator frames (tags_raw)."""
    from osm_conflate_spark.functions.sqlgen import M_PER_DEG
    from osm_conflate_spark.gen import gen_dataset, gen_osm

    ds = gen_dataset(w.n, seed=seed)
    if w.hot_share > 0:
        rng = np.random.default_rng([seed, 2])
        n_hot = int(round(w.n * w.hot_share))
        # a seeded random subset (not a prefix) keeps the injected
        # duplicate rows spread like the rest
        idx = rng.choice(len(ds), size=n_hot, replace=False)
        clat, clon = HOT_CENTER
        half = w.hot_square_m / 2.0
        dlat = half / M_PER_DEG
        dlon = half / (M_PER_DEG * np.cos(np.radians(clat)))
        ds.loc[idx, "lat"] = clat + rng.uniform(-1, 1, n_hot) * dlat
        ds.loc[idx, "lon"] = clon + rng.uniform(-1, 1, n_hot) * dlon
    osm = gen_osm(ds, seed=seed + 1)
    return ds, osm


def _write(df: pd.DataFrame, schema: pa.Schema, path: str, files: int) -> None:
    """Parquet directory of ``files`` parts, so the scan is parallel."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), files)):
        table = pa.Table.from_pandas(
            df.iloc[part][schema.names], schema=schema, preserve_index=False
        )
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def input_key(w: Workload, seed: int) -> str:
    """Names the generated points: pages and points workloads of one size
    and seed share it, so their outputs are checked against each other."""
    hot = f"-hot{w.hot_share:g}x{w.hot_square_m:g}m" if w.hot_share else ""
    return f"n{w.n}{hot}-s{seed}"


def expected_summary(w: Workload, ds: pd.DataFrame, osm: pd.DataFrame,
                     pages: pd.DataFrame | None) -> dict:
    """The reference oracle's change summary for the generated frames.
    Pages: the oracle starts from the coordinates the extractor parses
    out of the html, which are not always correctly rounded (one ulp off
    the generator's for some points)."""
    import check
    import expected
    from osm_conflate_spark.config import ConflateConfig

    if pages is not None:
        from osm_conflate_spark.sources.extract import extract_poi

        poi = extract_poi(pages["html"])
        assert (poi["poi_id"].to_numpy() == ds["id"].to_numpy()).all()
        ds = ds.assign(lat=poi["poi_lat"].to_numpy(), lon=poi["poi_lon"].to_numpy())
    cfg = ConflateConfig(**conflate_config(w))
    return check.oracle_summary(expected.conflate_changes(ds, osm, cfg))


def ensure_inputs(w: Workload, seed: int, cache_dir: str,
                  files: int = 8) -> tuple[dict, int, dict]:
    """(paths, input rows, expected change summary) of the workload's
    tables, generated on first use."""
    key = input_key(w, seed)
    root = os.path.join(cache_dir, "inputs", f"{w.source}-{key}")
    paths = {"source": os.path.join(root, w.source),
             "osm": os.path.join(root, "osm")}
    done = os.path.join(root, "DONE")
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        ds, osm = generate(w, seed)
        pages = None
        if w.source == "pages":
            from osm_conflate_spark.gen import gen_pages

            pages = gen_pages(ds, seed=seed)
            _write(pages, PAGES_SCHEMA, paths["source"], files)
        else:
            from osm_conflate_spark.gen import parse_tags_raw

            pts = ds.assign(tags=[list(parse_tags_raw(t).items())
                                  for t in ds["tags_raw"]])
            _write(pts, POINTS_SCHEMA, paths["source"], files)
        _write(osm, OSM_SCHEMA, paths["osm"], files)
        with open(done, "w") as f:
            json.dump(dict(asdict(w), seed=seed, rows=len(ds),
                           expected=expected_summary(w, ds, osm, pages)), f)
    with open(done) as f:
        meta = json.load(f)
    return paths, meta["rows"], meta["expected"]
