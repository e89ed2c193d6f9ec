"""Single-thread microbenches of the numpy kernels on fixed arrays.

Each kernel is called the way its operator calls it (the TOA kernels
on 64-row strips of a 512x512 tile, the spatial helpers on 100k
points) and timed as the median of repeated calls. Bytes per pixel
are computed from the arrays each call reads and returns."""

from __future__ import annotations

import time

import numpy as np

from rio_toa_spark.functions import kernels, mtl, sun
from rio_toa_spark.sources import fixtures as fx
from rio_toa_spark.spatial import cells, index

STRIP = 64
SIDE = 512


def _median_call_s(fn, budget_s: float = 0.25, min_calls: int = 5) -> float:
    times = []
    end = time.perf_counter() + budget_s
    while len(times) < min_calls or time.perf_counter() < end:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def _nbytes(*arrays) -> int:
    return sum(np.asarray(a).nbytes for a in arrays)


def run(scenes: list[tuple[str, dict]], tile_bounds: np.ndarray) -> dict[str, float]:
    rng = np.random.default_rng(0)
    dn = rng.integers(1, 60000, size=(SIDE, SIDE), dtype=np.uint16)
    dn[:20] = 0
    sid, m = scenes[0]
    l1 = m["L1_METADATA_FILE"]
    rr, pm, tc = l1["RADIOMETRIC_RESCALING"], l1["PRODUCT_METADATA"], l1["TIRS_THERMAL_CONSTANTS"]
    bbox = list(fx.scene_bounds(m))
    strips = [(r0, r0 + STRIP) for r0 in range(0, SIDE, STRIP)]
    px = SIDE * SIDE
    out: dict[str, float] = {}
    moved: dict[str, int] = {}

    def radiance():
        for r0, r1 in strips:
            res = kernels.radiance(dn[r0:r1], rr["RADIANCE_MULT_BAND_5"], rr["RADIANCE_ADD_BAND_5"], 0)
        moved["radiance"] = len(strips) * _nbytes(dn[r0:r1], res)

    elev = [sun.sun_elevation_rows(bbox, (SIDE, SIDE), r0, r1, pm["DATE_ACQUIRED"], pm["SCENE_CENTER_TIME"])
            .reshape(r1 - r0, SIDE, 1) for r0, r1 in strips]

    def reflectance():
        for (r0, r1), e in zip(strips, elev):
            data = dn[r0:r1].astype(np.float32)[np.newaxis, :, :]
            res = kernels.reflectance(data, [rr["REFLECTANCE_MULT_BAND_4"]], [rr["REFLECTANCE_ADD_BAND_4"]], e, 0)
        moved["reflectance"] = len(strips) * _nbytes(dn[r0:r1], e, res)

    def brightness_temp():
        for r0, r1 in strips:
            res = kernels.brightness_temp(
                dn[r0:r1], rr["RADIANCE_MULT_BAND_10"], rr["RADIANCE_ADD_BAND_10"],
                tc["K1_CONSTANT_BAND_10"], tc["K2_CONSTANT_BAND_10"], 0)
        moved["brightness_temp"] = len(strips) * _nbytes(dn[r0:r1], res)

    lum = [kernels.radiance(dn[r0:r1], 0.00002, -0.1, 0) for r0, r1 in strips]

    def rescale():
        for x in lum:
            res = kernels.rescale(x, 1.0, np.float32, clip=True)
        moved["rescale"] = len(strips) * _nbytes(x, res)

    def sun_rows():
        for r0, r1 in strips:
            sun.sun_elevation_rows(bbox, (SIDE, SIDE), r0, r1, pm["DATE_ACQUIRED"], pm["SCENE_CENTER_TIME"])

    for name, fn in (("radiance", radiance), ("reflectance", reflectance),
                     ("brightness_temp", brightness_temp), ("rescale", rescale)):
        out["kernels.%s_ns_per_px" % name] = _median_call_s(fn) / px * 1e9
        out["kernels.%s_bytes_per_px" % name] = moved[name] / px
    out["sun.elevation_rows_ns_per_px"] = _median_call_s(sun_rows) / px * 1e9

    texts = [fx.scenes_arrow([s])["mtl_txt"][0].as_py() for s in scenes]
    out["mtl.parse_us_per_scene"] = _median_call_s(lambda: [mtl.parse_mtl_txt(t) for t in texts]) / len(texts) * 1e6

    n_pts = 100_000
    lon = rng.uniform(bbox[0] - 1, bbox[2] + 1, n_pts)
    lat = rng.uniform(bbox[1] - 1, bbox[3] + 1, n_pts)
    out["cells.cell_of_points_ns_per_pt"] = _median_call_s(lambda: cells.cell_of_points(lon, lat, 7)) / n_pts * 1e9
    out["cells.cover_bbox_us"] = _median_call_s(lambda: cells.cover_bbox(*bbox, level=7)) * 1e6
    idx = index.RectIndex(tile_bounds[:, 0], tile_bounds[:, 1], tile_bounds[:, 2], tile_bounds[:, 3],
                          np.arange(len(tile_bounds)))
    q_lon, q_lat = lon[:20_000], lat[:20_000]
    out["index.query_points_ns_per_pt"] = _median_call_s(lambda: idx.query_points(q_lon, q_lat)) / len(q_lon) * 1e9
    return out
