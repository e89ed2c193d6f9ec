"""Output checks derived without the code under test.

Expected values come from brute-force numpy / Python over the
generated inputs, or from the reference transliterations in
``sources/truth.py``; nothing here calls the package's kernels or
operators.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs
from rio_toa_spark.sources import fixtures as fx
from rio_toa_spark.sources import truth

TILE_KEY = ["scene_id", "band", "tile_row", "tile_col"]


# ------------------------------------------------------------------ TOA


def radiance_f32(dn: np.ndarray, ml: float, al: float) -> np.ndarray:
    """Reference ``_radiance_worker`` with nodata 0, float32 output and
    the default rescale (clip to [0, 1], factor 1.0)."""
    rs = ml * dn.astype(np.float32) + al
    rs[dn == 0] = 0.0
    rs[rs < 0.0] = 0.0
    rs[rs > 1.0] = 1.0
    rs *= 1.0
    return rs.astype(np.float32)


def expected_tile_hashes(kind: str, scenes, tiles: pa.Table) -> dict[tuple, int]:
    """Tile key -> 60-bit hash of the expected float32 output buffer."""
    if kind in ("reflectance_ps", "brighttemp_k"):
        t = truth.toa_truth(scenes, tiles)
        return {
            (r["scene_id"], r["band"], r["tile_row"], r["tile_col"]): r["px_hash"]
            for r in t.to_pylist()
            if r["kind"] == kind
        }
    mtls = {sid: m["L1_METADATA_FILE"]["RADIOMETRIC_RESCALING"] for sid, m in scenes}
    out = {}
    for r in tiles.to_pylist():
        rr = mtls[r["scene_id"]]
        dn = np.frombuffer(r["pixels"], dtype="<u2").reshape(r["height"], r["width"])
        buf = radiance_f32(dn, rr["RADIANCE_MULT_BAND_%d" % r["band"]], rr["RADIANCE_ADD_BAND_%d" % r["band"]])
        out[(r["scene_id"], r["band"], r["tile_row"], r["tile_col"])] = truth.h60(buf.tobytes())
    return out


def sample_tiles(path: str, band: int, n: int, rng: np.random.Generator) -> pa.Table:
    t = pq.read_table(path, filters=[("band", "=", band)])
    return t.take(np.sort(rng.choice(t.num_rows, size=min(n, t.num_rows), replace=False)))


def compare_tiles(kind: str, scenes, sample: pa.Table, got_rows: list[dict]) -> tuple[int, int, dict]:
    """(tiles checked, mismatches, detail) of output rows against the
    expected buffers of the sampled input tiles."""
    expected = expected_tile_hashes(kind, scenes, sample)
    got = {tuple(r[k] for k in TILE_KEY): truth.h60(bytes(r["pixels"])) for r in got_rows}
    bad = sum(got.get(k) != v for k, v in expected.items()) + len(set(got) - set(expected))
    return len(expected), bad, {"tiles": len(expected)}


# -------------------------------------------------------------- spatial


def tile_boxes(tiles_path: str) -> tuple[list[str], np.ndarray]:
    t = pq.read_table(
        tiles_path, columns=["scene_id", "tile_row", "tile_col", "bounds_w", "bounds_s", "bounds_e", "bounds_n"],
        filters=[("band", "=", inputs.BULK_BANDS[0])],
    )
    ids = ["%s/%d/%d" % (s, r, c) for s, r, c in zip(
        t["scene_id"].to_pylist(), t["tile_row"].to_pylist(), t["tile_col"].to_pylist())]
    boxes = np.stack([t[c].to_numpy() for c in ("bounds_w", "bounds_s", "bounds_e", "bounds_n")], axis=1)
    return ids, boxes


def contains(lon: np.ndarray, lat: np.ndarray, boxes: np.ndarray) -> np.ndarray:
    """(points x boxes) inclusive containment."""
    return (
        (lon[:, None] >= boxes[:, 0]) & (lon[:, None] <= boxes[:, 2])
        & (lat[:, None] >= boxes[:, 1]) & (lat[:, None] <= boxes[:, 3])
    )


def pip_pairs(urls, lon, lat, ids, boxes) -> set[tuple[str, str]]:
    hit_p, hit_b = np.nonzero(contains(lon, lat, boxes))
    return {(urls[p], ids[b]) for p, b in zip(hit_p, hit_b)}


def count_matches(lon, lat, boxes, chunk: int = 20000) -> int:
    return int(sum(contains(lon[i : i + chunk], lat[i : i + chunk], boxes).sum() for i in range(0, len(lon), chunk)))


def knn_expected(urls, lon, lat, ids, boxes, k: int) -> dict[str, list[str]]:
    """k nearest tile centroids per point, ties broken on tile id."""
    cx = (boxes[:, 0] + boxes[:, 2]) / 2
    cy = (boxes[:, 1] + boxes[:, 3]) / 2
    out = {}
    for i, u in enumerate(urls):
        d = np.sqrt((lon[i] - cx) ** 2 + (lat[i] - cy) ** 2)
        best = sorted(range(len(ids)), key=lambda j: (d[j], ids[j]))[:k]
        out[u] = [ids[j] for j in best]
    return out


def expected_counts(inp: dict) -> dict:
    """Exact output row counts of the pages_corpus operations, by
    brute force over the full inputs (cached per seed)."""
    cache = os.path.join(os.path.dirname(inp["paths"]["scenes"]), "expected.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh)
    geo = pq.read_table(inp["paths"]["page_geo"])
    lon, lat = geo["lon"].to_numpy(), geo["lat"].to_numpy()
    scene_boxes = np.array([fx.scene_bounds(m) for _, m in inp["scenes"]])
    _, tboxes = tile_boxes(inp["paths"]["tiles"])
    out = {
        "pip": count_matches(lon, lat, scene_boxes),
        "pip_salted": count_matches(lon, lat, tboxes),
    }
    with open(cache, "w") as fh:
        json.dump(out, fh)
    return out


# -------------------------------------------------------------- near-dup


def jaccard_pairs(docs: list[tuple[int, str]], threshold: float) -> dict[tuple[int, int], float]:
    """Every pair of ``docs`` whose word-3-gram Jaccard clears the
    threshold, by brute force."""
    sets = [(k, inputs.shingle_set(t)) for k, t in docs]
    out = {}
    for i in range(len(sets)):
        ka, a = sets[i]
        for j in range(i + 1, len(sets)):
            kb, b = sets[j]
            inter = len(a & b)
            if inter and inter >= threshold * (len(a) + len(b) - inter):
                out[(min(ka, kb), max(ka, kb))] = inter / (len(a) + len(b) - inter)
    return out
