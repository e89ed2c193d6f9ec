"""Seeded inputs for the three benchmark workloads, cached by seed.

Everything is built from the package's public generators
(``sources.fixtures`` and ``sources.truth``) plus small seeded
generators here, and cached under ``perfbench/.cache``:

* ``base/`` holds the seed-independent payload pools, built once per
  checkout: the bulk tile pyramid (6 scenes x bands 4/5/10 x 8x8 grid
  of 512^2 uint16 tiles, the ``bench.py`` dimensions), a 4x4 grid per
  scene for the CLI requests, and the 400k-page HTML corpus. Generating
  these costs ~20 s, which a run cannot pay per seed.
* ``seed-<n>/`` holds what the seed changes: each scene's MTL
  (acquisition date/time, sun elevation, radiometric and thermal
  constants), the page geocodes (hot-cell and no-match shares as in
  ``fixtures.pages_arrow``), the document corpus and its near-duplicate
  replicas and the embeddings. Only the newest few seed directories
  are kept. The seed also picks the scenes the CLI requests name and
  the samples the output checks use.
"""

from __future__ import annotations

import copy
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from rio_toa_spark.sources import fixtures as fx
from rio_toa_spark.sources import truth

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
BASE_VERSION = "base-v1"
SEED_VERSION = "seed-v2"
KEEP_SEEDS = 12

N_SCENES = 6
BULK_BANDS = [4, 5, 10]
BULK_GRID = 8
TILE = 512
REQ_GRID = 4
N_PAGES = 400_000
HOT_FRACTION = 0.25
OUTSIDE_FRACTION = 0.15
N_BASE_DOCS = 5000
DOC_REPLICAS = 8
N_BASE_VECS = 2000
VEC_DIM = 64
VEC_REPLICAS = 4
N_QUERIES = 8
PIP_LEVEL = 7
LSH_THRESHOLD = 0.5

_DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=row_group_size)
    os.replace(tmp, path)


# ----------------------------------------------------------------- base


def _base_dir() -> str:
    return os.path.join(CACHE, BASE_VERSION)


def base_scenes() -> list[tuple[str, dict]]:
    return fx.make_scenes(N_SCENES)


def ensure_base(parts: set[str]) -> dict[str, str]:
    """Build the seed-independent pools named in ``parts`` (``tiles``,
    ``req_tiles``, ``pages``) if missing; return every pool path."""
    d = _base_dir()
    os.makedirs(d, exist_ok=True)
    paths = {
        "tiles": os.path.join(d, "tiles.parquet"),
        "req_tiles": os.path.join(d, "req_tiles"),
        "pages": os.path.join(d, "pages.parquet"),
    }
    scenes = base_scenes()
    if "tiles" in parts and not os.path.exists(paths["tiles"]):
        tiles = fx.tiles_arrow(scenes, bands=BULK_BANDS, grid=BULK_GRID, tile_size=TILE, seed=42)
        # bench.py's layout: ~64 row groups so the scan splits into tasks
        _write(tiles, paths["tiles"], row_group_size=max(4, tiles.num_rows // 64))
    if "req_tiles" in parts and not os.path.exists(os.path.join(paths["req_tiles"], "done")):
        os.makedirs(paths["req_tiles"], exist_ok=True)
        for i, scene in enumerate(scenes):
            t = fx.tiles_arrow([scene], bands=BULK_BANDS, grid=REQ_GRID, tile_size=TILE, seed=100 + i)
            _write(t, os.path.join(paths["req_tiles"], "%s.parquet" % scene[0]), row_group_size=8)
        open(os.path.join(paths["req_tiles"], "done"), "w").close()
    if "pages" in parts and not os.path.exists(paths["pages"]):
        pages = fx.pages_arrow(scenes, n_pages=N_PAGES, seed=7)
        _write(
            pages.select(["url", "warc_ts", "html", "text", "lang"]),
            paths["pages"],
            row_group_size=N_PAGES // 64,
        )
    return paths


# ----------------------------------------------------------------- seed


def seeded_scenes(seed: int) -> list[tuple[str, dict]]:
    """The base scenes with seed-drawn acquisition time and constants.
    Scene ids and footprints stay fixed, so the tile pools (whose
    bounds subdivide the footprints) remain valid for every seed."""
    rng = np.random.default_rng([seed, 1])
    out = []
    for sid, mtl in base_scenes():
        for _ in range(100):
            m = copy.deepcopy(mtl)
            l1 = m["L1_METADATA_FILE"]
            pm = l1["PRODUCT_METADATA"]
            date = np.datetime64(pm["DATE_ACQUIRED"]) + np.timedelta64(int(rng.integers(-12, 13)), "D")
            pm["DATE_ACQUIRED"] = str(date)
            hh, mm, rest = pm["SCENE_CENTER_TIME"].split(":")
            minutes = (int(hh) * 60 + int(mm) + int(rng.integers(-20, 21))) % (24 * 60)
            pm["SCENE_CENTER_TIME"] = "%02d:%02d:%s" % (minutes // 60, minutes % 60, rest)
            ia = l1["IMAGE_ATTRIBUTES"]
            ia["SUN_ELEVATION"] = round(ia["SUN_ELEVATION"] + float(rng.uniform(-3, 3)), 5)
            rr = l1["RADIOMETRIC_RESCALING"]
            for key in rr:
                rr[key] = round(rr[key] * float(rng.uniform(0.95, 1.05)), 7)
            tc = l1["TIRS_THERMAL_CONSTANTS"]
            for key in tc:
                tc[key] = round(tc[key] * float(rng.uniform(0.99, 1.01)), 4)
            w, s, e, n = fx.scene_bounds(m)
            elev = truth._sun_elevation_grid(
                (w, s, e, n), (16, 16), pm["DATE_ACQUIRED"], pm["SCENE_CENTER_TIME"]
            )
            # per-pixel-sun reflectance rejects a sun below the horizon
            if float(np.min(elev)) > 2.0:
                break
        else:
            raise RuntimeError("no daylight acquisition time found for %s" % sid)
        out.append((sid, m))
    return out


def page_geocodes(scenes: list[tuple[str, dict]], n: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Page lon/lat with the layout of ``fixtures.pages_arrow``: a hot
    box inside scene 0 (one level-7 cell), an ocean box matching no
    footprint, a few points exactly on scene 0's edges, the rest
    uniform over the footprints."""
    rng = np.random.default_rng([seed, 2])
    boxes = np.array([fx.scene_bounds(m) for _, m in scenes])
    w0, s0, e0, n0 = boxes[0]
    n_hot = int(n * HOT_FRACTION)
    n_out = int(n * OUTSIDE_FRACTION)
    edges = [(w0, (s0 + n0) / 2), (e0, (s0 + n0) / 2), ((w0 + e0) / 2, s0), ((w0 + e0) / 2, n0)]
    seg = np.empty((n, 4))
    seg[:n_hot] = (w0 + 0.1, s0 + 0.1, w0 + 0.15, s0 + 0.15)
    seg[n_hot : n_hot + n_out] = (-150.0, -45.0, -140.0, -35.0)
    start = n_hot + n_out + len(edges)
    seg[start:] = boxes[rng.integers(0, len(boxes), size=n - start)]
    u = rng.random((n, 2))
    lon = seg[:, 0] + (seg[:, 2] - seg[:, 0]) * u[:, 0]
    lat = seg[:, 1] + (seg[:, 3] - seg[:, 1]) * u[:, 1]
    for j, (x, y) in enumerate(edges):
        lon[n_hot + n_out + j], lat[n_hot + n_out + j] = x, y
    order = rng.permutation(n)  # hot pages spread over every scan split
    return lon[order], lat[order]


_WS = re.compile(r"\s+")


def normalize(text: str) -> str:
    """``dedup.normalized_text`` semantics (lower, trim spaces, collapse
    whitespace runs) for ASCII text."""
    s = text.lower().strip(" ")
    return _WS.sub(" ", s) if "  " in s or not s.isprintable() else s


def shingle_set(text: str) -> frozenset:
    """Word 3-gram set as ``dedup.shingles`` defines it (grams as token
    tuples; tokens hold no spaces, so tuple and joined-string sets are
    equal in size and overlap)."""
    t = normalize(text).split(" ")
    return frozenset(zip(t, t[1:], t[2:])) if len(t) >= 3 else frozenset([tuple(t)])


def make_docs(seed: int) -> tuple[pa.Table, dict]:
    """5000 base documents shaped like the sf0.1 ``documents`` table
    (30-word vocabulary, 10-100 words, 20 sources), ~2% of them exact
    duplicates up to case and spacing, each replicated x8 as
    near-duplicates (id offset, `` r<i>`` suffix) as ``bench.py``
    replicates the sf0.1 corpus."""
    rng = np.random.default_rng([seed, 3])
    n_words = rng.integers(10, 101, size=N_BASE_DOCS)
    flat = rng.integers(0, len(_DOC_WORDS), size=int(n_words.sum())).tolist()
    texts, pos = [], 0
    for c in n_words.tolist():
        texts.append(" ".join(_DOC_WORDS[k] for k in flat[pos : pos + c]))
        pos += c
    for i in np.flatnonzero(rng.random(N_BASE_DOCS) < 0.02):
        src = texts[int(rng.integers(0, N_BASE_DOCS))]
        texts[i] = src.upper() if rng.random() < 0.5 else src.replace(" ", "  ", 3) + " "
    langs = np.array(["en", "zh", "es", "fr", "de"])[rng.choice(5, size=N_BASE_DOCS, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    ids, out_text, lang, source, family = [], [], [], [], []
    base_norm = [normalize(t) for t in texts]
    for r in range(DOC_REPLICAS):
        for i, t in enumerate(texts):
            ids.append(i + r * 1_000_000)
            out_text.append(t if r == 0 else "%s r%d" % (t, r))
            lang.append(str(langs[i]))
            source.append("src%d" % (i % 20))
            family.append(base_norm[i])
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(out_text, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array(source, pa.string()),
            "n_chars": pa.array([len(t) for t in out_text], pa.int64()),
        }
    )
    # docs whose base texts normalize equal form one near-dup group;
    # the expected pairs are the within-group pairs whose brute-force
    # Jaccard clears the threshold (random texts from a 30-word
    # vocabulary share far too few 3-grams to pair across groups)
    groups: dict[str, list[int]] = {}
    for j, f in enumerate(family):
        groups.setdefault(f, []).append(j)
    sets = [shingle_set(t) for t in out_text]
    distinct = len({normalize(t) for t in out_text})
    n_pairs = 0
    for members in groups.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = sets[members[x]], sets[members[y]]
                inter = len(a & b)
                n_pairs += inter >= LSH_THRESHOLD * (len(a) + len(b) - inter)
    stats = {
        "distinct_normalized": distinct,
        "near_dup_pairs": n_pairs,
    }
    return table, stats


def make_embeddings(seed: int) -> pa.Table:
    base = truth.embeddings_arrow(n=N_BASE_VECS, d=VEC_DIM, seed=seed % (2**31))
    reps = [
        base.set_column(0, "vec_id", pc.add(base.column("vec_id"), pa.scalar(r * 1_000_000, pa.int64())))
        for r in range(VEC_REPLICAS)
    ]
    return pa.concat_tables(reps)


def _seed_dir(seed: int) -> str:
    return os.path.join(CACHE, "%s-%d" % (SEED_VERSION, seed))


def _evict_old_seeds(keep: str) -> None:
    dirs = [
        os.path.join(CACHE, d)
        for d in os.listdir(CACHE)
        if d.startswith(SEED_VERSION + "-") and os.path.join(CACHE, d) != keep
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_SEEDS - 1 :]:
        shutil.rmtree(d, ignore_errors=True)


def prepare(workload: str, seed: int) -> dict:
    """Build (or reuse) every input ``workload`` needs for ``seed``.
    Returns paths, the seeded scenes and the input description the run
    reports."""
    base = ensure_base({"toa_bulk": {"tiles", "req_tiles"}, "pages_corpus": {"tiles", "pages"}}[workload])
    d = _seed_dir(seed)
    os.makedirs(d, exist_ok=True)
    os.utime(d)
    _evict_old_seeds(d)
    scenes = seeded_scenes(seed)
    desc = {"files": {}, "stats": {}}
    for part, build in (("scenes", _build_scenes), ("pages", _build_pages)):
        if part == "pages" and workload != "pages_corpus":
            continue
        marker = os.path.join(d, part + ".json")
        if not os.path.exists(marker):
            with open(marker + ".tmp", "w") as fh:
                json.dump(build(d, scenes, seed), fh, indent=1)
            os.replace(marker + ".tmp", marker)
        with open(marker) as fh:
            got = json.load(fh)
        desc["files"].update(got["files"])
        desc["stats"].update(got["stats"])
    paths = {k: os.path.join(d, v) for k, v in desc["files"].items()}
    paths.update(base)
    return {"paths": paths, "seed": seed, "stats": desc["stats"], "scenes": scenes}


def _build_scenes(d: str, scenes, seed: int) -> dict:
    """The scenes table, plus one directory per scene holding that
    scene's MTL row: with the scene's tile file from the base pool,
    exactly the files one CLI request names."""
    _write(fx.scenes_arrow(scenes), os.path.join(d, "scenes.parquet"))
    for i, (sid, _) in enumerate(scenes):
        os.makedirs(os.path.join(d, "requests", sid), exist_ok=True)
        _write(fx.scenes_arrow([scenes[i]]), os.path.join(d, "requests", sid, "scene.parquet"))
    stats = {
        "tiles": N_SCENES * len(BULK_BANDS) * BULK_GRID * BULK_GRID,
        "tile_px": TILE * TILE,
        "request_tiles_per_band": REQ_GRID * REQ_GRID,
    }
    return {"files": {"scenes": "scenes.parquet", "requests": "requests"}, "stats": stats}


def _build_pages(d: str, scenes, seed: int) -> dict:
    lon, lat = page_geocodes(scenes, N_PAGES, seed)
    urls = ["https://example-%04d.test/page/%d" % (i % 997, i) for i in range(N_PAGES)]
    geo = pa.table({"url": pa.array(urls, pa.string()), "lon": lon, "lat": lat})
    _write(geo, os.path.join(d, "page_geo.parquet"), row_group_size=N_PAGES // 64)
    boxes = np.array([fx.scene_bounds(m) for _, m in scenes])
    in_any = (
        (lon[:, None] >= boxes[:, 0]) & (lon[:, None] <= boxes[:, 2])
        & (lat[:, None] >= boxes[:, 1]) & (lat[:, None] <= boxes[:, 3])
    ).any(axis=1)
    docs, doc_stats = make_docs(seed)
    _write(docs, os.path.join(d, "docs.parquet"), row_group_size=max(1024, docs.num_rows // 32))
    emb = make_embeddings(seed)
    _write(emb, os.path.join(d, "embeddings.parquet"), row_group_size=max(64, emb.num_rows // 32))

    # share of pages in the fullest cell of the equal-angle level-7 grid
    side = 1 << PIP_LEVEL
    gx = np.clip(np.floor((lon + 180.0) / 360.0 * side), 0, side - 1).astype(np.int64)
    gy = np.clip(np.floor((lat + 90.0) / 180.0 * side), 0, side - 1).astype(np.int64)
    hot_cell_share = float(np.unique(gx * side + gy, return_counts=True)[1].max() / len(lon))
    stats = {
        "pages": N_PAGES,
        "pages_in_scene": int(in_any.sum()),
        "hot_cell_share": round(hot_cell_share, 4),
        "no_match_share": round(float(1.0 - in_any.mean()), 4),
        "docs": docs.num_rows,
        "docs_distinct_normalized": doc_stats["distinct_normalized"],
        "near_dup_pairs": doc_stats["near_dup_pairs"],
        "near_dup_pairs_per_doc": round(doc_stats["near_dup_pairs"] / docs.num_rows, 4),
        "vectors": emb.num_rows,
        "queries": N_QUERIES,
    }
    files = {"page_geo": "page_geo.parquet", "docs": "docs.parquet", "embeddings": "embeddings.parquet"}
    return {"files": files, "stats": stats}
