"""The two workloads: their operations, how one is timed, and the
output checks that follow the timed loop."""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import time
from dataclasses import dataclass, field
from functools import reduce

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import checks, inputs
from rio_toa_spark.sources import fixtures as fx

KNN_K = 3
TOPK_K = 10
IVF_CENTROIDS = 32
IVF_PROBE = 4
DST = "{dst}"  # placeholder for a request's fresh output directory


@dataclass
class Op:
    name: str
    family: str
    items: int
    build: object = None  # () -> DataFrame, for in-process jobs
    argv: list = None  # CLI arguments, for scene requests
    expect_rows: int | None = None
    rows_range: tuple | None = None  # (lo, hi) when the count is not exact
    meta: dict = field(default_factory=dict)


@dataclass
class Result:
    op: Op
    seconds: float
    rows: int | None = None
    ok: bool = True
    error: str = ""
    sql: dict | None = None
    desc: str = ""
    span_id: int | None = None
    dst: str = ""


def _noop_action(df):
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return int(obs.get["n"])


def run_op(spark, op: Op, tracer, desc: str, out_dir: str) -> Result:
    """Time one operation: plan build plus action for a job, the whole
    ``cli.main`` call for a request (writing to a fresh ``out_dir``
    subdirectory). A raised error counts as a failed operation; the
    loop goes on."""
    from rio_toa_spark import cli

    spark.sparkContext.setJobDescription(desc)
    dst = os.path.join(out_dir, desc.replace("/", "_").replace(":", "_"))
    t0 = time.perf_counter()
    rows = None
    try:
        with tracer.span(op.name, "request" if op.argv else "job", family=op.family, desc=desc) as rec:
            if op.argv:
                with contextlib.redirect_stdout(io.StringIO()):
                    cli.main([dst if a == DST else a for a in op.argv])
            else:
                with tracer.span(op.family + ".plan", "plan"):
                    df = op.build()
                with tracer.span(op.family + ".action", "action"):
                    rows = _noop_action(df)
    except Exception as exc:  # noqa: BLE001 — counted, reported, loop continues
        return Result(op, time.perf_counter() - t0, None, False, repr(exc)[:300], desc=desc,
                      span_id=rec["id"], dst=dst)
    seconds = time.perf_counter() - t0
    ok = True
    if rows is not None and op.expect_rows is not None:
        ok = rows == op.expect_rows
    if rows is not None and op.rows_range is not None:
        ok = op.rows_range[0] <= rows <= op.rows_range[1]
    return Result(op, seconds, rows, ok, "" if ok else "rows %s" % rows, desc=desc, span_id=rec["id"],
                  dst=dst)


# ---------------------------------------------------------------- ops


def toa_bulk_ops(spark, inp: dict, probe: bool = False) -> list[Op]:
    """The bulk TOA cycle; with ``probe``, the same operations on one
    scene's 4x4 request grid."""
    from rio_toa_spark.operators import toa, zonal
    from rio_toa_spark.operators.spatial_join import scene_footprints

    p = inp["paths"]
    if probe:
        n_scenes, n_band = 1, inputs.REQ_GRID ** 2
        tiles = spark.read.parquet(os.path.join(p["req_tiles"], "%s.parquet" % inp["scenes"][0][0]))
    else:
        n_scenes, n_band = inputs.N_SCENES, inputs.N_SCENES * inputs.BULK_GRID ** 2
        tiles = spark.read.parquet(p["tiles"])
    scenes = spark.read.parquet(p["scenes"])
    px_band = n_band * inputs.TILE ** 2
    zones = lambda: scene_footprints(scenes).selectExpr(  # noqa: E731 — bench.py's zones
        "scene_id AS zone_id",
        "fw + 0.137 * (fe - fw) AS fw",
        "fs + 0.211 * (fn - fs) AS fs",
        "fw + 0.763 * (fe - fw) AS fe",
        "fs + 0.829 * (fn - fs) AS fn",
    )
    return [
        Op("radiance_b5", "toa", px_band, lambda: toa.radiance_tiles(tiles, scenes, band=5), expect_rows=n_band),
        Op("reflectance_b4_pixel_sun", "toa", px_band,
           lambda: toa.reflectance_tiles(tiles, scenes, bands=[4], per_pixel_sun=True), expect_rows=n_band),
        Op("brighttemp_b10", "toa", px_band, lambda: toa.brightness_temp_tiles(tiles, scenes, band=10),
           expect_rows=n_band),
        Op("zonal_stats", "zonal", px_band * len(inputs.BULK_BANDS), lambda: zonal.zonal_stats(tiles, zones()),
           expect_rows=n_scenes * len(inputs.BULK_BANDS)),
    ]


def pages_ops(spark, inp: dict, probe: bool = False) -> list[Op]:
    """The pages cycle; with ``probe``, the same operations on about a
    fiftieth of each input, row counts unchecked."""
    from pyspark.sql import functions as F

    from rio_toa_spark.operators.dedup import exact_dedup, ngram_jaccard_pairs
    from rio_toa_spark.operators.similarity import cosine_topk, cosine_topk_ivf
    from rio_toa_spark.operators.spatial_join import knn_join, pip_join, scene_footprints, tile_footprints
    from rio_toa_spark.operators.textstats import with_extracted_text

    p, st = inp["paths"], dict(inp["stats"])
    tiles = spark.read.parquet(p["tiles"])
    scenes = spark.read.parquet(p["scenes"])
    geo, pages, docs, emb = (spark.read.parquet(p[k]) for k in ("page_geo", "pages", "docs", "embeddings"))
    if probe:
        geo, pages, docs, emb = (df.where(F.abs(F.hash(df.columns[0])) % 50 == 0) for df in (geo, pages, docs, emb))
        expect = {"pip": None, "pip_salted": None}
        st.update(docs_distinct_normalized=None, near_dup_pairs=None)
    else:
        expect = checks.expected_counts(inp)
    q = emb.where(F.col("vec_id") < inputs.N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    # a probe's input sizes are unknown: 0 items, so it feeds no rate
    n, nd, nv = (0, 0, 0) if probe else (st["pages"], st["docs"], st["vectors"])
    lvl = inputs.PIP_LEVEL
    return [
        Op("pip_pages_scenes", "pip", n,
           lambda: pip_join(geo, scene_footprints(scenes), level=lvl).select("url", "scene_id"),
           expect_rows=expect["pip"]),
        Op("pip_pages_tiles_salted", "pip_salted", n,
           lambda: pip_join(geo, tile_footprints(tiles), level=lvl, strategy="salted").select("url", "tile_id"),
           expect_rows=expect["pip_salted"]),
        Op("knn_pages_tiles", "knn", n, lambda: knn_join(geo, tiles, k=KNN_K, strategy="broadcast"),
           expect_rows=None if probe else n * KNN_K),
        Op("extract_text", "textstats", n, lambda: with_extracted_text(pages).select("url", "extracted_text"),
           expect_rows=None if probe else n),
        Op("dedup_exact", "dedup.exact", nd, lambda: exact_dedup(docs),
           expect_rows=st["docs_distinct_normalized"]),
        # LSH may miss a true pair, so its count is bounded, not exact;
        # the sampled check verifies every pair it does emit
        Op("dedup_lsh", "dedup.lsh", nd, lambda: ngram_jaccard_pairs(docs, threshold=inputs.LSH_THRESHOLD),
           rows_range=None if probe else (st["near_dup_pairs"] // 2, st["near_dup_pairs"])),
        Op("cosine_topk", "similarity.topk", nv, lambda: cosine_topk(emb, q, k=TOPK_K),
           expect_rows=None if probe else inputs.N_QUERIES * TOPK_K),
        Op("cosine_topk_ivf", "similarity.ivf", nv,
           lambda: cosine_topk_ivf(emb, q, k=TOPK_K, n_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE),
           expect_rows=None if probe else inputs.N_QUERIES * TOPK_K),
    ]


REQUESTS = (
    ("radiance", ["--band", "5", "--resume"], 5),
    ("reflectance", ["--bands", "4", "--pixel-sunangle"], 4),
)


def request_ops(inp: dict, seed: int) -> list[Op]:
    """Two CLI requests, each on one seed-picked scene's own files: a
    radiance written through the --resume manifest path and a
    per-pixel-sun reflectance written plainly."""
    rng = np.random.default_rng([seed, 4])
    picks = rng.choice(len(inp["scenes"]), size=len(REQUESTS), replace=False)
    ops = []
    for (cmd, extra, band), i in zip(REQUESTS, picks):
        sid = inp["scenes"][int(i)][0]
        src = os.path.join(inp["paths"]["req_tiles"], "%s.parquet" % sid)
        scene = os.path.join(inp["paths"]["requests"], sid, "scene.parquet")
        ops.append(Op("cli_%s" % cmd, "request", inputs.REQ_GRID ** 2 * inputs.TILE ** 2,
                      argv=[cmd, src, scene, DST] + extra, meta={"kind": cmd, "band": band, "src": src}))
    return ops


# ------------------------------------------------------------- checks


def _key_filter(df, keys):
    from pyspark.sql import functions as F

    return df.where(reduce(lambda a, b: a | b, [
        (F.col("scene_id") == s) & (F.col("band") == b) & (F.col("tile_row") == r) & (F.col("tile_col") == c)
        for s, b, r, c in keys
    ]))


def check_toa(spark, inp: dict, rng) -> list[tuple[str, int, int, dict]]:
    """Sampled tiles of each TOA pipeline, bitwise against the
    reference transliterations (one Spark job for all three)."""
    from rio_toa_spark.operators import toa

    p = inp["paths"]
    tiles = spark.read.parquet(p["tiles"])
    scenes = spark.read.parquet(p["scenes"])
    plans = (
        ("radiance_b5", "radiance", 5, lambda t: toa.radiance_tiles(t, scenes, band=5)),
        ("reflectance_b4_pixel_sun", "reflectance_ps", 4,
         lambda t: toa.reflectance_tiles(t, scenes, bands=[4], per_pixel_sun=True)),
        ("brighttemp_b10", "brighttemp_k", 10, lambda t: toa.brightness_temp_tiles(t, scenes, band=10)),
    )
    samples = [checks.sample_tiles(p["tiles"], band, 4, rng) for _, _, band, _ in plans]
    dfs = []
    for (_, _, _, build), sample in zip(plans, samples):
        keys = [tuple(r.values()) for r in sample.select(checks.TILE_KEY).to_pylist()]
        dfs.append(build(_key_filter(tiles, keys)))
    rows = [r.asDict() for r in reduce(lambda a, b: a.unionByName(b), dfs).collect()]
    out = []
    for (name, kind, band, _), sample in zip(plans, samples):
        got = [r for r in rows if r["band"] == band]
        out.append(("toa_bitwise:" + name,) + checks.compare_tiles(kind, inp["scenes"], sample, got))
    return out


def check_pages(spark, inp: dict, rng) -> list[tuple[str, int, int, dict]]:
    """Sampled pip / kNN / extraction / LSH outputs against brute force."""
    from rio_toa_spark.operators.dedup import ngram_jaccard_pairs
    from rio_toa_spark.operators.spatial_join import knn_join, pip_join, scene_footprints, tile_footprints
    from rio_toa_spark.operators.textstats import with_extracted_text

    p = inp["paths"]
    out = []
    geo_t = pq.read_table(p["page_geo"])
    # the sample leans on the hard cases: hot cell, no-match, edges
    pick = np.sort(rng.choice(geo_t.num_rows, size=3000, replace=False))
    sample = geo_t.take(pick)
    urls = sample["url"].to_pylist()
    lon, lat = sample["lon"].to_numpy(), sample["lat"].to_numpy()
    sdf = spark.createDataFrame(sample.to_pandas())
    scenes = spark.read.parquet(p["scenes"])
    tiles = spark.read.parquet(p["tiles"])
    scene_ids = [sid for sid, _ in inp["scenes"]]
    scene_boxes = np.array([fx.scene_bounds(m) for _, m in inp["scenes"]])
    tile_ids, tile_boxes = checks.tile_boxes(p["tiles"])

    got = {tuple(r) for r in pip_join(sdf, scene_footprints(scenes), level=inputs.PIP_LEVEL)
           .select("url", "scene_id").collect()}
    want = checks.pip_pairs(urls, lon, lat, scene_ids, scene_boxes)
    out.append(("pip_brute_force", len(want), len(got ^ want), {"pairs": len(want)}))
    got = {tuple(r) for r in pip_join(sdf, tile_footprints(tiles), level=inputs.PIP_LEVEL, strategy="salted")
           .select("url", "tile_id").collect()}
    want = checks.pip_pairs(urls, lon, lat, tile_ids, tile_boxes)
    out.append(("pip_salted_brute_force", len(want), len(got ^ want), {"pairs": len(want)}))

    kn = 300
    rows = knn_join(sdf.limit(kn), tiles, k=KNN_K, strategy="broadcast").collect()
    got_knn: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["url"], r["rank"])):
        got_knn.setdefault(r["url"], []).append(r["tile_id"])
    first = sample.slice(0, kn)
    want_knn = checks.knn_expected(first["url"].to_pylist(), first["lon"].to_numpy(), first["lat"].to_numpy(),
                                   tile_ids, tile_boxes, KNN_K)
    out.append(("knn_brute_force", len(want_knn), sum(got_knn.get(u) != v for u, v in want_knn.items()), {}))

    html = pq.read_table(p["pages"], columns=["url", "html", "text"]).take(pick[::15])
    got_text = dict(with_extracted_text(spark.createDataFrame(html.select(["url", "html"]).to_pandas()))
                    .select("url", "extracted_text").collect())
    want_text = dict(zip(html["url"].to_pylist(), html["text"].to_pylist()))
    out.append(("extract_text_bytes", len(want_text), sum(got_text.get(u) != t for u, t in want_text.items()), {}))

    # LSH: whole near-dup groups plus random docs, every emitted pair
    # verified by brute-force Jaccard; recall against brute force
    docs_t = pq.read_table(p["docs"], columns=["doc_id", "text"])
    ids = docs_t["doc_id"].to_numpy()
    base_ids = rng.choice(inputs.N_BASE_DOCS, size=40, replace=False)
    fam = np.isin(ids % 1_000_000, base_ids) | (rng.random(len(ids)) < 0.005)
    sub = docs_t.filter(fam)
    pairs = ngram_jaccard_pairs(spark.createDataFrame(sub.to_pandas()), threshold=inputs.LSH_THRESHOLD).collect()
    want_pairs = checks.jaccard_pairs(list(zip(sub["doc_id"].to_pylist(), sub["text"].to_pylist())),
                                      inputs.LSH_THRESHOLD)
    got_pairs = {(min(r["a"], r["b"]), max(r["a"], r["b"])): r["jaccard"] for r in pairs}
    wrong = sum(k not in want_pairs or abs(want_pairs[k] - v) > 1e-12 for k, v in got_pairs.items())
    recall = len(set(got_pairs) & set(want_pairs)) / max(len(want_pairs), 1)
    out.append(("lsh_pairs_brute_force", len(got_pairs), wrong + (recall < 0.5),
                {"pairs_expected": len(want_pairs), "recall": recall}))
    return out


def check_requests(results: list[Result], inp: dict, rng) -> list[tuple[str, int, int, dict]]:
    """Each CLI request's written row count, and one sampled tile per
    request bitwise against the reference transliterations."""
    n_checked = bad_rows = n_tiles = bad_tiles = 0
    kinds = {"radiance": "radiance", "reflectance": "reflectance_ps"}
    for res in results:
        if not res.ok or not res.op.argv:
            continue
        m = res.op.meta
        n_checked += 1
        try:
            table = ds.dataset(res.dst, format="parquet", partitioning="hive").to_table()
        except Exception:  # noqa: BLE001 — a missing output is a wrong output
            bad_rows += 1
            continue
        pool = pq.read_table(m["src"], filters=[("band", "=", m["band"])])
        bad_rows += table.num_rows != pool.num_rows
        pick = pool.slice(int(rng.integers(0, pool.num_rows)), 1)
        key = tuple(pick.select(checks.TILE_KEY).to_pylist()[0].values())
        hit = []
        for r in table.to_pylist():
            r["band"] = int(r["band"])  # a hive partition value
            if tuple(r[k] for k in checks.TILE_KEY) == key:
                hit.append(r)
        checked, bad, _ = checks.compare_tiles(kinds[m["kind"]], inp["scenes"], pick, hit)
        n_tiles += checked
        bad_tiles += bad
    return [("request_rows", n_checked, bad_rows, {}), ("request_tiles_bitwise", n_tiles, bad_tiles, {})]


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
