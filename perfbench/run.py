#!/usr/bin/env python3
"""spark-toa benchmark: one workload per run, outputs checked.

    python3 perfbench/run.py --workload toa_bulk --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md):
  toa_bulk      TOA kernels + zonal stats over the bulk tile pyramid,
                plus two one-scene CLI requests through the sink
  pages_corpus  page joins, text extraction, near-dup and top-k

A run repeats the workload's cycle of operations until ``--seconds``
have passed (at least one cycle), then checks the outputs. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer
metrics and writes the run's spans and Spark metrics to
``perfbench/.out/trace_<workload>_<seed>.json``. Either way the last
stdout line is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
SETUPS = 3
WORKLOADS = ("toa_bulk", "pages_corpus")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "items_per_s": "items/s",
    "op_p50_s": "s",
}

# per-layer metric -> unit; README.md maps each to the end-to-end
# metric and workload it should move
PER_LAYER = {
    "session.start_s": "s", "host.sentinel_s": "s", "trace.overhead_ratio": "ratio",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.tasks": "count",
    "spark.stages": "count", "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "mtl.parse_us_per_scene": "us", "mtl.udf_python_run_s": "s", "mtl.udf_evals": "count",
    "kernels.radiance_ns_per_px": "ns/px", "kernels.reflectance_ns_per_px": "ns/px",
    "kernels.brightness_temp_ns_per_px": "ns/px", "kernels.rescale_ns_per_px": "ns/px",
    "kernels.radiance_bytes_per_px": "B/px", "kernels.reflectance_bytes_per_px": "B/px",
    "kernels.brightness_temp_bytes_per_px": "B/px", "kernels.rescale_bytes_per_px": "B/px",
    "sun.elevation_rows_ns_per_px": "ns/px",
    "toa.plan_s": "s", "toa.job_s": "s", "toa.python_run_s": "s", "toa.python_init_s": "s",
    "toa.python_bytes_sent": "B", "toa.python_bytes_returned": "B", "toa.scan_s": "s", "toa.scan_bytes": "B",
    "toa.tasks": "count",
    "zonal.plan_s": "s", "zonal.job_s": "s", "zonal.python_run_s": "s", "zonal.python_bytes_sent": "B",
    "zonal.shuffle_write_bytes": "B", "zonal.pairs_kept": "count",
    "cells.cell_of_points_ns_per_pt": "ns/pt", "cells.cover_bbox_us": "us", "index.query_points_ns_per_pt": "ns/pt",
    "pip.python_run_s": "s", "pip.python_bytes_sent": "B",
    **{"%s.%s" % (f, m): u for f in ("pip", "pip_salted") for m, u in (
        ("plan_s", "s"), ("job_s", "s"), ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
        ("match_ratio", "ratio"), ("task_skew", "ratio"))},
    "knn.plan_s": "s", "knn.job_s": "s", "knn.python_run_s": "s", "knn.python_bytes_sent": "B",
    "textstats.job_s": "s", "textstats.scan_bytes": "B",
    "dedup.exact.job_s": "s", "dedup.exact.shuffle_write_bytes": "B",
    "dedup.lsh.plan_s": "s", "dedup.lsh.job_s": "s", "dedup.lsh.python_run_s": "s",
    "dedup.lsh.python_bytes_sent": "B", "dedup.lsh.shuffle_write_bytes": "B", "dedup.lsh.shuffle_write_s": "s",
    "dedup.lsh.spill_bytes": "B", "dedup.lsh.exchanges": "count", "dedup.lsh.pairs_out": "count",
    "dedup.lsh.recall": "ratio",
    "similarity.topk.job_s": "s", "similarity.topk.python_run_s": "s", "similarity.ivf.job_s": "s",
    "similarity.ivf.python_run_s": "s", "similarity.ivf.shuffle_write_bytes": "B",
    "request.latency_s": "s", "request.plan_s": "s",
    "sink.write_s": "s", "sink.bytes_written": "B", "sink.files_written": "count", "sink.task_commit_s": "s",
    "sink.job_commit_s": "s", "sink.manifest_commit_s": "s",
    "toa_px_per_s": "px/s", "zonal_px_per_s": "px/s", "join_rows_per_s": "rows/s",
    "extract_pages_per_s": "pages/s", "dedup_docs_per_s": "docs/s", "topk_vectors_per_s": "vectors/s",
    "error_rate": "ratio",
}

# named in the layer map but not exposed by Spark's status store
UNEXPOSED = {
    "knn.python_batches": "Arrow batch count into mapInPandas is not a SQL metric in Spark 4.1",
    "knn.broadcast_bytes": "the centroids travel in a SparkContext broadcast, not a BroadcastExchange",
    "dedup.lsh.candidate_pairs": "within-bucket pairs exist only inside the fused verify kernel",
    "dedup.lsh.verify_ratio": "needs dedup.lsh.candidate_pairs",
    "similarity.ivf.probe_share": "rows scored per query exist only inside the fused IVF kernel",
    "zonal.pairs_kept_ratio": "the cell join's candidate count before its overlap condition is not a metric",
    "pip_salted.python_run_s": "the salted plan has no Python stage",
    "pip_salted.python_bytes_sent": "the salted plan has no Python stage",
}

# throughput -> the operation families it covers
FAMILY_RATES = {
    "toa_px_per_s": ("toa",), "zonal_px_per_s": ("zonal",), "join_rows_per_s": ("pip", "pip_salted", "knn"),
    "extract_pages_per_s": ("textstats",), "dedup_docs_per_s": ("dedup.exact", "dedup.lsh"),
    "topk_vectors_per_s": ("similarity.topk", "similarity.ivf"),
}


def _env() -> None:
    """Keep every file the engine writes inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher's too: temp files in the checkout, no
    # hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + tmp
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")


def _session():
    from rio_toa_spark.session import get_spark

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_spark(
        app_name="perfbench",
        master="local[%d]" % cpus,
        shuffle_partitions=max(cpus, 8),
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup(n: int):
    """Start the session ``n`` times, each followed by one Python job
    (what a fresh CLI call pays before its own work); keep the last.
    Returns (spark, session start times, setup times)."""
    starts, setups = [], []
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    for i in range(n):
        t0 = time.perf_counter()
        spark = _session()
        t1 = time.perf_counter()
        spark.range(cpus * 4).repartition(cpus).mapInArrow(lambda it: it, "id long").write.format(
            "noop").mode("overwrite").save()
        starts.append(t1 - t0)
        setups.append(time.perf_counter() - t0)
        if i < n - 1:
            spark.stop()
    return spark, starts, setups


def shutdown(spark) -> None:
    """Stop the session and the JVM it launched; wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def family_rates(results) -> dict[str, float]:
    """Items per second of operation time, per operation family."""
    out = {}
    for name, fams in FAMILY_RATES.items():
        rs = [r for r in results if r.op.family in fams]
        t = sum(r.seconds for r in rs)
        out[name] = sum(r.op.items for r in rs if r.ok) / t if t else 0.0
    return out


def layer_metrics(results, probes, tracer) -> dict[str, float]:
    """Per-layer means per operation over the traced operations; the
    layers the workload does not run come from the probe operations."""
    out = {k: 0.0 for k in PER_LAYER}
    by_fam: dict[str, list] = {}
    for r in results + probes:
        by_fam.setdefault(r.op.family, []).append(r)
    for fam, rs in by_fam.items():
        spans = [tracer.child_totals(r.span_id) for r in rs]
        sql = [r.sql for r in rs]
        vals = {
            "plan_s": _mean(s.get(fam + ".plan", 0.0) for s in spans),
            "job_s": _mean(s.get(fam + ".action", 0.0) for s in spans),
            "python_run_s": _mean(q["python_run_s"] for q in sql),
            "python_init_s": _mean(q["python_init_s"] + q["python_start_s"] for q in sql),
            "python_bytes_sent": _mean(q["python_bytes_sent"] for q in sql),
            "python_bytes_returned": _mean(q["python_bytes_returned"] for q in sql),
            "scan_s": _mean(q["scan_s"] for q in sql),
            "scan_bytes": _mean(q["scan_bytes"] for q in sql),
            "tasks": _mean(q["stage"]["tasks"] for q in sql),
            "shuffle_write_bytes": _mean(q["shuffle_write_bytes"] for q in sql),
            "shuffle_write_s": _mean(q["shuffle_write_s"] for q in sql),
            "spill_bytes": _mean(q["stage"]["spill_bytes"] for q in sql),
            "task_skew": _mean(q["stage"]["task_skew"] for q in sql),
            "exchanges": _mean(q["exchanges"] for q in sql),
            "match_ratio": _mean(r.rows / r.op.items for r in rs if r.rows is not None and r.op.items),
            "pairs_out": _mean(r.rows for r in rs if r.rows is not None),
            "pairs_kept": _mean(q["nodes"].get("BroadcastHashJoin", {}).get("rows", 0.0) for q in sql),
        }
        for name in PER_LAYER:
            if name.startswith(fam + ".") and name[len(fam) + 1:] in vals:
                out[name] = vals[name[len(fam) + 1:]]
    sql_all = [r.sql for r in results if r.sql]
    for k in ("executor_run_s", "executor_cpu_s", "gc_s", "tasks", "stages", "shuffle_write_bytes", "spill_bytes"):
        out["spark." + k] = _mean(q["stage"][k] for q in sql_all)
    out["mtl.udf_python_run_s"] = _mean(q["udf_run_s"] for q in sql_all)
    out["mtl.udf_evals"] = _mean(q["udf_rows"] for q in sql_all)
    req = [r for r in results + probes if r.op.argv and r.sql]
    if req:
        spans = [tracer.child_totals(r.span_id) for r in req]
        out["request.latency_s"] = _mean(r.seconds for r in req)
        out["request.plan_s"] = _mean(sum(v for k, v in s.items() if k.startswith("call.toa.")) for s in spans)
        out["sink.write_s"] = _mean(s.get("call.cli._write", 0.0) for s in spans)
        out["sink.manifest_commit_s"] = _mean(s.get("call.manifest.commit_chunk", 0.0) for s in spans)
        out["sink.bytes_written"] = _mean(r.sql["written_bytes"] for r in req)
        out["sink.files_written"] = _mean(r.sql["written_files"] for r in req)
        out["sink.task_commit_s"] = _mean(r.sql["task_commit_s"] for r in req)
        out["sink.job_commit_s"] = _mean(r.sql["job_commit_s"] for r in req)
    return out


def _wrap_public_calls(tracer) -> list:
    """Time the CLI path's calls into the operator, sink and manifest
    modules from outside; returns undo callables."""
    from rio_toa_spark import cli
    from rio_toa_spark.operators import toa
    from rio_toa_spark.plans import manifest

    return [
        tracer.wrap(owner, attr, name, "call")
        for owner, attr, name in (
            (toa, "radiance_tiles", "call.toa.radiance_tiles"),
            (toa, "reflectance_tiles", "call.toa.reflectance_tiles"),
            (cli, "_write", "call.cli._write"),
            (manifest.ResumableJob, "_commit_chunk", "call.manifest.commit_chunk"),
        )
    ]


def _measure(spark, args, inp: dict, out_dir: str, phases: dict):
    """The timed loop, the tracing replay, the output checks and the
    microbenches of one run."""
    from perfbench import checks, inputs, micro, observe, workloads

    tracer = observe.Tracer(enabled=bool(args.trace))
    stats = observe.SparkStats(spark) if args.trace else None
    rng = np.random.default_rng([args.seed, 5])
    workloads.clean(out_dir)
    if args.workload == "toa_bulk":
        cycle = workloads.toa_bulk_ops(spark, inp) + workloads.request_ops(inp, args.seed)
    else:
        cycle = workloads.pages_ops(spark, inp)

    undo = _wrap_public_calls(tracer) if args.trace else []
    if stats is not None:
        stats.mark()

    def one(op, desc, tr):
        res = workloads.run_op(spark, op, tr, desc, out_dir)
        if stats is not None and tr.enabled:
            res.sql = stats.collect(desc)
        return res

    results = []
    t = time.perf_counter()
    with tracer.span(args.workload, "workload", seed=args.seed):
        while not results or time.perf_counter() - t < args.seconds:
            with tracer.span("cycle", "cycle"):
                for op in cycle:
                    results.append(one(op, "perfbench/%s/%d:%s" % (args.workload, len(results), op.name), tracer))
    phases["loop"] = time.perf_counter() - t

    overhead, probes = None, []
    if args.trace:
        # price the tracing on a warm cycle: each operation untraced and
        # traced back to back, alternating which goes first
        t = time.perf_counter()
        plain, untraced, traced = observe.Tracer(enabled=False), 0.0, 0.0
        for i, op in enumerate(cycle):
            for j, tr in enumerate((plain, tracer) if i % 2 == 0 else (tracer, plain)):
                res = one(op, "perfbench/overhead/%d:%s" % (2 * i + j, op.name), tr)
                if tr.enabled:
                    traced += res.seconds
                else:
                    untraced += res.seconds
        overhead = traced / untraced
        phases["overhead"] = time.perf_counter() - t
        # every per-layer metric is measured in every traced run: the
        # other workload's operations run once on small inputs
        t = time.perf_counter()
        if args.workload == "toa_bulk":
            other = workloads.pages_ops(spark, inputs.prepare("pages_corpus", args.seed), probe=True)
        else:
            toa_inp = inputs.prepare("toa_bulk", args.seed)
            other = workloads.toa_bulk_ops(spark, toa_inp, probe=True) + workloads.request_ops(toa_inp, args.seed)
        probes = [one(op, "perfbench/probe/%d:%s" % (i, op.name), tracer) for i, op in enumerate(other)]
        phases["probes"] = time.perf_counter() - t
    for u in undo:
        u()

    t = time.perf_counter()
    check_items = []
    if args.workload == "toa_bulk":
        checkers = [lambda: workloads.check_toa(spark, inp, rng), lambda: workloads.check_requests(results, inp, rng)]
    else:
        checkers = [lambda: workloads.check_pages(spark, inp, rng)]
    for check in checkers:
        try:
            check_items += check()
        except Exception as exc:  # noqa: BLE001 — a check that cannot run is a failed check
            check_items.append(("check_error", 1, 1, {"error": repr(exc)[:300]}))
    phases["checks"] = time.perf_counter() - t

    micro_metrics = {}
    if args.trace:
        t = time.perf_counter()
        micro_metrics = micro.run(inp["scenes"], checks.tile_boxes(inp["paths"]["tiles"])[1])
        phases["micro"] = time.perf_counter() - t
    return results, probes, check_items, overhead, micro_metrics, tracer


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "rio_toa_spark")):
        print("perfbench: rio_toa_spark/ not found next to perfbench/; run it from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    _env()
    from perfbench import inputs, observe, workloads

    t_start = time.perf_counter()
    phases = {}
    inp = inputs.prepare(args.workload, args.seed)
    phases["inputs"] = time.perf_counter() - t_start
    rss = observe.RssSampler()
    rss.start()
    sentinel = [observe.sentinel_s()]
    t = time.perf_counter()
    spark, starts, setups = setup(SETUPS)
    phases["setup"] = time.perf_counter() - t
    out_dir = os.path.join(WORK, "out")
    try:
        results, probes, check_items, overhead, micro_metrics, tracer = _measure(spark, args, inp, out_dir, phases)
        sentinel.append(observe.sentinel_s())
    finally:
        peak = rss.stop()
        t = time.perf_counter()
        shutdown(spark)
        workloads.clean(out_dir)
        phases["shutdown"] = time.perf_counter() - t

    failed_ops = [r for r in results + probes if not r.ok]
    attempted = len(results) + len(probes) + sum(c[1] for c in check_items)
    failed = len(failed_ops) + sum(c[2] for c in check_items)
    op_s = [r.seconds for r in results]
    e2e = {
        "setup_s": float(np.median(setups)),
        "peak_rss_mb": peak / 2**20,
        "items_per_s": sum(r.op.items for r in results if r.ok) / sum(op_s),
        "op_p50_s": float(np.median(op_s)),
    }
    fam = {k: v for k, v in family_rates(results).items() if v}
    info = {
        "workload": args.workload, "seed": args.seed, "ops": len(results),
        "error_rate": failed / attempted, "inputs": inp["stats"], "family_rates": fam,
        "setup_s": setups, "session_start_s": starts, "sentinel_s": sentinel,
        "op_s": [[r.op.name, r.seconds] for r in results],
        "checks": [{"name": c[0], "checked": c[1], "mismatches": c[2], **c[3]} for c in check_items],
        "failures": [{"op": r.op.name, "error": r.error} for r in failed_ops][:20],
        "phases_s": phases, "wall_s": time.perf_counter() - t_start,
    }
    for name, value in list(e2e.items()) + [("error_rate", info["error_rate"])] + list(fam.items()):
        print("%-20s %14.6g %s" % (name, value, END_TO_END.get(name) or PER_LAYER.get(name, "")))
    print("info " + json.dumps(info))

    if args.trace:
        layer = layer_metrics(results, probes, tracer)
        layer.update(micro_metrics)
        layer.update(family_rates(results))
        layer["session.start_s"] = float(np.median(starts))
        layer["host.sentinel_s"] = float(np.median(sentinel))
        layer["error_rate"] = info["error_rate"]
        layer["trace.overhead_ratio"] = overhead
        lsh = [c for c in check_items if c[0] == "lsh_pairs_brute_force"]
        layer["dedup.lsh.recall"] = lsh[0][3]["recall"] if lsh else 0.0
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(OUT, "trace_%s_%d.json" % (args.workload, args.seed))
        with open(path, "w") as fh:
            json.dump({
                "info": info, "per_layer": layer, "unexposed": UNEXPOSED,
                "self_time_s": tracer.self_times(), "spans": tracer.spans,
                "ops": [{"span": r.span_id, "op": r.op.name, "family": r.op.family, "seconds": r.seconds,
                         "rows": r.rows, "ok": r.ok, "sql": r.sql} for r in results],
            }, fh)
        print("trace %s; not exposed by Spark: %s" % (os.path.relpath(path, ROOT), ", ".join(UNEXPOSED)))
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
