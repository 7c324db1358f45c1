"""Conflation benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload pages_hotspot --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  Load is a closed loop: one client runs
one pipeline at a time in a fresh ``local[nproc]`` session.  The run
builds the session (``setup_s``: one JVM start, as every CLI invocation
pays it), runs the pipeline once cold (``cold_wall_s``), then warm
until ``--seconds`` have passed (``wall_s`` is the median).  With
``--trace 1`` it then makes one traced run and reports the per-layer
metrics instead; the tracing overhead is the traced wall minus
``wall_s``.

Every pipeline run's action counts and change digest are checked
against the reference oracle's (``check.py``, ``expected.py``); a run
that raises or fails the check counts in ``failed``.  Inputs, Spark
scratch space, outputs, spans and a detailed record of each run live
under ``.perfbench_cache/`` in the checkout.  Every process the run
starts (the JVM, its Python workers) has ended when it exits.
The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")


E2E_UNITS = {"setup_s": "s", "cold_wall_s": "s", "wall_s": "s",
             "rows_per_s": "1/s", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "extract.wall_s": "s", "extract.task_cpu_s": "s", "extract.rows_out": "count",
    "dataset_prep.wall_s": "s", "dataset_prep.shuffle_bytes": "bytes",
    "dataset_prep.jobs": "count", "dedup.self_pairs": "count",
    "dedup.dropped_rows": "count",
    "osm_prep.wall_s": "s", "osm_prep.rows_out": "count",
    "candidates.wall_s": "s", "candidates.explode_rows": "count",
    "candidates.pairs": "count", "candidates.shuffle_bytes": "bytes",
    "candidates.task_skew": "ratio",
    "prepare.wall_s": "s", "prepare.pairs_exact": "count", "candidates.yield": "ratio",
    "greedy.wall_s": "s", "greedy.rounds": "count", "greedy.deferred_pairs": "count",
    "greedy.kernel_cpu_s": "s", "greedy.kernel_max_s": "s",
    "greedy.salt_splits": "count", "greedy.shuffle_bytes": "bytes",
    "greedy.task_skew": "ratio", "greedy.jobs": "count",
    "changes.wall_s": "s", "changes.stages": "count",
    "changes.shuffle_bytes": "bytes", "changes.rows_out": "count",
    "output.wall_s": "s", "output.bytes_written": "bytes",
    "lineage.ckpt_wall_s": "s", "lineage.ckpt_bytes": "bytes",
    "run.jobs": "count", "run.stages": "count", "run.shuffle_bytes": "bytes",
    "run.spill_bytes": "bytes", "run.gc_s": "s", "run.pinned_rdds": "count",
    "trace.unattributed_s": "s", "trace.overhead_s": "s",
}


def box_settings() -> dict:
    """Session sized for the machine and these inputs: every core, a
    driver heap of half the memory up to 3g, two shuffle partitions per
    core, Spark and temp scratch in the checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
    return dict(
        master=f"local[{cpus}]",
        SPARK_DRIVER_MEM=f"{min(3, max(1, mem_kb // 2 // 1024 ** 2))}g",
        SPARK_LOCAL_DIRS=os.path.join(CACHE, "spark-local"),
        shuffle_partitions=2 * cpus,
        tmpdir=os.path.join(CACHE, "tmp"),
    )


def start_session(settings: dict):
    """Build the session the way every CLI call does; returns it and
    the seconds build_session took."""
    os.environ["SPARK_DRIVER_MEM"] = settings["SPARK_DRIVER_MEM"]
    os.environ["SPARK_LOCAL_DIRS"] = settings["SPARK_LOCAL_DIRS"]
    os.environ["TMPDIR"] = tempfile.tempdir = settings["tmpdir"]
    for d in (settings["SPARK_LOCAL_DIRS"], settings["tmpdir"]):
        os.makedirs(d, exist_ok=True)
    from osm_conflate_spark.plans.pipeline import build_session

    t0 = time.perf_counter()
    spark = build_session(
        app="perfbench", master=settings["master"],
        shuffle_partitions=settings["shuffle_partitions"],
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={settings['tmpdir']}",
        },
    )
    setup = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup


def stop_session(spark) -> None:
    """Stop Spark, then its JVM, and wait for the JVM to end: left to
    itself it ends only after this process has, on its own time."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits at the end of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def measure(spark, w, paths: dict, rows: int, seconds: float, trace: bool,
            expected: dict, config: dict) -> dict:
    """Cold run, warm runs for ``seconds``, and with ``trace`` one traced
    run.  Every run is checked; a failed run is logged and counted, and
    the loop goes on."""
    import check
    import drive
    from osm_conflate_spark.config import ConflateConfig

    cfg = ConflateConfig(**config)
    out_dir = os.path.join(CACHE, "out", w.name)
    runs: list[dict] = []

    def one(kind: str) -> dict:
        if runs:
            drive.sweep(spark)
        drive.clear_dir(out_dir)
        rec = dict(kind=kind)
        try:
            fn = drive.run_traced if kind == "traced" else drive.run
            rec.update(fn(spark, w.source, paths, cfg, out_dir))
            for frames in ("changes", "pipe", "result"):  # let Spark free them
                rec.pop(frames, None)
            rec["error"] = check.compare(expected, rec["summary"])
        except Exception:  # noqa: BLE001 — a failed run is a counted result
            rec["error"] = traceback.format_exc()
        if rec["error"]:
            print(f"[perfbench] {kind} run failed: {rec['error']}", file=sys.stderr)
        rec["pinned_rdds"] = drive.pinned_rdds(spark)
        runs.append(rec)
        return rec

    one("cold")
    t0 = time.perf_counter()
    while True:
        one("warm")
        if time.perf_counter() - t0 >= seconds:
            break
    traced = one("traced") if trace else None
    return dict(runs=runs, traced=traced, rows=rows,
                peak_rss_mb=_jvm_tree_rss(spark))


def _jvm_tree_rss(spark) -> float:
    from host import tree_peak_rss_mb

    return tree_peak_rss_mb(int(spark._jvm.java.lang.ProcessHandle.current().pid()))


def _walls(m: dict, kind: str) -> list[float]:
    """Walls of the runs of ``kind`` that completed (a run that failed
    only the output check still has a wall; it counts in ``failed``)."""
    return [r["wall_s"] for r in m["runs"] if r["kind"] == kind and "wall_s" in r]


def e2e_metrics(m: dict, setup_s: float) -> dict:
    cold, warm = _walls(m, "cold"), _walls(m, "warm")
    wall = statistics.median(warm)
    return dict(setup_s=setup_s, cold_wall_s=cold[0], wall_s=wall,
                rows_per_s=m["rows"] / wall, peak_rss_mb=m["peak_rss_mb"])


def layer_metrics(m: dict) -> dict:
    """The per-layer metrics of the traced run (see BENCHMARK.json)."""
    t = m["traced"]
    warm = _walls(m, "warm")
    sp, c = t["spark"], t["counts"]

    def g(layer: str, key: str) -> float:
        return sp.get(layer, {}).get(key, 0)

    walls = t["layer_walls"]
    out = {f"{layer}.wall_s": walls[layer] for layer in walls if layer != "lineage"}
    out.update({
        "extract.task_cpu_s": g("extract", "cpu_s"),
        "dataset_prep.shuffle_bytes": g("dataset_prep", "shuffle_bytes"),
        "dataset_prep.jobs": g("dataset_prep", "jobs"),
        "candidates.shuffle_bytes": g("candidates", "shuffle_bytes"),
        "candidates.task_skew": g("candidates", "task_skew"),
        "greedy.shuffle_bytes": g("greedy", "shuffle_bytes"),
        "greedy.task_skew": g("greedy", "task_skew"),
        "greedy.jobs": g("greedy", "jobs"),
        "changes.stages": g("changes", "stages"),
        "changes.shuffle_bytes": g("changes", "shuffle_bytes"),
        "lineage.ckpt_wall_s": walls["lineage"],
        "run.jobs": sum(r["jobs"] for r in sp.values()),
        "run.stages": sum(r["stages"] for r in sp.values()),
        "run.shuffle_bytes": sum(r["shuffle_bytes"] for r in sp.values()),
        "run.spill_bytes": sum(r["spill_bytes"] for r in sp.values()),
        "run.gc_s": sum(r["gc_s"] for r in sp.values()),
        # the program's own leak: RDDs an untraced warm run left pinned
        "run.pinned_rdds": max(r["pinned_rdds"] for r in m["runs"] if r["kind"] == "warm"),
        "trace.unattributed_s": t["wall_s"] - sum(walls.values()),
        "trace.overhead_s": t["wall_s"] - statistics.median(warm),
    })
    out.update(c)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int,
                    help="dataset points (default: the workload's size; "
                    "the benchmark's own tests run tiny sizes)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "osm_conflate_spark")):
        print(f"perfbench: no osm_conflate_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    from host import (adopt_orphans, cpu_ticks, end_children, loadavg_1m,
                      membw_gbps, steal_share)

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"one of {sorted(workloads.WORKLOADS)}")
    w = workloads.WORKLOADS[args.workload]
    if args.size:
        w = dataclasses.replace(w, n=args.size)
    config = workloads.conflate_config(w)
    host = dict(loadavg_1m_start=loadavg_1m())
    phases, t = {}, time.perf_counter()  # seconds spent in each step

    def phase(name: str) -> None:
        nonlocal t
        phases[name], t = time.perf_counter() - t, time.perf_counter()

    paths, rows, expected = workloads.ensure_inputs(w, args.seed, CACHE)
    phase("inputs")
    host["membw_gbps"] = membw_gbps()
    phase("membw")
    settings = box_settings()
    ticks = cpu_ticks()
    # every process started from here on (the JVM, its Python workers)
    # has ended when main returns, also on an error or a SIGTERM
    adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        spark, setup_s = start_session(settings)
        phase("setup")
        try:
            m = measure(spark, w, paths, rows, args.seconds, bool(args.trace),
                        expected, config)
            phase("measure")
        finally:
            stop_session(spark)
    finally:
        end_children()
    phase("stop")
    host["loadavg_1m_end"] = loadavg_1m()
    host["steal_share"] = steal_share(ticks, cpu_ticks())

    failed = sum(1 for r in m["runs"] if r["error"])
    if not _walls(m, "cold") or not _walls(m, "warm") or (
            args.trace and m["traced"]["error"]):
        print("perfbench: no completed run to measure", file=sys.stderr)
        return 1
    if args.trace:
        values, units = layer_metrics(m), LAYER_UNITS
    else:
        values, units = e2e_metrics(m, setup_s), E2E_UNITS
    detail = dict(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=args.trace, settings=settings, config=config, host=host,
        setup_s=setup_s, phases=phases, rows=rows, expected=expected,
        runs=[{k: r.get(k) for k in ("kind", "wall_s", "summary", "error", "pinned_rdds")}
              for r in m["runs"]],
        values=values,
    )
    if args.trace:
        detail["greedy_stats"] = m["traced"]["greedy_stats"]
        detail["spark_by_group"] = {str(k): v for k, v in m["traced"]["spark"].items()}
        os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
        with open(os.path.join(CACHE, "traces", f"{m['traced']['spans'][0]['run_id']}.json"), "w") as f:
            json.dump(dict(workload=args.workload, seed=args.seed,
                           spans=m["traced"]["spans"]), f)
    with open(os.path.join(CACHE, "results.jsonl"), "a") as f:
        f.write(json.dumps(detail) + "\n")
    print("DETAIL " + json.dumps(detail))
    print(json.dumps(dict(
        correct=failed == 0, attempted=len(m["runs"]), failed=failed,
        metrics={n: {"value": values[n], "unit": u} for n, u in units.items()},
    )))
    return 0


if __name__ == "__main__":
    sys.exit(main())
