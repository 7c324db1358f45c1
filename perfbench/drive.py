"""One conflation run through the library's public entry points.

``run`` makes one ``ConflatePipeline.run`` call and consumes its result:
for a pages workload as ``bench.py`` does (the metrics collect and the
tiles count), for a points workload as ``cli.main`` does (stage
checkpoints, then every output written as parquet).

With a ``Tracer`` the same call is traced.  For its duration the layer
entry points the pipeline calls are wrapped: each call opens a span,
tags its Spark jobs with ``setJobGroup(layer)`` and, because Spark is
lazy, materializes its result at the layer boundary.  The orchestration
stays the program's own.  Counts that need extra Spark jobs are taken
after the traced wall ends, so they neither inflate a layer nor count as
unattributed time.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from contextlib import ExitStack, contextmanager, nullcontext
from unittest import mock

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import osm_conflate_spark.operators.match as match_ops
import osm_conflate_spark.plans.pipeline as pipeline_mod
from osm_conflate_spark.functions.geo import kring_explode
from osm_conflate_spark.operators import changes as chg
from osm_conflate_spark.operators.candidates import self_pairs
from osm_conflate_spark.operators.dedup import ref_dedup
from osm_conflate_spark.plans.pipeline import ConflatePipeline
from osm_conflate_spark.sources.catalog import read_input
from osm_conflate_spark.sources.dataset import from_pages
from osm_conflate_spark.sources.extract import poi_tags_map_sql

import check

OUTPUTS = ("changes", "tiles", "osc", "geojson")
#: the spans whose self times are the per-layer walls; the rest of the
#: traced wall (the root span and the pipeline's own code between layer
#: calls, span "pipeline") is unattributed
LAYERS = ("extract", "dataset_prep", "osm_prep", "candidates", "prepare",
          "greedy", "changes", "output", "lineage")


def read_osm(spark: SparkSession, path: str) -> DataFrame:
    """OSM input the way ``cli.main`` reads it (tags decoded JVM-side)."""
    osm = read_input(spark, path)
    return osm.withColumn("tags", F.expr(poi_tags_map_sql("tags_raw"))).drop("tags_raw")


def read_source(spark: SparkSession, source: str, path: str) -> DataFrame:
    if source == "pages":
        return from_pages(read_input(spark, path))
    return read_input(spark, path)


def run(spark, source: str, paths: dict, cfg, out_dir: str, tracer=None) -> dict:
    """One pipeline run and its consumer.  Returns the wall, the change
    summary, the pipeline and its result; traced when ``tracer`` is set."""
    tr = tracer or Untraced()
    pipe = ConflatePipeline(
        spark, cfg, out_dir=out_dir if source == "points" else None, resume=False
    )
    t0 = time.perf_counter()
    with tr.span("run"), tr.instrument(pipe):
        with tr.span("extract"):  # points: the read of pre-extracted points
            ds_raw = tr.boundary("extract", read_source(spark, source, paths["source"]))
        res = pipe.run(ds_raw, read_osm(spark, paths["osm"]))
        with tr.span("output"):
            if source == "pages":
                metrics = res["metrics"].collect()
                res["tiles"].count()
            else:
                for name in OUTPUTS:
                    res[name].write.mode("overwrite").parquet(f"{out_dir}/{name}_out")
                metrics = res["metrics"].collect()
                res["lineage"]().write.mode("overwrite").parquet(f"{out_dir}/lineage_out")
    wall = time.perf_counter() - t0
    changes = (spark.read.parquet(f"{out_dir}/changes_out") if source == "points"
               else res["changes"])
    summary = check.summarize(changes)
    counts = {r["action"]: r["count"] for r in metrics}
    if counts != summary["counts"]:
        raise RuntimeError(f"metrics {counts} disagree with the changes {summary['counts']}")
    return dict(wall_s=wall, summary=summary, changes=changes, pipe=pipe, result=res)


class Untraced:
    """The tracer interface, doing nothing."""

    def span(self, name: str):
        return nullcontext()

    def instrument(self, pipe):
        return nullcontext()

    def boundary(self, layer: str, df: DataFrame) -> DataFrame:
        return df


class Tracer(Untraced):
    """In-memory spans; each span tags its Spark jobs with its name."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.outputs: dict[str, DataFrame] = {}  # last output per layer
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = dict(run_id=self.run_id, span_id=len(self.spans), name=name,
                   parent=self._stack[-1] if self._stack else None,
                   start=time.perf_counter(), end=None)
        self.spans.append(rec)
        self._stack.append(rec["span_id"])
        self._tag()
        if rec["parent"] is None:
            self.first_job = next_job_id(self.sc)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._tag()
            if rec["parent"] is None:
                self.last_job = next_job_id(self.sc) - 1

    def _tag(self) -> None:
        """Tag jobs with the innermost open span; the root tags nothing."""
        if len(self._stack) > 1:
            name = self.spans[self._stack[-1]]["name"]
            self.sc.setJobGroup(name, name)
        else:
            self.sc._jsc.clearJobGroup()

    def boundary(self, layer: str, df: DataFrame) -> DataFrame:
        df = df.localCheckpoint(eager=True)
        self.outputs[layer] = df
        return df

    def _layer(self, layer: str, fn):
        def traced(*args, **kwargs):
            with self.span(layer):
                return self.boundary(layer, fn(*args, **kwargs))
        return traced

    def _stage(self, run_stage):
        """StageRunner.run: its bookkeeping and, with an out_dir, its
        parquet write are the lineage layer, except that the tiles write
        computes the tiles, an output.  The stage's build is the
        pipeline's own code around the layer calls."""
        def traced(stage: str, build, *args, **kwargs):
            def traced_build():
                with self.span("pipeline"):
                    return build()
            with self.span("output" if stage == "tiles" else "lineage"):
                return run_stage(stage, traced_build, *args, **kwargs)
        return traced

    @contextmanager
    def instrument(self, pipe: ConflatePipeline):
        """Wrap the layer entry points ``pipe.run`` calls."""
        targets = (
            (pipe, "prepare_dataset", "dataset_prep"),
            (pipe, "prepare_osm", "osm_prep"),
            (pipeline_mod, "candidate_pairs", "candidates"),
            (match_ops, "prepare_pairs", "prepare"),
            (pipeline_mod, "greedy_match", "greedy"),
            (chg, "build_changes", "changes"),
        )
        with ExitStack() as stack:
            for owner, attr, layer in targets:
                stack.enter_context(mock.patch.object(
                    owner, attr, self._layer(layer, getattr(owner, attr))))
            stack.enter_context(mock.patch.object(
                pipe.runner, "run", self._stage(pipe.runner.run)))
            yield

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the children's."""
        out: dict[str, float] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            d -= sum(c["end"] - c["start"] for c in self.spans
                     if c["parent"] == s["span_id"])
            out[s["name"]] = out.get(s["name"], 0.0) + d
        return out


def run_traced(spark, source: str, paths: dict, cfg, out_dir: str) -> dict:
    """``run`` under a Tracer, plus the per-layer counts and the Spark
    metrics of each job group."""
    tr = Tracer(spark)
    rec = run(spark, source, paths, cfg, out_dir, tracer=tr)
    wall = tr.spans[0]["end"] - tr.spans[0]["start"]
    pipe, res = rec["pipe"], rec["result"]
    stats = pipe.last_match_stats

    # counts after the traced wall (their jobs fall outside its job range)
    ds_raw, ds = tr.outputs["extract"], res["dataset"]
    n_extracted = ds_raw.count()
    n_pairs = tr.outputs["candidates"].count()
    n_exact = tr.outputs["prepare"].count()
    live = stats.get("live_per_round", [])
    groups = stats.get("groups", [])
    stage_dirs = [r["stage"] for r in pipe.runner.lineage
                  if r["group_id"] == -1] if source == "points" else []
    counts = {
        "extract.rows_out": n_extracted,
        "dedup.self_pairs": self_pairs(
            ref_dedup(ds_raw, "url"), cfg, cfg.duplicate_distance).count(),
        "dedup.dropped_rows": n_extracted - ds.count(),
        "osm_prep.rows_out": res["osm"].count(),
        "candidates.explode_rows": kring_explode(
            ds.select("id", "lat", "lon"), "lat", "lon", cfg.cell_m).count(),
        "candidates.pairs": n_pairs,
        "prepare.pairs_exact": n_exact,
        "candidates.yield": n_exact / n_pairs if n_pairs else 0.0,
        "greedy.rounds": stats.get("rounds", 0),
        "greedy.deferred_pairs": sum(live[1:]),
        "greedy.kernel_cpu_s": sum(g["wall_ms"] for g in groups) / 1000.0,
        "greedy.kernel_max_s": max((g["wall_ms"] for g in groups), default=0.0) / 1000.0,
        "greedy.salt_splits": len(stats.get("salt_splits", [])),
        "changes.rows_out": sum(rec["summary"]["counts"].values()),
        # the output layer writes the *_out tables and the tiles stage
        "output.bytes_written": sum(
            dir_bytes(os.path.join(out_dir, d)) for d in
            [f"{n}_out" for n in (*OUTPUTS, "lineage")] + ["tiles"]
        ) if source == "points" else 0,
        "lineage.ckpt_bytes": sum(
            dir_bytes(os.path.join(out_dir, d)) for d in stage_dirs if d != "tiles"),
    }
    self_times = tr.self_times()
    return dict(wall_s=wall, summary=rec["summary"], changes=rec["changes"],
                pipe=pipe, spans=tr.spans, self_times=self_times,
                layer_walls={layer: self_times.get(layer, 0.0) for layer in LAYERS},
                counts=counts, spark=job_group_metrics(spark, tr.first_job, tr.last_job),
                greedy_stats={k: v for k, v in stats.items() if k != "groups"})


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def clear_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)


# ---------------------------------------------------------------------------
# Spark metrics from the JVM status store (works with the UI disabled)
# ---------------------------------------------------------------------------

def next_job_id(sc) -> int:
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1) + 1


def job_group_metrics(spark: SparkSession, first_job: int, last_job: int) -> dict:
    """Per job group (None = untagged) over jobs first_job..last_job:
    jobs, executed stages, run/cpu/gc time, shuffle write and spill
    bytes, and the task skew (max / median task run time) of the
    group's heaviest stage.  A stage is charged to the first job that
    lists it; skipped stages are not counted."""
    sc = spark.sparkContext
    st = sc._jsc.sc().statusStore()
    jobs = st.jobsList(None)
    by_id = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if first_job <= j.jobId() <= last_job:
            by_id[j.jobId()] = j
    seen: set[int] = set()
    out: dict = {}
    for jid in sorted(by_id):
        j = by_id[jid]
        g = j.jobGroup()
        rec = out.setdefault(g.get() if g.isDefined() else None, dict(
            jobs=0, stages=0, run_s=0.0, cpu_s=0.0, gc_s=0.0,
            shuffle_bytes=0, spill_bytes=0, task_skew=1.0, _heavy=(-1, 0, 0)))
        rec["jobs"] += 1
        sids = j.stageIds()
        for k in range(sids.size()):
            sid = sids.apply(k)
            if sid in seen:
                continue
            seen.add(sid)
            s = st.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["run_s"] += s.executorRunTime() / 1e3
            rec["cpu_s"] += s.executorCpuTime() / 1e9
            rec["gc_s"] += s.jvmGcTime() / 1e3
            rec["shuffle_bytes"] += s.shuffleWriteBytes()
            rec["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if s.executorRunTime() > rec["_heavy"][0]:
                rec["_heavy"] = (s.executorRunTime(), sid, s.attemptId())
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    for rec in out.values():
        _run, sid, attempt = rec.pop("_heavy")
        if _run < 0:
            continue
        dist = st.taskSummary(sid, attempt, quantiles)
        if dist.isDefined():
            q = dist.get().executorRunTime()
            rec["task_skew"] = q.apply(1) / max(q.apply(0), 1.0)
    return out


def pinned_rdds(spark: SparkSession) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def sweep(spark: SparkSession) -> None:
    """What ``bench.py`` does between runs: unpersist every pinned RDD
    and run a JVM GC so the context cleaner drops old shuffle files."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark.sparkContext._jvm.System.gc()
    time.sleep(1)
