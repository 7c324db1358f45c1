"""Ad-hoc sub-stage profiler for dataset_prep + match (scaling work).

Usage: [taskset -c 0-N] python scripts/profile_stages.py <cpus> [n_pages]
Prints per-sub-step wall seconds at the given parallelism.
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 32
n = int(sys.argv[2]) if len(sys.argv) > 2 else 3_000_000

from pyspark.sql import functions as F

from osm_conflate_spark.config import ConflateConfig
from osm_conflate_spark.functions import tags as tagfns
from osm_conflate_spark.operators.candidates import candidate_pairs, self_pairs, with_osm_pk
from osm_conflate_spark.operators.dedup import ref_dedup
from osm_conflate_spark.operators.match import prepare_pairs
from osm_conflate_spark.plans.pipeline import build_session
from osm_conflate_spark.sources.extract import EXTRACT_SCHEMA, extract_pages_iter, poi_tags_map_sql

from bench import ensure_bench_tables

spark = build_session(app="prof",
                      master=os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]",
                      shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", 32)),
                      extra_conf={"spark.executor.memory": os.environ.get("SPARK_GRAFT_EXEC_MEM", "7g")})
spark.sparkContext.setLogLevel("ERROR")
pages_path, osm_path = ensure_bench_tables(spark, n)
cfg = ConflateConfig()

def step(name, fn):
    t0 = time.monotonic()
    out = fn()
    print(f"{name}: {time.monotonic() - t0:.1f}s", flush=True)
    return out

def load():
    pages = spark.read.parquet(pages_path).select("url", "warc_ts", "html", "lang")
    extracted = pages.mapInPandas(extract_pages_iter, EXTRACT_SCHEMA)
    return extracted.select(
        F.col("poi_id").alias("id"), F.col("poi_lat").alias("lat"),
        F.col("poi_lon").alias("lon"),
        F.expr(poi_tags_map_sql("poi_tags_raw")).alias("tags"),
        F.lit(None).cast("string").alias("category"),
        F.lit(None).cast("string").alias("remarks"), "url",
    ).where(F.col("id").isNotNull())

for rep in range(2):
    print(f"--- rep {rep} (cpus={cpus}) ---", flush=True)
    ds0 = load()
    extracted = step("extract+checkpoint", lambda: ds0.localCheckpoint(eager=True))
    d1 = step("d1_window", lambda: ref_dedup(extracted, "url").localCheckpoint(eager=True))
    t = tagfns.apply_transform(d1.withColumn("tags", tagfns.normalize_tags("tags")), "tags", cfg)
    norm = step("f5f2+checkpoint", lambda: t.localCheckpoint(eager=True))
    pairs_d2 = step("d2_selfpairs+count", lambda: (lambda p: (p, p.count()))(
        self_pairs(norm, cfg, cfg.duplicate_distance).select("a_id", "b_id").localCheckpoint(eager=True))[0])
    dd_pd = step("d2_topandas+anti", lambda: (lambda _: norm.join(
        F.broadcast(spark.createDataFrame(pairs_d2.select("b_id").distinct().toPandas()["b_id"].to_frame("id"), "id string")),
        "id", "left_anti").localCheckpoint(eager=True))(None))
    osm = spark.read.parquet(osm_path).withColumn("tags", F.expr(poi_tags_map_sql("tags_raw"))).drop("tags_raw")
    osmc = step("osm_prep+checkpoint", lambda: with_osm_pk(osm).localCheckpoint(eager=True))
    cand = candidate_pairs(dd_pd, osmc, cfg)
    prepared = step("j1_candidates+exactdist+checkpoint",
                    lambda: prepare_pairs(cand, cfg).localCheckpoint(eager=True))
    print("pairs:", prepared.count(), flush=True)
    from osm_conflate_spark.operators.match import greedy_match
    stats = {}
    unweighted = prepared.withColumn("negw", F.lit(0.0))  # as pipeline.match without a weight hook
    m = step("j2_greedy", lambda: (lambda r: (r, r.count()))(greedy_match(spark, unweighted, cfg, stats=stats))[0])
    print("rounds:", stats.get("rounds"), "live:", stats.get("live_per_round"), flush=True)
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
spark.stop()
