"""Tests of the benchmark itself, at tiny sizes.

    python3 -m pytest perfbench/tests -q

In-process tests compare every workload's changes, untraced and traced,
with the O(n^2) reference oracle, and the benchmark's component-wise
oracle with the whole one; subprocess tests run the command the way
BENCHMARK.json names it and check its printed result.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import check  # noqa: E402
import drive  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from osm_conflate_spark import reference_model as rm  # noqa: E402
from osm_conflate_spark.config import ConflateConfig  # noqa: E402
from osm_conflate_spark.gen import gen_pages, parse_tags_raw  # noqa: E402
from osm_conflate_spark.sources.extract import extract_poi  # noqa: E402

ORACLE_N = 2000  # the oracle is O(n^2) Python
CLI_N = 600
SEED = 11

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def tiny(name: str, n: int) -> workloads.Workload:
    return dataclasses.replace(workloads.WORKLOADS[name], n=n)


def change_set(rows) -> set:
    """Order-free comparison surface of a change row list (Spark rows
    or oracle dicts)."""
    out = set()
    for r in rows:
        d = r if isinstance(r, dict) else r.asDict()
        out.add((
            d["action"], d["osm_type"], d["osm_id"], d["version"],
            round(d["lat"], 9), round(d["lon"], 9), tuple(sorted(d["tags"].items())),
            d["dataset_id"],
            None if d["match_dist"] is None else round(d["match_dist"], 9),
        ))
    return out


@pytest.fixture(scope="module")
def spark():
    settings = run.box_settings()
    s, _setup = run.start_session(settings)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def results(spark, tmp_path_factory):
    """Untraced and traced tiny runs of every workload, one seed."""
    cache = str(tmp_path_factory.mktemp("cache"))
    out = {}
    for name in workloads.WORKLOADS:
        w = tiny(name, ORACLE_N)
        cfg = ConflateConfig(**workloads.conflate_config(w))
        paths, rows, want = workloads.ensure_inputs(w, SEED, cache)
        out_dir = os.path.join(cache, "out", name)
        recs = {}
        for kind, fn in (("untraced", drive.run), ("traced", drive.run_traced)):
            drive.clear_dir(out_dir)
            rec = fn(spark, w.source, paths, cfg, out_dir)
            rec["changes"] = change_set(rec["changes"].collect())
            recs[kind] = rec
            drive.sweep(spark)
        ds, osm = workloads.generate(w, SEED)
        if w.source == "pages":
            # the oracle starts from the points the extractor parses out
            # of the html: its float parse is not always correctly
            # rounded, so some coordinates differ from the generator's
            # by one ulp
            poi = extract_poi(gen_pages(ds, seed=SEED)["html"])
            assert (poi["poi_id"].to_numpy() == ds["id"].to_numpy()).all()
            ds = ds.assign(lat=poi["poi_lat"].to_numpy(), lon=poi["poi_lon"].to_numpy())
        oracle = rm.conflate(
            [rm.SourcePoint(r.id, float(r.lat), float(r.lon), parse_tags_raw(r.tags_raw))
             for r in ds.itertuples()],
            [rm.OSMPoint(r.osm_type, int(r.osm_id), int(r.version), float(r.lat),
                         float(r.lon), parse_tags_raw(r.tags_raw))
             for r in osm.itertuples()],
            cfg,
        )
        out[name] = dict(recs, oracle=change_set(oracle["changes"]),
                         oracle_summary=check.oracle_summary(oracle["changes"]),
                         expected=want, key=workloads.input_key(w, SEED))
    return out


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
@pytest.mark.parametrize("kind", ["untraced", "traced"])
def test_matches_reference_oracle(results, name, kind):
    got = results[name][kind]["changes"]
    assert got == results[name]["oracle"]
    assert sum(results[name][kind]["summary"]["counts"].values()) == len(got)


def test_componentwise_oracle_is_the_whole_oracle(results):
    """The expected summary each run is checked against equals that of
    one ``reference_model.conflate`` call over the whole input."""
    for name, r in results.items():
        assert r["expected"] == r["oracle_summary"], name
        assert check.compare(r["expected"], r["untraced"]["summary"]) is None


def test_pages_and_points_agree(results):
    """Same points through extraction or pre-extracted: same changes."""
    assert results["pages_uniform"]["key"] == results["points_out"]["key"]
    for kind in ("untraced", "traced"):
        assert (results["pages_uniform"][kind]["summary"]
                == results["points_out"][kind]["summary"])


def test_traced_run_is_the_pipeline_run(results):
    """The traced run is ``ConflatePipeline.run`` itself: same changes,
    and the lineage rows only ``ConflatePipeline.match`` writes."""
    for name, r in results.items():
        assert r["traced"]["summary"] == r["untraced"]["summary"], name
        stages = {rec["stage"] for rec in r["traced"]["pipe"].runner.lineage}
        assert {"dataset_prep", "osm_prep", "match", "match_kernel",
                "changes", "tiles"} <= stages, name
    assert "salt_split" in {rec["stage"] for rec in
                            results["pages_hotspot"]["traced"]["pipe"].runner.lineage}


def test_hotspot_fires_the_skew_guard(results):
    c = results["pages_hotspot"]["traced"]["counts"]
    assert c["greedy.salt_splits"] >= 1
    assert c["greedy.rounds"] >= 2
    assert results["pages_uniform"]["traced"]["counts"]["greedy.salt_splits"] == 0


def test_layer_walls_add_up(results):
    for name, r in results.items():
        t = r["traced"]
        root = t["spans"][0]
        assert root["name"] == "run" and root["parent"] is None
        assert all(s["run_id"] == root["run_id"] for s in t["spans"])
        assert math.isclose(sum(t["self_times"].values()),
                            root["end"] - root["start"], rel_tol=1e-9), name
        assert set(t["self_times"]) <= {"run", "pipeline", *drive.LAYERS}, name


def test_tampered_digest_fails_the_check():
    rows = [("create", "a", "node", None, {"k": "v"}),
            ("modify", "b", "node", 7, {"k": "w"})]
    summary = check.summary_of(rows)
    assert check.compare(summary, check.summary_of(reversed(rows))) is None
    assert "digest" in check.compare(summary, dict(summary, digest="0" * 32))
    retagged = check.summary_of([rows[0], ("modify", "b", "node", 7, {"k": "x"})])
    assert "digest" in check.compare(summary, retagged)
    recounted = dict(summary, counts=dict(summary["counts"], create=4))
    assert "counts" in check.compare(summary, recounted)


# ---------------------------------------------------------------------------
# the command, as BENCHMARK.json names it
# ---------------------------------------------------------------------------

def _spark_pids() -> set[int]:
    """Processes, running or not yet reaped, that may belong to a Spark
    session: JVMs, and Python processes of pyspark (a zombie keeps its
    name but not its command line)."""
    pids = set()
    for name in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{name}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmdline = f.read()
        except OSError:  # the process ended while we listed
            continue
        if comm == "java" or b"pyspark" in cmdline:
            pids.add(int(name))
    return pids


def _command(cwd: str, workload: str, trace: int):
    """Run the command; it must leave no process behind."""
    cmd = SPEC["command"] + ["--workload", workload, "--seed", str(SEED),
                             "--seconds", "0", "--trace", str(trace),
                             "--size", str(CLI_N)]
    cmd[0] = sys.executable if cmd[0] == "python3" else cmd[0]
    before = _spark_pids()
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    assert _spark_pids() <= before, "the command left a Spark process running"
    return proc


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    return res


def _assert_metrics(res: dict, listed: list) -> None:
    assert set(res["metrics"]) == {m["name"] for m in listed}
    for m in listed:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_command_emits_every_per_layer_metric(workload):
    res = _result(_command(ROOT, workload, 1))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 3
    _assert_metrics(res, SPEC["per_layer"])
    v = {k: m["value"] for k, m in res["metrics"].items()}
    assert v["extract.rows_out"] > 0 and v["changes.rows_out"] > 0
    writes = v["lineage.ckpt_bytes"] > 0 and v["output.bytes_written"] > 0
    if workload == "pages_hotspot":
        assert v["greedy.salt_splits"] >= 1 and not writes
    if workload == "points_out":
        assert v["greedy.salt_splits"] == 0 and writes


def test_command_emits_every_e2e_metric_and_fails_a_tampered_digest():
    w = tiny("pages_uniform", CLI_N)
    paths, _rows, _want = workloads.ensure_inputs(w, SEED, run.CACHE)
    done = os.path.join(os.path.dirname(paths["source"]), "DONE")
    with open(done) as f:
        saved = f.read()
    try:
        meta = json.loads(saved)
        meta["expected"]["digest"] = "0" * 32
        with open(done, "w") as f:
            json.dump(meta, f)
        res = _result(_command(ROOT, "pages_uniform", 0))
    finally:
        with open(done, "w") as f:
            f.write(saved)
    _assert_metrics(res, SPEC["end_to_end"])
    assert res["correct"] is False
    assert res["attempted"] >= 2 and res["failed"] == res["attempted"]


def test_command_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _command(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert not any(ln.startswith("{") for ln in proc.stdout.splitlines())


def test_benchmark_json_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert 2 <= len(SPEC["workloads"]) <= 8
    assert all(w["name"] in workloads.WORKLOADS for w in SPEC["workloads"])
    assert all(len(w["why"]) <= 200 for w in SPEC["workloads"])
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert list(e2e) == list(run.E2E_UNITS)
    assert all(e2e[n]["unit"] == u for n, u in run.E2E_UNITS.items())
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert [m["name"] for m in SPEC["per_layer"]] == list(run.LAYER_UNITS)
    assert all(m["unit"] == run.LAYER_UNITS[m["name"]] for m in SPEC["per_layer"])
