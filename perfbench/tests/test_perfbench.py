"""The benchmark's own tests: seeded inputs, a smoke run of every workload,
and a cross-check of the status-store shuffle figure against the plan's.

Run from the repository root:  python -m pytest perfbench/tests -q
(the smoke runs start a Spark session per workload and mode: a few minutes).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(d, f), path).encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize(
    "kind,size",
    [
        ("star", {"scale": 0.001}),
        ("corpus", {"docs": 500, "vecs": 500}),
        ("lake", {"rows": 1000, "cycles": 2}),
    ],
)
def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path, kind, size):
    a = gen.ensure(str(tmp_path / "a"), kind, 7, **size)
    b = gen.ensure(str(tmp_path / "b"), kind, 7, **size)
    c = gen.ensure(str(tmp_path / "c"), kind, 8, **size)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_star_tables_are_split_and_reordered(tmp_path):
    import pyarrow.parquet as pq

    a = gen.ensure(str(tmp_path), "star", 1, scale=0.001)
    b = gen.ensure(str(tmp_path), "star", 2, scale=0.001)
    parts = sorted(os.listdir(os.path.join(a, "lineitem.parquet")))
    assert len(parts) == gen.STAR_FILES
    first_a = pq.read_table(os.path.join(a, "orders.parquet", parts[0]))["o_orderkey"]
    first_b = pq.read_table(os.path.join(b, "orders.parquet", parts[0]))["o_orderkey"]
    assert first_a.to_pylist() != first_b.to_pylist()


def _bench_metrics() -> tuple[list[str], list[str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["end_to_end"]], [m["name"] for m in spec["per_layer"]]


def _processes_with_env(marker: bytes) -> list[int]:
    """Processes whose environment holds ``marker`` (descendants inherit it)."""
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/environ", "rb") as f:
                    if marker in f.read().split(b"\0"):
                        pids.append(int(entry))
            except OSError:
                continue
    return pids


@pytest.mark.parametrize("workload", ["star_analytics", "llm_curation", "lakehouse_writes"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_every_named_metric(workload, trace, tmp_path):
    """Every op of the workload passes its checks at sf 0.001, and no
    process the run started is still there the moment it exits. Output
    goes to files, not pipes: waiting for a pipe's end would also wait for
    any process that inherited it."""
    key, value = "PERFBENCH_SMOKE", f"{workload}-{trace}-{os.getpid()}"
    out, err = tmp_path / "out", tmp_path / "err"
    with open(out, "w") as fo, open(err, "w") as fe:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
            cwd=ROOT, stdout=fo, stderr=fe, env={**os.environ, key: value},
        )
        # Learn of the exit without reaping, then look at once.
        deadline = time.monotonic() + 600
        while os.waitid(os.P_PID, proc.pid, os.WEXITED | os.WNOWAIT | os.WNOHANG) is None:
            if time.monotonic() > deadline:
                proc.kill()
                break
            time.sleep(0.001)
        left = _processes_with_env(f"{key}={value}".encode())
        proc.wait()
    assert left == []
    assert proc.returncode == 0, err.read_text()[-3000:]
    lines = out.read_text().strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, lines[-2]
    assert result["failed"] == 0 and result["attempted"] >= 1
    e2e, per_layer = _bench_metrics()
    want = per_layer if trace else e2e
    assert sorted(result["metrics"]) == sorted(want)
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float)) and m["unit"]
    if not trace:
        assert all(result["metrics"][k]["value"] > 0 for k in e2e)


def test_run_outside_a_checkout_fails_without_a_result(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "llm_curation",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_status_store_shuffle_bytes_match_plan_metrics(tmp_path):
    """d04 collected under a job group: the shuffle bytes the status store
    reports for the group's stages equal the executed plan's Exchange
    metrics (``plans.metrics.shuffle_bytes_written``) plus the Exchanges
    inside the relations the plan cached."""
    from european_public_data_pipeline_spark import plans
    from european_public_data_pipeline_spark.plans import metrics as pm
    from european_public_data_pipeline_spark.session import get_spark
    from run import stop_session
    from tracing import StatusStore, stage_profile, walk_plan

    data = gen.ensure(str(tmp_path / "in"), "corpus", 5, docs=300, vecs=300)
    spark = get_spark(
        app_name="perfbench-test", master="local[2]", shuffle_partitions=2,
        extra_conf={"spark.sql.warehouse.dir": str(tmp_path / "wh"),
                    "spark.ui.showConsoleProgress": "false"},
    )
    try:
        spark.catalog.clearCache()
        group = "perfbench-test/d04"
        spark.sparkContext.setJobGroup(group, "d04")
        try:
            df = plans.all_specs()["d04_minhash_lsh_pairs"].builder(spark, data)
            df.collect()
        finally:
            spark.sparkContext.setJobGroup("", "")
        jobs, stages = StatusStore(spark).stages_for_group(group)
        status_bytes = stage_profile(jobs, stages, 0.0, 0.0)["operators.shuffle.write_bytes"]
        in_cache = sum(
            m.get("shuffleBytesWritten", 0)
            for name, m, cached in walk_plan(
                spark.sparkContext._jvm, df._jdf.queryExecution().executedPlan(), set()
            )
            if name == "Exchange" and cached
        )
        plan_bytes = pm.shuffle_bytes_written(df)
    finally:
        stop_session()
    assert in_cache > 0
    assert status_bytes == plan_bytes + in_cache
