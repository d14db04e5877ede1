"""Self-tests of the benchmark at tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end tests run ``perfbench/run.py`` from the command line
and read its last stdout line; each starts a JVM, so the file takes a
few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, stub  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _run(*extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1", "--size", "tiny", *extra],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _body(features: list[dict]) -> str:
    return json.dumps({"type": "FeatureCollection", "features": features})


def _headers(body: str) -> dict:
    return {"Idempotency-Key": hashlib.sha256(body.encode()).hexdigest()}


def test_generator_is_seeded():
    a = gen.make_envelope(7, "m0", 60)
    b = gen.make_envelope(7, "m0", 60)
    c = gen.make_envelope(8, "m0", 60)
    assert a.body == b.body and a.expect == b.expect
    assert a.body != c.body
    assert 0 < a.expect.features < 60


def test_checker_accepts_what_the_generator_expects():
    """A body built from the generator's own truncated features passes."""
    env = gen.make_envelope(1, "m1", 80)
    feats = json.loads(env.body)["result"]["state"]["features"]
    folders = {f["id"]: f["properties"]["title"] for f in feats if f["properties"]["class"] == "Folder"}
    posted = []
    for f in feats:
        if f["properties"]["class"] == "Folder" or f["geometry"] is None:
            continue
        props = {}
        if f["properties"].get("folderId") in folders:
            props["path"] = "/" + folders[f["properties"]["folderId"]]
        if "marker-color" in f["properties"]:
            props["marker-color"] = "#" + f["properties"]["marker-color"]
        geom = {"type": f["geometry"]["type"], "coordinates": gen.truncated(f["geometry"]["coordinates"])}
        posted.append({"id": f["id"], "type": "Feature", "properties": props, "geometry": geom})
    body = _body(posted)
    assert stub.verdict(stub.inspect_body(body, _headers(body)), env.expect) == []


def test_checker_flags_a_four_element_position():
    body = _body(
        [{"id": "a", "type": "Feature", "properties": {}, "geometry": {"type": "Point", "coordinates": [1.0, 2.0, 3.0, 4.0]}}]
    )
    counts = stub.inspect_body(body, _headers(body))
    assert dict(zip(stub.FIELDS, counts))["violations"] == 1
    assert stub.verdict(counts, gen.Expect(features=1)) != []


def test_checker_flags_an_unprefixed_marker_and_a_wrong_key():
    body = _body(
        [{"id": "a", "type": "Feature", "properties": {"marker-color": "FF0000"}, "geometry": {"type": "Point", "coordinates": [1.0, 2.0]}}]
    )
    assert dict(zip(stub.FIELDS, stub.inspect_body(body, _headers(body))))["violations"] == 1
    assert dict(zip(stub.FIELDS, stub.inspect_body(body, {"Idempotency-Key": "x"})))["violations"] == 2


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_emits_every_metric_with_its_unit(workload, trace):
    res = _result(_run("--workload", workload, "--trace", str(trace)))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in declared}
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())


def test_plan_check_tells_the_join_prefix_from_other_plans(tmp_path):
    """The traced run's guard: the join prefix plans like the submitted
    operation on both workloads, and a shorter prefix does not."""
    from etl_caltopo_spark.session import build_spark
    from perfbench import workloads

    spark = build_spark(app_name="perfbench-selftest")
    try:
        for name in ("caltopo_maps", "caltopo_bulk"):
            op = workloads.make_inputs(name, spark, 3, str(tmp_path), "tiny")[0]
            steps = workloads.prefixes(op)
            assert workloads.same_plan(steps[-1][1](), op.run())
            assert not workloads.same_plan(steps[-2][1](), op.run())
    finally:
        spark.stop()


def test_corrupted_output_counts_as_failed():
    """A 4-element position reaching the poster fails every operation."""
    res = _result(_run("--workload", "caltopo_maps", "--trace", "0", "--fault", "wide-position"))
    assert res["correct"] is False
    assert res["failed"] == res["attempted"] >= 1


def test_fails_without_the_program(tmp_path):
    """Where only the benchmark's own files exist, it exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "__pycache__")
    )
    proc = _run("--workload", "caltopo_maps", "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
