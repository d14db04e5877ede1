"""The CalTopo per-map fixed cost: a JVM-local source and stage
Columns built once per process.

- ``fetch_envelopes`` hands its rows to the JVM as an Arrow table, so
  the source is a ``LocalRelation`` (no PythonRDD, no Python worker in
  any task) with the same rows and schema as the old list path, and
  strict decode still raises on it.
- Each stage builds its Columns once; a repeat build must plan exactly
  like the first, also after the SparkContext is stopped and rebuilt
  in the same JVM (the benchmark's set-up pattern).
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from etl_caltopo_spark.caltopo import decode, geometry, transform
from etl_caltopo_spark.caltopo.decode import decode_envelope
from etl_caltopo_spark.caltopo.fixtures import fixture_envelope_json
from etl_caltopo_spark.caltopo.source import fetch_envelopes

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: every memoized Column builder of the pipeline stages
BUILDERS = (
    decode._decode_columns,
    geometry._truncation,
    transform._folder_columns,
    transform._has_geometry,
    transform._input_feature_columns,
    transform._folder_path,
)


def _fetcher(bodies: dict):
    return lambda url: bodies[url.split("/api/v1/map/")[1].split("/since/")[0]]


def _list_path(spark, bodies: dict):
    """The source as it was built before: a Python list of rows."""
    return spark.createDataFrame(list(bodies.items()), "share_id string, body_json string")


# ---------------------------------------------------------------------------
# JVM-local source
# ---------------------------------------------------------------------------


def test_source_is_a_local_relation(spark):
    df = fetch_envelopes(spark, ["m1"], fetcher=lambda url: fixture_envelope_json())
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.lstrip().startswith("LocalRelation"), analyzed
    assert "LogicalRDD" not in analyzed
    assert df.rdd.getNumPartitions() == 1


@pytest.mark.parametrize(
    "bodies",
    [
        {},
        {"m1": fixture_envelope_json(), "m2": '{"status": "ok"}'},
        {"kartē-ü": '{"title": "Équipe 🏔 Ålpha", "note": "日本語"}'},
    ],
    ids=["no-maps", "two-maps", "non-ascii"],
)
def test_source_rows_equal_list_path(spark, bodies):
    got = fetch_envelopes(spark, list(bodies), fetcher=_fetcher(bodies))
    want = _list_path(spark, bodies)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.mark.parametrize("action", ["count", "collect"])
def test_strict_decode_raises_on_invalid_envelope(spark, action):
    df = decode_envelope(fetch_envelopes(spark, ["m"], fetcher=lambda url: '{"status": 7}'))
    with pytest.raises(Exception, match="USER_RAISED_EXCEPTION") as err:
        getattr(df, action)()
    assert "envelope failed schema validation" in str(err.value)


@pytest.mark.parametrize("action", ["count", "collect"])
def test_strict_decode_raises_on_malformed_json(spark, action):
    df = decode_envelope(fetch_envelopes(spark, ["m"], fetcher=lambda url: "not json"))
    with pytest.raises(Exception):
        getattr(df, action)()


# ---------------------------------------------------------------------------
# Build-once stage Columns
# ---------------------------------------------------------------------------


def _canonical(df) -> str:
    return df._jdf.queryExecution().analyzed().canonicalized().toString()


def _stage_plans(spark, scoped: bool, strict: bool) -> list[str]:
    """Canonical analyzed plans of every stage prefix over the F1-F10
    envelope, with or without the ``share_id`` scope column."""
    envelopes = _list_path(spark, {"fixture-share": fixture_envelope_json()})
    if not scoped:
        envelopes = envelopes.select("body_json")
    features = decode_envelope(envelopes, strict=strict)
    folders, rest = transform.split_folders(features)
    alive = transform.drop_null_geometry(rest)
    shaped = transform.to_input_features(alive)
    joined = transform.attach_folder_paths(shaped, folders)
    return [_canonical(df) for df in (features, folders, rest, alive, shaped, joined)]


@pytest.mark.parametrize("strict", [True, False], ids=["strict", "permissive"])
@pytest.mark.parametrize("scoped", [True, False], ids=["share_id", "no-share_id"])
def test_repeat_build_plans_like_first(spark, scoped, strict):
    for build in BUILDERS:
        build.cache_clear()
    first = _stage_plans(spark, scoped, strict)
    repeat = _stage_plans(spark, scoped, strict)
    assert repeat == first


def test_stage_columns_are_built_once(spark):
    assert decode._decode_columns("body_json", True, True) is decode._decode_columns(
        "body_json", True, True
    )
    assert decode._decode_columns("body_json", True, True) is not decode._decode_columns(
        "body_json", False, True
    )
    assert transform._input_feature_columns(True) is transform._input_feature_columns(True)
    assert geometry._truncation("geometry_type", "geometry_json", 3) is not (
        geometry._truncation("geometry_type", "geometry_json", 2)
    )


_RESTART_SCRIPT = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, sys.argv[1])
    sys.path.insert(0, sys.argv[2])
    from etl_caltopo_spark.session import build_spark
    from etl_caltopo_spark.caltopo.fixtures import fixture_envelope_json
    from etl_caltopo_spark.caltopo.pipeline import run_from_api
    from test_caltopo_fixed_cost import _canonical, _stage_plans

    def one_round():
        spark = build_spark(app_name="restart-probe", master="local[2]")
        spark.sparkContext.setLogLevel("ERROR")
        plans = [_stage_plans(spark, s, t) for s in (True, False) for t in (True, False)]
        out = run_from_api(
            spark, {"ShareId": "m1"}, fetcher=lambda url: fixture_envelope_json()
        )
        rows = sorted(map(repr, out.collect()))
        plans.append([_canonical(out)])
        spark.stop()
        return plans, rows

    first, second = one_round(), one_round()
    print(json.dumps({"plans": first[0] == second[0], "rows": first[1] == second[1],
                      "n": len(first[1])}))
    """
)


def test_repeat_build_after_session_restart_in_same_jvm(tmp_path):
    """The benchmark stops the SparkContext and builds a new one in the
    same JVM between set-ups; cached Columns must plan and run alike
    on the new context.  Own process, so the suite's session stays."""
    script = tmp_path / "restart_probe.py"
    script.write_text(_RESTART_SCRIPT)
    proc = subprocess.run(
        [sys.executable, str(script), REPO, os.path.join(REPO, "tests")],
        capture_output=True,
        text=True,
        timeout=600,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = proc.stdout.strip().splitlines()[-1]
    assert result == '{"plans": true, "rows": true, "n": 14}', result
