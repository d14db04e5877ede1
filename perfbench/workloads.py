"""The two CalTopo workloads.

Both run the reference dataflow (fetch → decode → folder split →
null-geometry drop → InputFeature projection → coordinate truncation →
folder join → submit) through the package's public functions, one
operation after another (a closed loop with one client), and post into
the stub poster through ``sink.submit_idempotent``; the posted bodies
are checked after each operation.

- ``caltopo_bulk``: one operation is a batch of many maps read from the
  archived JSONL form.  Its output is above ``sink.DRIVER_COLLECT_MAX``,
  so the sink posts from executor tasks.
- ``caltopo_maps``: one operation is one map fetched through the
  injected fetcher (``pipeline.run_from_api``), the reference's
  one-map-per-invocation shape; the sink takes the driver POST path.

Every workload also exposes its pipeline as successive prefixes
(source, decode, transform, join) so the traced run can force each one
into the noop sink and time the layers by difference.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_caltopo_spark.caltopo import decode, pipeline, sink, source, transform
from perfbench import gen, stub

SUBMIT_URL = "http://stub.invalid/api/etl/submit"

#: (maps, features per map) per size.  Features per map lie inside
#: SURVEY.md's O(10^2-10^4) features per run (task.ts:92); the exact
#: sizes and the maps per bulk batch are assumed, chosen so that one
#: operation takes seconds.
SIZES = {
    "caltopo_bulk": {"full": (12, 1000), "tiny": (2, 40)},
    "caltopo_maps": {"full": (8, 400), "tiny": (2, 30)},
}

LAYERS = ("caltopo.source", "caltopo.decode", "caltopo.transform", "caltopo.join")


@dataclass
class Op:
    """One unit of work: what to feed the pipeline and what the sink
    must receive for it."""

    label: str
    maps: int
    features_in: int
    expect: gen.Expect
    #: builds the envelopes DataFrame
    source: Callable[[], DataFrame]
    #: builds the pipeline output the way a user composes it
    run: Callable[[], DataFrame]


def make_inputs(workload: str, spark, seed: int, workdir: str, size: str) -> list[Op]:
    """The operations of one run, generated from ``seed``; bulk ops
    read a JSONL file written to ``workdir``."""
    n_maps, n_features = SIZES[workload][size]
    if workload == "caltopo_bulk":
        envelopes = gen.make_maps(seed, n_maps, n_features, prefix="bulk")
        return [_batch(spark, envelopes, os.path.join(workdir, "bulk.jsonl"))]
    return _map_ops(spark, gen.make_maps(seed, n_maps, n_features, prefix="map"))


def cold_op(workload: str, spark, seed: int, workdir: str, size: str) -> Op:
    """The first operation of a run, which pays the start-up costs
    (Python workers, code generation, JIT): one map through the
    workload's own path, so that on ``caltopo_bulk`` those costs are not
    paid on a full batch."""
    envelopes = gen.make_maps(seed, 1, SIZES[workload][size][1], prefix="cold")
    if workload == "caltopo_bulk":
        return _batch(spark, envelopes, os.path.join(workdir, "cold.jsonl"))
    return _map_ops(spark, envelopes)[0]


def _map_ops(spark, envelopes: list[gen.Envelope]) -> list[Op]:
    """One operation per map, each fetched through the injected
    fetcher."""
    fetch = stub.make_fetcher(envelopes)
    ops = []
    for env in envelopes:
        sid = env.share_id
        ops.append(
            Op(
                label=sid,
                maps=1,
                features_in=env.features_in,
                expect=env.expect,
                source=lambda sid=sid: source.fetch_envelopes(spark, [sid], -500, fetch),
                run=lambda sid=sid: pipeline.run_from_api(spark, {"ShareId": sid}, fetcher=fetch),
            )
        )
    return ops


def _batch(spark, envelopes: list[gen.Envelope], path: str) -> Op:
    """A bulk operation: ``envelopes`` written as one JSONL file at
    ``path`` and read back by the pipeline."""
    gen.write_jsonl(envelopes, path)

    def read():
        return source.envelopes_from_jsonl(spark, path)

    return Op(
        label="batch",
        maps=len(envelopes),
        features_in=sum(e.features_in for e in envelopes),
        expect=gen.total_expect(envelopes),
        source=read,
        run=lambda: pipeline.run_pipeline(read()),
    )


def prefixes(op: Op) -> list[tuple[str, Callable[[], DataFrame]]]:
    """Builders of the successive pipeline prefixes, each from a fresh
    source: forcing prefix k costs layers 1..k."""

    def upto(k: int):
        def build() -> DataFrame:
            frames = [op.source()]
            feats = decode.decode_envelope(frames[0])
            frames.append(feats)
            folders, rest = transform.split_folders(feats)
            frames.append(transform.to_input_features(transform.drop_null_geometry(rest)))
            frames.append(transform.attach_folder_paths(frames[2], folders))
            return frames[k]

        return build

    return [(layer, upto(k)) for k, layer in enumerate(LAYERS)]


def same_plan(a: DataFrame, b: DataFrame) -> bool:
    """Whether two DataFrames have the same analyzed plan, up to
    expression ids and the identity of in-memory source data (each
    fetch builds a new RDD of the same rows): their canonical forms
    print the same."""

    def canonical(df: DataFrame) -> str:
        return df._jdf.queryExecution().analyzed().canonicalized().toString()

    return canonical(a) == canonical(b)


def widen_points(df: DataFrame) -> DataFrame:
    """Deliberate fault for the self-tests: append a 4th element to
    every Point position after truncation, as a broken truncation
    would."""
    widened = F.concat(F.expr("substring(geometry_json, 1, length(geometry_json) - 1)"), F.lit(",9.0]"))
    return df.withColumn(
        "geometry_json",
        F.when(F.col("geometry_type") == "Point", widened).otherwise(F.col("geometry_json")),
    )


def submit(df: DataFrame, post_dir: str) -> int:
    return sink.submit_idempotent(df, SUBMIT_URL, stub.make_poster(post_dir))
