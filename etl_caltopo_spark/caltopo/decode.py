"""Typed decode of the CalTopo API envelope (ref task.ts:71-92).

``from_json`` against the declared envelope schema is the analog of
the reference's ``res.typed(schema)``: FAILFAST mode throws on
mismatch (task.ts throws), PERMISSIVE degrades to nulls.  The ragged
``geometry.coordinates`` subtree (Type.Any(), task.ts:81) is captured
as raw JSON text by declaring it StringType — Spark's JSON parser
re-serializes non-string tokens, so no information is lost and the
typed re-parse happens only in the geometry operators.

Then the nested-field drill + explode (task.ts:92): one row per
feature, properties flattened to the FIXTURES.md A.2 working schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_caltopo_spark.caltopo.columns import per_gateway
from etl_caltopo_spark.caltopo.schemas import ENVELOPE_SCHEMA


def decode_envelope(
    envelopes: DataFrame, body_col: str = "body_json", strict: bool = True
) -> DataFrame:
    """Envelope JSON strings → flat per-feature rows.

    Input: any DataFrame with a JSON string column (one envelope per
    row — the reference processes exactly one per invocation, the
    engine takes any number).
    Output: the flat ``caltopo_features`` working table.

    ``strict=True`` reproduces the reference's throw-on-mismatch
    (res.typed, task.ts:71): from_json's FAILFAST only rejects
    *malformed* JSON — well-formed JSON missing required envelope
    fields parses to nulls — so an ``assert_true`` guard raises at
    execution time when the envelope shape is wrong.  ``strict=False``
    is the PERMISSIVE mode: bad envelopes yield zero feature rows.
    """
    # carry the envelope identity (map/share id) so multi-map batches
    # keep per-map scope downstream — the folder lookup is per map
    scoped = "share_id" in envelopes.columns
    env, keep, exploded, flat = _decode_columns(body_col, strict, scoped)
    return (
        envelopes.withColumn("_env", env)
        .filter(keep)
        .select(*exploded)
        .select(*flat)
    )


@per_gateway
def _decode_columns(body_col: str, strict: bool, scoped: bool):
    """The Columns of :func:`decode_envelope`: the parsed envelope,
    the row filter, the explode projection and the flat projection."""
    env = F.from_json(F.col(body_col), ENVELOPE_SCHEMA, {"mode": "FAILFAST"})
    if strict:
        valid = (
            F.col("_env").isNotNull()
            & F.col("_env.result.state.features").isNotNull()
            & (F.col("_env.result.state.type") == "FeatureCollection")
        )
        # the guard must run per input row BEFORE explode (a null
        # features array would otherwise emit zero rows and never
        # evaluate the assertion): assert_true returns null on
        # success, so isNull() is an always-true filter that throws on
        # invalid envelopes.
        keep = F.assert_true(
            valid,
            F.concat(F.lit("envelope failed schema validation: "), F.col(body_col)),
        ).isNull()
    else:
        keep = F.col("_env.result.state.features").isNotNull()
    carry = (F.col("share_id"),) if scoped else ()
    exploded = (
        *carry,
        F.col("_env.result.timestamp").alias("state_timestamp"),
        F.explode("_env.result.state.features").alias("f"),
    )
    p = "f.properties"
    flat = (
        *carry,
        F.col("f.id").alias("id"),
        F.col(f"{p}.class").alias("class"),
        F.col(f"{p}.title").alias("title"),
        F.col(f"{p}.description").alias("description"),
        F.col(f"{p}.creator").alias("creator"),
        F.col(f"{p}.updated").alias("updated"),
        F.col(f"{p}.marker-symbol").alias("marker_symbol"),
        F.col(f"{p}.marker-rotation").alias("marker_rotation"),
        F.col(f"{p}.marker-color").alias("marker_color"),
        F.col(f"{p}.marker-size").alias("marker_size"),
        F.col(f"{p}.stroke").alias("stroke"),
        F.col(f"{p}.stroke-opacity").alias("stroke_opacity"),
        F.col(f"{p}.stroke-width").alias("stroke_width"),
        F.col(f"{p}.pattern").alias("pattern"),
        F.col(f"{p}.fill").alias("fill"),
        F.col(f"{p}.fill-opacity").alias("fill_opacity"),
        F.col(f"{p}.folderId").alias("folder_id"),
        F.col(f"{p}.visible").alias("visible"),
        F.col(f"{p}.labelVisible").alias("label_visible"),
        F.col(f"{p}.icon").alias("icon"),
        F.col("f.geometry.type").alias("geometry_type"),
        F.col("f.geometry.coordinates").alias("geometry_json"),
        F.col("state_timestamp"),
    )
    return env, keep, exploded, flat
