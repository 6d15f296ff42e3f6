"""Four-subsystem composed streaming run (§3.2/§3.3 chained end to end):

discovery stream -> reconciled resource store (foreachBatch merge)
-> polling DSL program over walk snapshots (foreachBatch compile)
-> stateful rate stream -> enrichment join against the reconciled store
-> Kafka fan-out projection + influx line protocol,

with a checkpoint RESTART in the middle (every stage is stopped after
cycle 1 and restarted from its own checkpoint for cycle 2). The end
state must equal the batch replay of the same input:

- the resource store equals the batch ``apply_reconciliation`` fold of
  the two discovery sets;
- the streamed rates equal the batch ``rate_transform`` over the union
  of both polls' points (cycle-2 rates prove the rate state survived
  the restart);
- the fan-out/lines stage reads enrichment (site) from the RECONCILED
  store, so a device deleted by discovery cycle 2 polls but no longer
  fans out.
"""

import pytest
from pyspark.sql import functions as F

from panoptes_spark.operators.lineprotocol import to_line_protocol
from panoptes_spark.operators.rate import rate_transform
from panoptes_spark.operators.reconcile import apply_reconciliation
from panoptes_spark.streaming.ingest import prepare_fanout
from panoptes_spark.streaming.polling_stream import run_polling_stream
from panoptes_spark.streaming.rate_stream import rate_stream
from panoptes_spark.streaming.reconcile_stream import (
    ExactlyOnceResourceStoreWriter,
    reconcile_stream,
)


def _read_store(spark, store_path):
    """The r7 default store is manifest-resolved (exactly-once writer)."""
    return ExactlyOnceResourceStoreWriter(
        spark, store_path, identity_cols=["rid"]
    ).read()


RES_SCHEMA = "rid string, resource_creation_timestamp double, site string"
WALK_SCHEMA = (
    "device_id string, table_name string, index string, value string"
)
POINTS_SCHEMA = (
    "resource_id string, metrics_group_type string, ts_ms long,"
    " metric_value double"
)

PROGRAM = {
    "oids": {
        "bits_in": {"method": "get", "oid": ".1.2.0"},
        "poll_ts": {"method": "get", "oid": ".1.9.0"},
    },
    "metrics_groups": [
        {
            "group_name": "interface",
            "dimensions": {},
            "metrics": {
                "bits_in": {"metric_type": "counter", "value": "int(bits_in)"},
                "poll_ts": {"metric_type": "gauge", "value": "int(poll_ts)"},
            },
        }
    ],
}

# discovery cycle 1 (set ts 10): a @ dc1, b @ dc2
RES_SET1 = [("dev-a", 10.0, "dc1"), ("dev-b", 10.0, "dc2")]
# discovery cycle 2 (set ts 20): a updated, b GONE (delete), c added
RES_SET2 = [("dev-a", 20.0, "dc1"), ("dev-c", 20.0, "dc3")]

WALK1 = [
    ("dev-a", "bits_in", "0", "1000"), ("dev-a", "poll_ts", "0", "60"),
    ("dev-b", "bits_in", "0", "500"), ("dev-b", "poll_ts", "0", "60"),
]
WALK2 = [
    ("dev-a", "bits_in", "0", "7000"), ("dev-a", "poll_ts", "0", "120"),
    ("dev-b", "bits_in", "0", "800"), ("dev-b", "poll_ts", "0", "120"),
]


def _points_from_groups(groups):
    """Counter points stamped with the poll's own event time (the poll_ts
    gauge carried by the same compiled group) — no wall clock anywhere."""
    from panoptes_spark.dsl.metric_compiler import flatten_groups

    flat = flatten_groups(groups)
    counters = flat.where(F.col("metric_name") == "bits_in").select(
        F.col("device_id").alias("resource_id"),
        "metrics_group_type",
        F.col("metric_value").alias("metric_value"),
    )
    ts = flat.where(F.col("metric_name") == "poll_ts").select(
        F.col("device_id").alias("resource_id"),
        (F.col("metric_value") * 1000).cast("long").alias("ts_ms"),
    )
    return counters.join(ts, "resource_id").select(
        "resource_id", "metrics_group_type", "ts_ms", "metric_value"
    )


@pytest.mark.slow
def test_four_subsystem_composed_with_restart(spark, tmp_path):
    paths = {
        n: str(tmp_path / n)
        for n in ("res_src", "store", "walk_src", "points", "rates",
                  "ck_res", "ck_poll", "ck_rate")
    }

    def run_discovery(batch_rows, fname):
        spark.createDataFrame(batch_rows, RES_SCHEMA).coalesce(1).write.parquet(
            paths["res_src"] + "/" + fname
        )
        stream = spark.readStream.schema(RES_SCHEMA).parquet(
            paths["res_src"] + "/*"
        )
        q = reconcile_stream(
            stream, spark, paths["store"], paths["ck_res"],
            identity_cols=["rid"],
        )
        q.awaitTermination(180)

    def run_polling(walk_rows, fname):
        spark.createDataFrame(walk_rows, WALK_SCHEMA).coalesce(1).write.parquet(
            paths["walk_src"] + "/" + fname
        )
        stream = spark.readStream.schema(WALK_SCHEMA).parquet(
            paths["walk_src"] + "/*"
        )

        def sink(groups, batch_id):
            _points_from_groups(groups).write.mode("append").parquet(
                paths["points"]
            )

        q = run_polling_stream(
            spark, stream, PROGRAM, sink,
            checkpoint_dir=paths["ck_poll"],
        )
        q.processAllAvailable()
        q.stop()

    def run_rates():
        stream = spark.readStream.schema(POINTS_SCHEMA).parquet(
            paths["points"]
        )
        q = (
            # 600 s interval -> 30 min processing-time state TTL, so a
            # slow local restart cannot expire rate state mid-test
            rate_stream(stream, interval_sec=600)
            .writeStream.format("parquet")
            .option("path", paths["rates"])
            .option("checkpointLocation", paths["ck_rate"])
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # ---- cycle 1: discover set1, poll walk1, rate (no output yet) ------
    run_discovery(RES_SET1, "b1")
    store1 = {(r.rid, r.site) for r in _read_store(spark, paths["store"]).collect()}
    assert store1 == {("dev-a", "dc1"), ("dev-b", "dc2")}
    run_polling(WALK1, "b1")
    run_rates()
    assert not any(
        f.name.endswith(".parquet")
        for f in (tmp_path / "rates").glob("part-*")
    ) or spark.read.parquet(paths["rates"]).count() == 0

    # ---- restart every stage from its checkpoint for cycle 2 -----------
    run_discovery(RES_SET2, "b2")
    run_polling(WALK2, "b2")
    run_rates()

    # ---- reconciled store equals the batch fold -------------------------
    empty = spark.createDataFrame([], RES_SCHEMA)
    m1 = apply_reconciliation(
        empty, spark.createDataFrame(RES_SET1, RES_SCHEMA), 10.0, ["rid"],
        "resource_creation_timestamp",
    )
    m2 = apply_reconciliation(
        m1, spark.createDataFrame(RES_SET2, RES_SCHEMA), 20.0, ["rid"],
        "resource_creation_timestamp",
    )
    batch_store = {(r.rid, r.site) for r in m2.collect()}
    stream_store = {
        (r.rid, r.site) for r in _read_store(spark, paths["store"]).collect()
    }
    assert stream_store == batch_store == {("dev-a", "dc1"), ("dev-c", "dc3")}

    # ---- streamed rates equal the batch rate over all points -----------
    all_points = spark.read.parquet(paths["points"])
    batch_rates = {
        (r.resource_id, r.ts_ms, r.rate)
        for r in rate_transform(
            all_points, ["resource_id", "metrics_group_type"],
            interval_sec=600,
        ).collect()
    }
    stream_rates = {
        (r.resource_id, r.ts_ms, r.rate)
        for r in spark.read.parquet(paths["rates"]).collect()
    }
    # cycle-2 rates computed against cycle-1 samples recovered from the
    # rate checkpoint: (7000-1000)/60 s and (800-500)/60 s
    assert stream_rates == batch_rates == {
        ("dev-a", 120000, 100.0), ("dev-b", 120000, 5.0)
    }

    # ---- enrichment join + fan-out + influx lines -----------------------
    from panoptes_spark.streaming.polling_stream import compile_batch

    groups2 = compile_batch(
        spark, spark.createDataFrame(WALK2, WALK_SCHEMA), PROGRAM
    )
    store_df = _read_store(spark, paths["store"])
    wire = (
        groups2.join(
            F.broadcast(store_df),
            groups2.device_id == store_df.rid,
        )
        .select(
            "metrics_group_type",
            "metrics_group_interval",
            F.lit(120.0).alias("metrics_group_creation_timestamp"),
            F.lit("0.2").alias("metrics_group_schema_version"),
            F.struct(
                F.col("device_id").alias("resource_id"),
                F.col("site").alias("resource_site"),
                F.lit("network").alias("resource_class"),
                F.lit("switch").alias("resource_subclass"),
                F.lit("test").alias("resource_type"),
                F.concat(F.col("device_id"), F.lit(".net")).alias(
                    "resource_endpoint"
                ),
                F.col("resource_creation_timestamp"),
                F.lit("p").alias("resource_plugin"),
                F.create_map(F.lit("make"), F.lit("X")).alias(
                    "resource_metadata"
                ),
            ).alias("resource"),
            "metrics",
            "dimensions",
        )
    )
    # dev-b still polls but was deleted by discovery cycle 2 -> dropped by
    # the enrichment join; dev-c is discovered but never polled
    fanned = prepare_fanout(wire, global_topic="global-processed").collect()
    by_topic = {}
    for r in fanned:
        by_topic.setdefault(r.topic, []).append(r)
    assert set(by_topic) == {"dc1-processed", "global-processed"}
    assert all(
        '"resource_id":"dev-a"' in r.value.replace(" ", "")
        for r in fanned
    )

    lines = [r.line for r in to_line_protocol(wire).collect()]
    assert len(lines) > 0
    assert all(l.startswith("interface,resource_class=network") for l in lines)
    assert any("bits_in__counter=7000" in l for l in lines)
    assert all("resource_site" not in l or "dc1" in l for l in lines)


# points for the streaming-parity run: two poll cycles 60 s apart; dev-b
# is deleted by discovery cycle 2 so its rate computes but must not
# enrich/fan out — the composed test's cycle-2 assertion, checked here
# through the telemetry_e2e plan tail itself
PTS1 = [("dev-a", "ifc", 60_000, 1000.0), ("dev-b", "ifc", 60_000, 500.0)]
PTS2 = [("dev-a", "ifc", 120_000, 7000.0), ("dev-b", "ifc", 120_000, 800.0)]


@pytest.mark.slow
def test_streaming_end_state_matches_batch_plan(spark, tmp_path):
    """r7 directive 8: the composed STREAMING run's end state equals the
    ``telemetry_e2e`` BATCH plan's result on the same input — both sides
    routed through the shared ``telemetry_end_state`` tail (parity, not
    a new oracle) — with every stage restarted from its checkpoint
    between cycles, plus a chaos replay of the final discovery epoch."""
    from panoptes_spark.operators.telemetry import telemetry_end_state

    paths = {
        n: str(tmp_path / n)
        for n in ("res_src", "store", "pts_src", "rates", "ck_res", "ck_rate")
    }

    def run_discovery(batch_rows, fname):
        spark.createDataFrame(batch_rows, RES_SCHEMA).coalesce(1).write.parquet(
            paths["res_src"] + "/" + fname
        )
        stream = spark.readStream.schema(RES_SCHEMA).parquet(
            paths["res_src"] + "/*"
        )
        q = reconcile_stream(
            stream, spark, paths["store"], paths["ck_res"],
            identity_cols=["rid"],
        )
        q.awaitTermination(180)

    def run_rates(batch_rows, fname):
        spark.createDataFrame(batch_rows, POINTS_SCHEMA).coalesce(1) \
            .write.parquet(paths["pts_src"] + "/" + fname)
        stream = spark.readStream.schema(POINTS_SCHEMA).parquet(
            paths["pts_src"] + "/*"
        )
        q = (
            rate_stream(stream, interval_sec=600)
            .writeStream.format("parquet")
            .option("path", paths["rates"])
            .option("checkpointLocation", paths["ck_rate"])
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # cycle 1, then restart-from-checkpoint for cycle 2
    run_discovery(RES_SET1, "b1")
    run_rates(PTS1, "b1")
    run_discovery(RES_SET2, "b2")
    run_rates(PTS2, "b2")
    # chaos: replay the final discovery epoch (a foreachBatch retry after
    # a post-commit crash) — the exactly-once writer must no-op it
    writer_store = _read_store(spark, paths["store"])
    from panoptes_spark.streaming.reconcile_stream import (
        ExactlyOnceResourceStoreWriter,
    )
    w = ExactlyOnceResourceStoreWriter(
        spark, paths["store"], identity_cols=["rid"]
    )
    last_epoch = w.manifest()["last_epoch"]
    w(spark.createDataFrame(RES_SET2, RES_SCHEMA), epoch_id=last_epoch)

    # streaming side of the parity: the reconciled store + streamed rates
    # through the SHARED plan tail
    stream_store = _read_store(spark, paths["store"]).select(
        F.col("rid").alias("resource_id"), "site"
    )
    stream_rates = spark.read.parquet(paths["rates"])
    stream_end = {
        tuple(r)
        for r in telemetry_end_state(stream_store, stream_rates).collect()
    }

    # batch side: apply_reconciliation folds + rate_transform over the
    # union of all points, through the same tail
    empty = spark.createDataFrame([], RES_SCHEMA)
    m1 = apply_reconciliation(
        empty, spark.createDataFrame(RES_SET1, RES_SCHEMA), 10.0, ["rid"],
        "resource_creation_timestamp",
    )
    m2 = apply_reconciliation(
        m1, spark.createDataFrame(RES_SET2, RES_SCHEMA), 20.0, ["rid"],
        "resource_creation_timestamp",
    )
    batch_store = m2.select(F.col("rid").alias("resource_id"), "site")
    all_points = spark.createDataFrame(PTS1 + PTS2, POINTS_SCHEMA)
    batch_rates = rate_transform(
        all_points, ["resource_id", "metrics_group_type"], interval_sec=600
    )
    batch_end = {
        tuple(r)
        for r in telemetry_end_state(batch_store, batch_rates).collect()
    }

    assert stream_end == batch_end
    # dev-a (site dc1) survives; dev-b rated but deleted -> no dc2 topic
    assert stream_end == {
        ("dc1-processed", "ifc", 1, 1, 100.0),
        ("panoptes-metrics", "ifc", 1, 1, 100.0),
    }
