"""Source/sink connector tests: CSV/JSON/parquet ingest into a topic,
export back out, and schema-on-read payload typing."""

import json

from pyspark.sql import functions as F


def test_csv_ingest_roundtrip(engine, spark, tmp_path):
    from kafkaish_spark.sources.connect import ingest, messages_as

    src = tmp_path / "src_csv"
    spark.createDataFrame(
        [("click", 1, "alice"), ("view", 2, "bob")],
        "kind string, n long, who string",
    ).coalesce(1).write.mode("overwrite").option("header", "true").csv(str(src))

    topic = engine.prepare_topic("csv_in")
    written = ingest(topic, str(src), "csv", event_col="kind")
    assert written.count() == 2

    typed = messages_as(topic.replay(), "n long, who string")
    got = {r["event"]: (r["payload"]["n"], r["payload"]["who"]) for r in typed.collect()}
    assert got == {"click": (1, "alice"), "view": (2, "bob")}


def test_json_ingest_with_ts(engine, spark, tmp_path):
    from kafkaish_spark.sources.connect import ingest

    src = tmp_path / "src_json"
    spark.createDataFrame(
        [("purchase", "2024-03-01 10:00:00", 99.5)],
        "etype string, when string, amount double",
    ).coalesce(1).write.mode("overwrite").json(str(src))

    topic = engine.prepare_topic("json_in")
    ingest(topic, str(src), "json", event_col="etype", ts_col="when")
    row = topic.replay().collect()[0]
    assert row["event"] == "purchase"
    assert str(row["ts"]).startswith("2024-03-01 10:00:00")
    assert json.loads(row["message"])["amount"] == 99.5


def test_export_partitioned_by_event(engine, spark, tmp_path):
    from kafkaish_spark.sources.connect import export, publish_json_docs

    topic = engine.prepare_topic("exp")
    publish_json_docs(topic, [{"i": 1}, {"i": 2}], event="a")
    publish_json_docs(topic, [{"i": 3}], event="b")

    out = tmp_path / "out"
    n = export(topic, str(out), "parquet", partition_by_event=True)
    assert n == 3
    back = spark.read.parquet(str(out))
    assert {r["event"] for r in back.select("event").distinct().collect()} == {"a", "b"}
    # partition pruning: reading one event dir touches one partition
    only_a = spark.read.parquet(str(out)).filter(F.col("event") == "a")
    assert only_a.count() == 2


def test_infer_payload_schema(engine):
    from kafkaish_spark.sources.connect import infer_payload_schema, publish_json_docs

    topic = engine.prepare_topic("infer")
    publish_json_docs(topic, [{"k": 1, "s": "x"}, {"k": 2, "s": "y"}], event="e")
    schema = infer_payload_schema(topic)
    assert "k:bigint" in schema and "s:string" in schema


def test_full_engine_pipeline_end_to_end(engine, spark, tmp_path):
    """The whole engine in one flow: CSV ingest -> raw topic ->
    transformed topic (streaming pipe) -> durable subscriber with ack ->
    partitioned export -> SQL over the topics."""
    from pyspark.sql import functions as PF

    from kafkaish_spark.sources.connect import export, ingest
    from kafkaish_spark.streaming.pipeline import pipe
    from kafkaish_spark.streaming.subscribe import subscribe

    # 1. ingest a CSV into the raw topic
    src = tmp_path / "incoming"
    spark.createDataFrame(
        [("click", 5, "alice"), ("click", 7, "bob"), ("view", 1, "carol")],
        "kind string, amount long, who string",
    ).coalesce(1).write.option("header", "true").csv(str(src))
    raw = engine.prepare_topic("e2e_raw")
    ingest(raw, str(src), "csv", event_col="kind")
    assert raw.latest() == 3

    # 2. stream raw -> enriched with a transform (uppercase payload)
    enriched = engine.prepare_topic("e2e_enriched")
    pipe(raw, enriched, lambda df: df.select(
        "event", PF.upper("message").alias("message"), "ts"
    ), name="enrich").await_termination()
    assert enriched.latest() == 3

    # 3. durable subscriber drains the enriched topic and acks
    seen = []
    sub = subscribe(
        enriched,
        callback=lambda e, m, o: seen.append((e, o)),
        name="auditor",
        replay=True,
    )
    sub.await_termination()
    assert [o for _, o in seen] == [1, 2, 3]
    assert enriched.last_ack("auditor") == 3
    assert enriched.subscriber_lag().first()["lag"] == 0

    # 4. export clicks only, partitioned by event
    out = tmp_path / "warehouse"
    n = export(enriched, str(out), "parquet", event="click", partition_by_event=True)
    assert n == 2

    # 5. SQL across the topics
    row = engine.sql(
        """
        SELECT r.event, COUNT(*) AS n,
               SUM(CAST(get_json_object(r.message, '$.amount') AS LONG)) AS raw_amt
        FROM topic_e2e_raw r WHERE r.event = 'click' GROUP BY r.event
        """
    ).first()
    assert (row["event"], row["n"], row["raw_amt"]) == ("click", 2, 12)


def test_orc_roundtrip_and_text_ingest(engine, spark, tmp_path):
    """ORC in and out (built-in columnar alternative), and raw text
    ingest: one line -> one message, for plain corpus files."""
    from kafkaish_spark.sources.connect import export, ingest, messages_as

    src = tmp_path / "src_orc"
    spark.createDataFrame(
        [("click", 7, "carol")], "kind string, n long, who string"
    ).coalesce(1).write.mode("overwrite").orc(str(src))
    topic = engine.prepare_topic("orc_in")
    assert ingest(topic, str(src), "orc", event_col="kind").count() == 1
    typed = messages_as(topic.replay(), "n long, who string")
    assert typed.first()["payload"]["n"] == 7

    out = tmp_path / "out_orc"
    assert export(topic, str(out), "orc") == 1
    assert spark.read.orc(str(out)).count() == 1

    lines = tmp_path / "src_text"
    lines.mkdir()
    (lines / "corpus.txt").write_text("first line\nsecond line\n")
    t2 = engine.prepare_topic("text_in")
    assert ingest(t2, str(lines), "text").count() == 2
    msgs = {r["message"] for r in t2.replay().collect()}
    assert msgs == {'{"value":"first line"}', '{"value":"second line"}'}

