"""Structured Streaming tests: exactly-once incremental file pickup,
watermarked tumbling windows, and custom stateful totals — all driven with
Trigger.AvailableNow so they run to completion deterministically."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

IDT = "/root/reference/cioos_data_transform/ios_data_transform/ios_data_transform/tests/test_files"
SF = "/root/testdata/sf0.001"


def test_incremental_ingest_exactly_once(spark):
    from cioos_siooc_data_transform_spark.streaming.incremental import (
        run_incremental_ingest,
    )

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "in")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        os.makedirs(src)
        profiles = sorted(glob.glob(f"{IDT}/ctd_profile/*.ctd"))
        for p in profiles[:3]:
            shutil.copy(p, src)

        run_incremental_ingest(spark, src, out, ckpt, path_glob="*.ctd")
        cat = spark.read.parquet(f"{out}/catalog")
        assert cat.count() == 3

        # drop one more file; a second drain must process ONLY the new one
        shutil.copy(profiles[3], src)
        run_incremental_ingest(spark, src, out, ckpt, path_glob="*.ctd")
        cat2 = spark.read.parquet(f"{out}/catalog")
        assert cat2.count() == 4  # 3 + 1, not 3 + 4 (exactly-once)
        assert cat2.select("file_id").distinct().count() == 4

        meas = spark.read.parquet(f"{out}/measurements")
        per_file = {
            r["file_id"]: r["count"]
            for r in meas.groupBy("file_id").count().collect()
        }
        assert per_file["2017-020-0474"] == 189 * 12


def test_batch_write_retry_is_idempotent(spark):
    """foreachBatch retries re-deliver the same batch_id; the sink must
    replace, not append, so a crashed/partial batch leaves no duplicates."""
    from cioos_siooc_data_transform_spark.streaming.incremental import (
        write_ios_batch,
    )

    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "out")
        profiles = sorted(glob.glob(f"{IDT}/ctd_profile/*.ctd"))[:2]
        batch = spark.read.format("binaryFile").load(profiles)
        write_ios_batch(spark, batch, out, batch_id=0)
        first = spark.read.parquet(f"{out}/catalog").count()
        write_ios_batch(spark, batch, out, batch_id=0)  # simulated retry
        cat = spark.read.parquet(f"{out}/catalog")
        assert cat.count() == first == 2
        assert cat.select("file_id").distinct().count() == 2


def test_streaming_tumbling_matches_batch(spark):
    from cioos_siooc_data_transform_spark.streaming.windows import tumbling_counts

    # events.parquet carries ns timestamps; stream the µs-truncated form
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "stream")
        from cioos_siooc_data_transform_spark.session import read_table

        read_table(spark, SF, "events").write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        result = tumbling_counts(stream)
        q = (
            result.writeStream.format("memory")
            .queryName("tumbling_test")
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        streamed = spark.sql("SELECT * FROM tumbling_test")
        batch = (
            read_table(spark, SF, "events")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
        )
        assert streamed.count() == batch.count()
        assert streamed.exceptAll(batch).count() == 0


def test_stateful_running_totals(spark):
    from cioos_siooc_data_transform_spark.streaming.windows import running_user_totals
    from cioos_siooc_data_transform_spark.session import read_table

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "stream")
        events = read_table(spark, SF, "events").filter(F.col("user_id") < 5)
        events.write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        result = running_user_totals(stream)
        q = (
            result.writeStream.format("memory")
            .queryName("stateful_test")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            r["user_id"]: (r["n_events"], r["total_value"])
            for r in spark.sql(
                "SELECT * FROM stateful_test"
            ).collect()
        }
        expect = {
            r["user_id"]: (r["n"], round(r["t"], 4))
            for r in events.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
            .collect()
        }
        assert got == expect


def test_streaming_exact_dedup_within_watermark(spark):
    """Duplicate texts inside the watermark horizon are collapsed to one
    surviving row per digest; distinct texts all survive. Driven with
    AvailableNow against a static parquet directory so the run is
    deterministic and terminates."""
    import pandas as pd

    from cioos_siooc_data_transform_spark.streaming.windows import (
        streaming_exact_dedup,
    )

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "in")
        base = pd.Timestamp("2024-01-01 00:00:00")
        rows = pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5, 6],
                "text": ["aa bb", "aa bb", "cc dd", "cc dd", "ee ff", "aa bb"],
                "ts": [
                    base,
                    base + pd.Timedelta(minutes=1),
                    base + pd.Timedelta(minutes=2),
                    base + pd.Timedelta(minutes=3),
                    base + pd.Timedelta(minutes=4),
                    base + pd.Timedelta(minutes=5),
                ],
            }
        )
        spark.createDataFrame(rows).coalesce(1).write.parquet(src)
        schema = spark.read.parquet(src).schema

        stream = spark.readStream.schema(schema).parquet(src)
        deduped = streaming_exact_dedup(stream)
        q = (
            deduped.writeStream.format("memory")
            .queryName("dedup_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.sql("SELECT * FROM dedup_sink").collect()
        texts = sorted(r["text"] for r in out)
        assert texts == ["aa bb", "cc dd", "ee ff"]  # one survivor per digest
        assert len({r["digest"] for r in out}) == 3


def test_stream_stream_attribution_matches_batch(spark):
    """The watermarked stream-stream attribution join, drained with
    AvailableNow, must produce exactly the rows the equivalent batch
    join produces over the same data."""
    from cioos_siooc_data_transform_spark.session import read_table
    from cioos_siooc_data_transform_spark.streaming.windows import (
        stream_stream_attribution,
    )

    ev = read_table(spark, SF, "events")
    views_b = ev.filter(F.col("event_type") == "view")
    purch_b = ev.filter(F.col("event_type") == "purchase")
    expected = stream_stream_attribution(views_b, purch_b).count()
    assert expected > 0

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "events")
        ev.coalesce(2).write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        joined = stream_stream_attribution(
            stream.filter(F.col("event_type") == "view"),
            stream.filter(F.col("event_type") == "purchase"),
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("attribution_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = spark.sql("SELECT count(*) AS n FROM attribution_sink").first()["n"]
        assert got == expected


def test_stream_static_enrich_matches_batch(spark):
    """Stream-static enrichment must equal the batch left join, keep
    unmatched keys (nulls), and add no streaming state (the static side
    is re-read per micro-batch, not buffered)."""
    from cioos_siooc_data_transform_spark.session import read_table
    from cioos_siooc_data_transform_spark.streaming.windows import (
        stream_static_enrich,
    )

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "stream")
        read_table(spark, SF, "events").write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)

        # a dimension covering only even user ids → odd ids stay, null tier
        dim = (
            read_table(spark, SF, "events")
            .select("user_id")
            .distinct()
            .filter(F.col("user_id") % 2 == 0)
            .withColumn("tier", F.concat(F.lit("t"), F.col("user_id") % 3))
        )
        enriched = stream_static_enrich(
            stream.select("event_id", "user_id", "ts"), dim
        )
        q = (
            enriched.writeStream.format("memory")
            .queryName("enrich_test")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        streamed = spark.sql("SELECT event_id, user_id, tier FROM enrich_test")
        batch = (
            read_table(spark, SF, "events")
            .select("event_id", "user_id")
            .join(dim, "user_id", "left")
            .select("event_id", "user_id", "tier")
        )
        assert streamed.count() == batch.count()
        assert streamed.exceptAll(batch).count() == 0
        # unmatched (odd) users survive with null tier
        assert streamed.filter(F.col("tier").isNull()).count() > 0


def test_stateful_sessionizer_timeout_flush(spark):
    """Event-time-timeout sessionization: in-stream gap closures plus
    timeout closures must together reproduce the batch sessionize twin
    exactly-once. Drain 1 processes the data (watermark closes all but
    the tail sessions); drain 2 appends a far-future sentinel event that
    advances the watermark so EventTimeTimeout flushes the rest."""
    import pandas as pd

    from cioos_siooc_data_transform_spark.streaming.windows import (
        stateful_sessionizer,
    )
    from cioos_siooc_data_transform_spark.session import read_table

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "stream")
        ckpt = os.path.join(tmp, "ckpt")
        read_table(spark, SF, "events").filter(F.col("user_id") < 5).write.parquet(src)
        events = spark.read.parquet(src)
        schema = events.schema

        out = os.path.join(tmp, "out")

        def drain():
            stream = spark.readStream.schema(schema).parquet(src)
            q = (
                stateful_sessionizer(stream)
                .writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        drain()

        # sentinel 2 days past the end advances the watermark past every
        # open session's last_event + gap on the second drain
        max_ts = events.agg(F.max("ts")).collect()[0][0]
        sent = spark.createDataFrame(
            pd.DataFrame(
                {
                    "event_id": [10**9],
                    "ts": [pd.Timestamp(max_ts) + pd.Timedelta(days=2)],
                    "user_id": [999999],
                    "event_type": ["sentinel"],
                    "value": [0.0],
                    "props": ["{}"],
                }
            )
        ).select(*[c.name for c in schema])
        sent.write.mode("append").parquet(src)
        drain()
        got = {
            (r["user_id"], r["session_start"]): (
                r["session_end"], r["n_events"], r["sum_value"]
            )
            for r in spark.read.parquet(out).collect()
            if r["user_id"] != 999999
        }

        # batch twin: lag-flag + running-sum sessionization, same gap
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        es = F.col("ts").cast("double")
        flagged = events.withColumn(
            "is_new",
            F.when(
                (es - F.lag(es).over(w) > 1800.0) | F.lag(es).over(w).isNull(), 1
            ).otherwise(0),
        ).withColumn("session_id", F.sum("is_new").over(cum))
        expect = {
            (r["user_id"], r["session_start"]): (
                r["session_end"], r["n_events"], r["sum_value"]
            )
            for r in flagged.groupBy("user_id", "session_id")
            .agg(
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .collect()
        }
        assert set(got) == set(expect)
        for k, (end, n, sv) in expect.items():
            g_end, g_n, g_sv = got[k]
            assert (g_end, g_n) == (end, n), k
            assert abs(g_sv - sv) < 1e-6, k


def _protobuf_available() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithStateInPandas state protocol needs protobuf "
    "(absent in this container; the operator is import-gated like the "
    "multimodal PIL path)",
)
def test_transform_with_state_running_topk(spark):
    """transformWithStateInPandas ListState: after draining the stream,
    each user's emitted top-3 (latest update wins) equals the batch
    top-3 computed with a rank window."""
    from cioos_siooc_data_transform_spark.streaming.windows import (
        running_topk_values,
    )
    from cioos_siooc_data_transform_spark.session import read_table

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        with tempfile.TemporaryDirectory() as tmp:
            src = os.path.join(tmp, "stream")
            events = read_table(spark, SF, "events").filter(F.col("user_id") < 5)
            events.write.parquet(src)
            schema = spark.read.parquet(src).schema
            stream = spark.readStream.schema(schema).parquet(src)
            q = (
                running_topk_values(stream)
                .writeStream.format("memory")
                .queryName("topk_test")
                .outputMode("update")
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            got = {
                (r["user_id"], r["rank"]): r["value"]
                for r in spark.sql("SELECT * FROM topk_test").collect()
            }
            from pyspark.sql import Window

            w = Window.partitionBy("user_id").orderBy(F.col("value").desc())
            expect = {
                (r["user_id"], r["rk"]): r["value"]
                for r in events.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= 3)
                .collect()
            }
            assert got == expect
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_stream_stream_attribution_outer_emits_unmatched(spark):
    """Left-outer stream-stream join: matched purchases equal the inner
    join's rows; purchases with no view in the horizon are emitted with
    NULL view_ts once the watermark proves no match can arrive (a
    far-future sentinel file on the second drain advances it). Total =
    batch left-join row count."""
    import pandas as pd

    from cioos_siooc_data_transform_spark.session import read_table
    from cioos_siooc_data_transform_spark.streaming.windows import (
        stream_stream_attribution,
        stream_stream_attribution_outer,
    )

    ev = read_table(spark, SF, "events")
    views_b = ev.filter(F.col("event_type") == "view")
    purch_b = ev.filter(F.col("event_type") == "purchase")
    inner = stream_stream_attribution(views_b, purch_b).count()
    total_purch = purch_b.count()
    matched_purch = (
        stream_stream_attribution(views_b, purch_b)
        .select("p_user", "purchase_ts")
        .distinct()
        .count()
    )
    expected_total = inner + (total_purch - matched_purch)

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "events")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        ev.coalesce(2).write.parquet(src)
        schema = spark.read.parquet(src).schema

        def drain():
            stream = spark.readStream.schema(schema).parquet(src)
            q = (
                stream_stream_attribution_outer(
                    stream.filter(F.col("event_type") == "view"),
                    stream.filter(F.col("event_type") == "purchase"),
                )
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        drain()
        max_ts = ev.agg(F.max("ts")).collect()[0][0]
        sent = spark.createDataFrame(
            pd.DataFrame(
                {
                    "event_id": [10**9, 10**9 + 1],
                    "ts": [pd.Timestamp(max_ts) + pd.Timedelta(days=3)] * 2,
                    "user_id": [999999, 999998],
                    "event_type": ["view", "purchase"],
                    "value": [0.0, 0.0],
                    "props": ["{}"] * 2,
                }
            )
        ).select(*[c.name for c in schema])
        sent.write.mode("append").parquet(src)
        drain()

        got = spark.read.parquet(out).filter(F.col("p_user") != 999998)
        assert got.filter(F.col("view_ts").isNull()).count() == (
            total_purch - matched_purch
        )
        assert got.count() == expected_total


def test_streaming_token_bucket_matches_batch(spark):
    """The stateful rate limiter must reproduce the batch twin's
    decisions exactly — including ACROSS micro-batch restarts: drain 1
    processes the base events; drain 2 appends later events for the
    same users and must continue from persisted (last_es, tokens)
    state, not a fresh bucket."""
    import pandas as pd

    from cioos_siooc_data_transform_spark.session import read_table
    from cioos_siooc_data_transform_spark.streaming.windows import (
        streaming_token_bucket,
    )

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "stream")
        ckpt = os.path.join(tmp, "ckpt")
        out = os.path.join(tmp, "out")
        base = read_table(spark, SF, "events").filter(F.col("user_id") < 20)
        base.write.parquet(src)
        schema = spark.read.parquet(src).schema

        def drain():
            stream = spark.readStream.schema(schema).parquet(src)
            q = (
                streaming_token_bucket(stream)
                .writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        drain()

        # burst of 3 events 1 s apart, one refill-horizon past the end:
        # the first is allowed (bucket refilled while idle), the next
        # two are denied IF state carried over (fresh state would allow
        # the first and deny the rest identically — so also advance a
        # user whose bucket was non-full: the exactness check against
        # the batch twin over the COMBINED data catches both).
        max_ts = spark.read.parquet(src).agg(F.max("ts")).collect()[0][0]
        extra = pd.DataFrame(
            {
                "event_id": [2_000_001, 2_000_002, 2_000_003],
                "ts": [
                    pd.Timestamp(max_ts) + pd.Timedelta(seconds=2000 + i)
                    for i in range(3)
                ],
                "user_id": [3, 3, 3],
                "event_type": ["click"] * 3,
                "value": [1.0] * 3,
                "props": ["{}"] * 3,
            }
        )
        spark.createDataFrame(extra).select(
            *[c.name for c in schema]
        ).write.mode("append").parquet(src)
        drain()

        got = {
            (r.user_id, r.event_id): (r.tokens_after, r.allowed)
            for r in spark.read.parquet(out).collect()
        }

        # reference: the batch recurrence replayed in plain Python over
        # the combined dataset (same kernel as the staged batch query)
        ev = spark.read.parquet(src).select(
            "user_id",
            "event_id",
            F.floor(F.col("ts").cast("double")).cast("long").alias("es"),
            "ts",
        )
        pdf = ev.orderBy("user_id", "ts", "event_id").toPandas()
        want = {}
        for uid, grp in pdf.groupby("user_id"):
            tokens, prev = 1000, None
            for _, row in grp.sort_values(["ts", "event_id"]).iterrows():
                es = int(row["es"])
                if prev is not None:
                    tokens = min(1000, tokens + 1 * max(0, es - prev))
                allowed = tokens >= 1000
                if allowed:
                    tokens -= 1000
                want[(row["user_id"], row["event_id"])] = (tokens, allowed)
                prev = es
        assert got == want, (
            f"{len(got)} streaming rows vs {len(want)} batch rows; "
            f"first diffs: {list(sorted(set(want.items()) ^ set(got.items())))[:5]}"
        )
        # the burst user must show at least one denial in the tail
        tail = [got[(3, eid)] for eid in (2_000_001, 2_000_002, 2_000_003)]
        assert any(not a for (_, a) in tail)
