"""True Structured-Streaming execution tests (availableNow triggers).

The batch-mode window queries are oracle-checked by the driver; these
tests exercise what only streaming can: watermarks, foreachBatch
manifest emission with batchId numbering, and
dropDuplicatesWithinWatermark state.
"""

from __future__ import annotations

import json
import os

import pytest

from shippai_knowledge_etl_spark.streaming import windows as W


@pytest.mark.slow
def test_foreach_batch_manifest(spark, sf_dir, tmp_path):
    manifest_dir = str(tmp_path / "manifests")
    q = W.streaming_pipeline(
        spark, sf_dir, str(tmp_path / "ckpt"), manifest_dir
    ).trigger(availableNow=True).start()
    assert q.awaitTermination(300), "streaming query did not finish"
    files = sorted(os.listdir(manifest_dir))
    assert files, "no manifest emitted"
    first = json.loads(open(os.path.join(manifest_dir, files[0])).read())
    assert first["batch_id"] == 0
    assert first["n_events"] > 0
    assert first["n_windows"] > 0


@pytest.mark.slow
def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from shippai_knowledge_etl_spark.tables import load

    deduped = W.streaming_dedup(spark, sf_dir)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "streaming query did not finish"
    got = spark.sql("SELECT count(*) AS n FROM dedup_out").collect()[0].n
    distinct_keys = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    # Watermark-bounded dedup keeps at least one row per key and no more
    # rows than the input; with a 30m watermark over a 30-day corpus it
    # must land strictly between the two bounds.
    assert distinct_keys <= got
    assert got <= load(spark, sf_dir, "events").count()
    assert deduped.isStreaming
    # dead-letter split shape holds on streams too
    good, bad = W.dead_letter_split(deduped)
    assert good.isStreaming and bad.isStreaming
    assert bad.filter(F.col("event_type") != "error").schema is not None


@pytest.mark.slow
def test_stream_stream_interval_join(spark, sf_dir, tmp_path):
    """True stream-stream inner join with watermarks on both sides must
    produce exactly the batch answer (availableNow drains the corpus, so
    no pairs are lost to late-data eviction)."""
    from pyspark.sql import functions as F

    from shippai_knowledge_etl_spark.streaming.joins import click_purchase_pairs
    from shippai_knowledge_etl_spark.tables import load, stream_events

    def side(df, event_type):
        return df.filter(F.col("event_type") == event_type).withWatermark(
            "ts", "1 hour"
        )

    stream = stream_events(spark, sf_dir)
    joined = click_purchase_pairs(
        side(stream, "click"), side(stream, "purchase")
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300), "streaming query did not finish"
    finally:
        q.stop()
    got = {
        (r.click_id, r.purchase_id, r.user_id, r.lag_s)
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    }

    ev = load(spark, sf_dir, "events")
    expected = {
        (r.click_id, r.purchase_id, r.user_id, r.lag_s)
        for r in click_purchase_pairs(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "purchase"),
        ).collect()
    }
    assert expected, "corpus should contain at least one pair"
    assert got == expected


@pytest.mark.slow
def test_stream_static_enrich_runs_as_stream(spark, sf_dir, tmp_path):
    """The stream-static enrichment join must execute as a REAL stream
    (static dims re-planned per micro-batch, no watermark needed) and
    agree with the batch form of the same function."""
    from shippai_knowledge_etl_spark.streaming.joins import enriched_nation_counts
    from shippai_knowledge_etl_spark.tables import load, stream_events

    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    out = enriched_nation_counts(stream_events(spark, sf_dir), customer, nation)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("enrich_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "streaming query did not finish"
    got = {
        r["n_name"]: (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM enrich_out").collect()
    }
    want = {
        r["n_name"]: (r["n_events"], r["total_value"])
        for r in enriched_nation_counts(
            load(spark, sf_dir, "events"), customer, nation
        ).collect()
    }
    assert got == want and len(got) > 0


def test_session_replay_stitches_bridged_sessions(spark):
    """The cross-batch merge case the one-shot oracle can't isolate:
    a user whose generation-0 events and generation-1 events are each
    >gap apart internally but interleave to within-gap — the stitched
    result must be ONE session (the session-state-store merge), and a
    genuinely separated user must stay TWO."""
    import shippai_knowledge_etl_spark.streaming.windows as W
    from pyspark.sql import functions as F

    def ts(minute):
        return f"2024-01-01 00:{minute:02d}:00"

    rows = [
        # user 1: gen0 at 0min and 40min (gap 40 > 30), gen1 at 20min
        # bridges them -> one session of 3 events
        (0, ts(0), 1, "click", 1.0, None),
        (2, ts(40), 1, "click", 1.0, None),
        (1, ts(20), 1, "click", 1.0, None),
        # user 2: 0min and 59min in different gens, nothing bridging
        # -> two sessions
        (3, ts(0), 2, "click", 1.0, None),
        (4, ts(59), 2, "click", 1.0, None),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    parts = [
        W.session_counts(ev.filter(F.col("event_id") % 3 == i))
        for i in range(3)
    ]
    segs = (
        parts[0]
        .unionAll(parts[1])
        .unionAll(parts[2])
        .select(
            "user_id",
            F.col("session_start").alias("s"),
            (F.col("session_end") - F.lit(1800)).alias("l"),
            "n",
        )
    )
    from pyspark.sql import Window as SqlWindow

    w = SqlWindow.partitionBy("user_id").orderBy("s", "l")
    prev_max_l = F.max("l").over(
        w.rowsBetween(SqlWindow.unboundedPreceding, -1)
    )
    stitched = (
        segs.select(
            "user_id",
            "s",
            "l",
            "n",
            F.when(
                prev_max_l.isNull() | (F.col("s") - prev_max_l > 1800),
                1,
            )
            .otherwise(0)
            .alias("ns"),
        )
        .select(
            "user_id",
            "s",
            "l",
            "n",
            F.sum("ns")
            .over(w.rowsBetween(SqlWindow.unboundedPreceding, 0))
            .alias("sid"),
        )
        .groupBy("user_id", "sid")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    per_user = {}
    for r in stitched:
        per_user.setdefault(r["user_id"], []).append(r["n"])
    assert sorted(per_user[1]) == [3]  # bridged into ONE session
    assert sorted(per_user[2]) == [1, 1]  # stays two


def test_holt_replay_split_identity_exhaustive():
    """stream_holt_replay's contract, checked off-cluster on the
    module's own fold: resuming the scaled-integer Holt fold from
    carried state equals the one-shot fold at EVERY split point —
    including the empty-gen-1 and the n1 == 1 bridge case (where the
    trend seed straddles the split)."""
    import random

    from shippai_knowledge_etl_spark.queries.windows import (
        _S,
        _holt_resume,
        _holt_state_after,
    )

    def split_run(c, k):
        c1, c2 = c[:k], c[k:]
        if not c2:
            return _holt_state_after(c1)
        if not c1:
            return _holt_state_after(c2)
        if len(c1) == 1:
            return _holt_resume(c1[0] * _S, (c2[0] - c1[0]) * _S, c2)
        return _holt_resume(*_holt_state_after(c1), c2)

    # by hand: l0 = 3, b0 = 5 - 3; l1 = (5 + 3 + 2) / 2 = 5,
    # b1 = (5 - 3 + 2) / 2 = 2; l2 = (4 + 5 + 2) / 2 = 5.5,
    # b2 = (5.5 - 5 + 2) / 2 = 1.25 (micro-units)
    assert _holt_state_after([3, 5, 4]) == (5_500_000, 1_250_000)
    rng = random.Random(5)
    for _ in range(200):
        n = rng.randrange(1, 12)
        c = [rng.randrange(0, 1000) for _ in range(n)]
        exp = _holt_state_after(c)
        for k in range(0, n + 1):
            assert split_run(c, k) == exp, (c, k)
