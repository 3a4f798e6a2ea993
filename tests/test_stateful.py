"""applyInPandasWithState operators: streaming state carries across micro-batches."""


def test_rolling_zscore_state_carries_across_batches(spark, tmp_path):
    # two parquet files delivered as separate micro-batches
    # (maxFilesPerTrigger=1): the spike in batch 2 must be scored against
    # baseline values learned in batch 1 — state survives the batch boundary
    from mindsdb_spark.streaming.stateful import rolling_zscore_alerts
    from mindsdb_spark.streaming.windows import stream_from_parquet

    d = str(tmp_path / "zstream")
    steady = [(i, 1, float(10 + (i % 3)), i) for i in range(10)]
    later = [(10, 1, 11.0, 10), (11, 1, 500.0, 11)]
    df1 = spark.createDataFrame(steady, "event_id long, user_id long, value double, ts long")
    df2 = spark.createDataFrame(later, "event_id long, user_id long, value double, ts long")
    df1.coalesce(1).write.mode("overwrite").parquet(d)
    import glob, time
    time.sleep(1.1)  # distinct mtimes -> deterministic file order
    df2.coalesce(1).write.mode("append").parquet(d)
    stream = spark.readStream.schema(df1.schema).option("maxFilesPerTrigger", 1).parquet(d)
    out = rolling_zscore_alerts(stream, window=20, threshold=2.5)
    q = (
        out.writeStream.format("memory").queryName("z_sink")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM z_sink").collect()
    assert [r["event_id"] for r in rows] == [11]
    assert rows[0]["zscore"] > 100  # scored against the steady baseline
