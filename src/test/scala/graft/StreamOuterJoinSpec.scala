package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** st9b (stream-stream LEFT OUTER interval join) under multi-epoch replay:
  * the same plan fed the same events as SEVERAL time-ordered micro-batches
  * must produce exactly the single-epoch result, with unmatched clicks
  * emitted by mid-stream watermark eviction (not only by the final flush).
  */
class StreamOuterJoinSpec extends SparkSpec {

  test("multi-epoch replay equals single-epoch; state evicts mid-stream") {
    val events = graft.queries.QUtil.t(spark, sfDir, "events")

    // split the fixture into three ts-ordered files, written in order so
    // the file stream (oldest-modified first, one file per trigger)
    // replays them as three advancing epochs
    val dir = scratch("st9b-epochs")
    val ts = events.select(col("ts")).orderBy("ts").collect().map(_.getTimestamp(0))
    val (t1, t2) = (ts(ts.length / 3), ts(2 * ts.length / 3))
    events.filter(col("ts") < t1).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/e0")
    events.filter(col("ts") >= t1 && col("ts") < t2).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/e1")
    events.filter(col("ts") >= t2).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/e2")

    val src = graft.queries.QUtil.normalizeTs(
      spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(s"$dir/*"))
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val views = src.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("view_uid"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val joined = clicks.join(views,
      col("user_id") === col("view_uid") &&
        col("view_ts") >= col("click_ts") &&
        col("view_ts") <= col("click_ts") + expr("interval 30 minutes"),
      "left_outer")
      .select(col("click_id"), col("view_id"), col("user_id"), col("click_ts"))

    val ckpt = java.nio.file.Files.createTempDirectory("st9b-spec").toString
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val q = joined.writeStream.format("memory").queryName("st9b_epochs")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)

    // watermark state EVICTED during the run (bounded state, and the
    // unmatched side's emission mechanism actually exercised)
    val removed = q.recentProgress
      .flatMap(p => p.stateOperators.map(_.numRowsRemoved)).sum
    assert(removed > 0, "no state rows evicted — the join never advanced its watermark")
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 3, s"expected >=3 data epochs, got $dataBatches")

    // replay equality against the single-epoch QDef result (itself
    // oracle-gated against the batch restatement), under the same
    // watermark-boundary guard
    val cutoff = events
      .agg((max(col("ts")) - expr("interval 91 minutes")).as("c"))
      .collect()(0).getTimestamp(0)
    val multi = spark.table("st9b_epochs")
      .filter(col("view_id").isNotNull || col("click_ts") <= lit(cutoff))
      .select("click_id", "view_id", "user_id")
      .collect().map(_.toSeq).toSet
    val single = SparkEntry.queries("st9b_stream_outer_interval_join")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(multi == single,
      s"multi-epoch replay diverges: only-multi=${(multi -- single).take(5)} " +
        s"only-single=${(single -- multi).take(5)}")
    assert(single.exists(_(1) == null),
      "no unmatched clicks in the fixture — the outer face is vacuous")

    spark.catalog.dropTempView("st9b_epochs")
    spark.streams.resetTerminated()
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  test("a click-only event stream fails with the named guard error") {
    val events = graft.queries.QUtil.t(spark, sfDir, "events")
    val dir = scratch("st9b-click-only")
    val staged = s"$dir/staged"
    events.filter(col("event_type") === "click").coalesce(1).write.parquet(staged)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(staged))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(staged), true)
    val err = intercept[IllegalStateException](
      SparkEntry.queries("st9b_stream_outer_interval_join")(spark, dir))
    assert(err.getMessage.contains("watermark guard undefined"), err.getMessage)
    assert(err.getMessage.contains("no view rows"), err.getMessage)
  }
}
