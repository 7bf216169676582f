package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}

import graft.queries.{QDef, QUtil}

// Encoder-backed records must be public top-level classes: Catalyst's
// generated (de)serializer code instantiates them from outside this package.
case class Ev(user_id: Long, event_id: Long, us: Long)
case class OpenSession(ord: Long, n: Long, startUs: Long, endUs: Long)
case class SessionRow(
    user_id: Long, session_ord: Long, n_events: Long, start_us: Long, end_us: Long)

/** Structured Streaming operators over the `events` table, driven as a
  * bounded file-source stream (`Trigger.AvailableNow` — process everything,
  * then stop). The reference is batch-only (SURVEY §2.6 "Streaming: none");
  * these ops are the engine extension for continuous ingestion, expressed in
  * the idiomatic Spark way: `readStream` → event-time transforms →
  * `writeStream`, with watermarks for state cleanup and
  * `flatMapGroupsWithState` for custom session state.
  *
  * Determinism for the oracle: the whole fixture arrives in one micro-batch,
  * so the final in-memory sink table equals the batch-SQL answer; the same
  * code on an unbounded source incrementally maintains the same result.
  *
  * Scale notes: the windowed aggregation is keyed on (window, event_type) —
  * hash-partitioned state, map-side partial aggregation, watermark bounds
  * state size. Sessionization state is keyed on user_id (hash-partitioned);
  * each group's state is one open session summary, not the event backlog.
  */
object StreamOps {

  private val OrderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  /** events as a bounded stream; `ts` normalized to a zoned TimestampType
    * by the SAME shared helper the batch reader uses (streaming watermarks
    * require TIMESTAMP, and the fixture has drifted its physical ts type
    * across generations — QUtil.normalizeTs is the single fix point).
    */
  private def eventStream(s: SparkSession, dir: String): DataFrame = {
    val batchSchema = s.read.parquet(s"$dir/events.parquet").schema
    QUtil.normalizeTs(s.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
  }

  /** Run a bounded streaming query to completion against an in-memory sink
    * and return the sink table. Checkpoints go to a throwaway temp dir.
    *
    * State-partition sizing: every stateful operator commits one state-store
    * checkpoint delta per partition per micro-batch — per-partition overhead
    * that dwarfs the work when per-partition state is small, as on these
    * bounded fixtures. The count is pinned at the query's FIRST start by
    * `spark.sql.shuffle.partitions` (a real deployment sizes it to cluster
    * cores x state-per-core), so set it for the stream and restore the
    * session default after.
    *
    * Micro-batch floor (profiled, sf0.1, st3 shape via
    * StreamingQueryProgress.durationMs): the whole fixture arrives as ONE
    * AvailableNow micro-batch, whose wall time is addBatch ≈ 80-90% — the
    * aggregation itself plus the state-store commit (~90k state rows for
    * session windows) — with a fixed per-query epoch cost of ~0.3-0.5 s
    * (queryPlanning + latestOffset/commitOffsets + walCommit + sink setup).
    * Snapshot/maintenance knobs (`stateStore.minDeltasForSnapshot`,
    * maintenance interval) are INERT here: a 1-batch bounded run never
    * compacts and the 60 s maintenance timer never fires before
    * StateStore.stop(). The remaining per-query seconds are the work, not
    * overhead — the floor holds until the input is large enough to span
    * multiple micro-batches.
    */
  // Memory-sink tables registered by prior runs: each holds its full result
  // set on the driver heap for as long as it stays in the catalog. Dropping
  // the PREVIOUS run's sink when the next run starts keeps at most one alive
  // (the caller is still consuming the current one), without paying a
  // driver-side collect/re-encode of large results — round 8's unbounded
  // accumulation across 11 st queries x 2-4 bench rounds inflated later
  // streaming queries ~1.5x.
  private val liveSinks = scala.collection.mutable.Queue.empty[String]

  private def runToTable(df: DataFrame, mode: OutputMode, name: String,
      minBatches: Int = 0): DataFrame = {
    val spark = df.sparkSession
    liveSinks.synchronized {
      liveSinks.dequeueAll(_ => true).foreach(spark.catalog.dropTempView)
      liveSinks += name
    }
    val ckpt = Files.createTempDirectory(s"graft-stream-$name").toString
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    // State-partition count sized to the fixtures' state volume (~40k rows):
    // below ~100k state rows the per-partition store-commit overhead (one
    // delta file + rename per store per partition per batch; a stream-stream
    // join runs FOUR stores) dominates the work, so fewer partitions win —
    // measured on the st9 shape at sf0.1: 8 partitions 2.9 s, 4 partitions
    // 2.2 s, 2 partitions 2.0 s steady-state. 4 keeps a parallelism margin.
    // A real deployment sizes this to cluster cores x state-per-core.
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // queries whose PREMISE is multi-epoch processing (state carried
      // across micro-batches) assert it here — a source that stops
      // honoring its trigger pacing must fail the run, not silently skip
      // the cross-batch path the query exists to exercise
      if (minBatches > 0) {
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        require(dataBatches >= minBatches,
          s"$name: expected >= $minBatches data micro-batches, " +
            s"saw $dataBatches — the multi-epoch premise broke")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    // Bounded run is done: the memory sink's data lives in driver memory
    // (not the checkpoint), so the throwaway checkpoint and the terminated-
    // query registration can be released immediately; the sink table itself
    // is reaped by the NEXT run (liveSinks above) once the caller is done.
    endStream(spark, ckpt)
    // unload state-store providers and stop their maintenance threads, so
    // later (batch) queries aren't taxed by them
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.table(name)
  }

  /** Post-run session hygiene shared by every bounded streaming query:
    * clear the terminated-query registry (StreamingQueryManager retains
    * every finished query's wrapper otherwise) and remove the throwaway
    * checkpoint directory.
    */
  private def endStream(spark: SparkSession, ckpt: String): Unit = {
    spark.streams.resetTerminated()
    val p = new org.apache.hadoop.fs.Path(ckpt)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** st17/st19's shared document feed: TWO snapshots (even doc_ids then
    * odd), one file each, so `maxFilesPerTrigger=1` yields one epoch per
    * snapshot. ONE builder for the shared cachedFixture tag — the cache is
    * keyed by tag alone, so a second inline copy of this closure would be
    * a run-order-dependent drift hazard (whichever query ran first would
    * decide the fixture contents for both).
    */
  private def st17Feed(s: SparkSession, dir: String): String = {
    val docs = QUtil.t(s, dir, "documents")
    QUtil.cachedFixture(s, "st17_feed", dir) { w =>
      val fcat = new graft.icelite.IceCatalog(s, w)
      val feed = fcat.createTable("lake", "docs_st17", docs.schema)
      feed.append(docs.filter(col("doc_id") % 2 === 0).repartition(1))
      feed.append(docs.filter(col("doc_id") % 2 =!= 0).repartition(1))
      ()
    }
  }

  // -- sessionization state machine ------------------------------------------

  private val GapUs = 3600L * 1000000L // 1 hour session gap

  /** Per-user session splitter. State carries the open (possibly
    * still-growing) session across micro-batches; closed sessions are
    * emitted as final rows, and the open one is emitted too (its row is
    * re-emitted updated if a later batch extends it — update-mode sink
    * semantics, keyed on (user_id, session_ord)).
    */
  private def sessionize(
      userId: Long, events: Iterator[Ev],
      state: GroupState[OpenSession]): Iterator[SessionRow] = {
    val sorted = events.toSeq.sortBy(e => (e.us, e.event_id))
    var open = state.getOption.orNull
    val out = Seq.newBuilder[SessionRow]
    sorted.foreach { e =>
      open match {
        case null =>
          open = OpenSession(1, 1, e.us, e.us)
        case o if e.us - o.endUs > GapUs =>
          out += SessionRow(userId, o.ord, o.n, o.startUs, o.endUs)
          open = OpenSession(o.ord + 1, 1, e.us, e.us)
        case o =>
          open = o.copy(n = o.n + 1, endUs = e.us)
      }
    }
    if (open != null) {
      state.update(open)
      out += SessionRow(userId, open.ord, open.n, open.startUs, open.endUs)
    }
    out.result().iterator
  }

  val defs: Seq[QDef] = Seq(

    // Tumbling event-time window aggregation with a watermark: per-hour,
    // per-type event counts and exact value sums.
    QDef(
      "st1_stream_window",
      Some(s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
              |  COUNT(*) AS n, ${QUtil.dsumSql("value")} AS sum_value
              |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin),
      (s, dir) => {
        val agg = eventStream(s, dir)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), QUtil.dsum(col("value")).as("sum_value"))
          .select(col("window.start").as("hour_start"), col("event_type"),
            col("n"), col("sum_value"))
        runToTable(agg, OutputMode.Complete(), s"st1_sink_${System.nanoTime()}")
          .orderBy("hour_start", "event_type")
      }),

    // Built-in session windows: the declarative sibling of st2 — Spark
    // merges per-user gap sessions in state; window end = last event + gap.
    QDef(
      "st3_stream_session_window",
      // NB: session_window merges events whose half-open [t, t+gap) ranges
      // overlap, so two events exactly gap apart are SEPARATE sessions —
      // the oracle breaks on >= gap (st2's state machine deliberately uses
      // > gap and its oracle matches that instead)
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
             |g AS (
             |  SELECT user_id, event_id, us,
             |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w >= 3600000000
             |         THEN 1 ELSE 0 END AS brk
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
             |s AS (
             |  SELECT user_id, us,
             |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
             |  FROM g)
             |SELECT user_id, MIN(us) AS start_us, MAX(us) + 3600000000 AS end_us,
             |  COUNT(*) AS n_events
             |FROM s GROUP BY user_id, sid
             |ORDER BY user_id, start_us""".stripMargin),
      (s, dir) => {
        val agg = eventStream(s, dir)
          .withWatermark("ts", "1 hour")
          .groupBy(session_window(col("ts"), "1 hour"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("start_us"),
            unix_micros(col("session_window.end")).as("end_us"),
            col("n_events"))
        runToTable(agg, OutputMode.Complete(), s"st3_sink_${System.nanoTime()}")
          .orderBy("user_id", "start_us")
      }),

    // Streaming deduplication: the continuous form of exact dedup (x1) —
    // an at-least-once upstream (modeled by unioning the source with
    // itself, so EVERY row arrives twice) deduplicates on (event_id, ts)
    // behind a watermark. Including the event-time column in the dedup key
    // is what lets Spark EVICT state as the watermark passes: without it,
    // the key set grows forever — the difference between a stream that runs
    // for months and one that OOMs. Oracle: dedup of the doubled input must
    // equal the original table exactly (a broken dedup doubles the counts
    // and hash-mismatches).
    QDef(
      "st6_stream_dedup",
      Some("""SELECT event_id, user_id, event_type, value FROM events
             |ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val doubled = eventStream(s, dir).union(eventStream(s, dir))
          .withWatermark("ts", "1 hour")
          .dropDuplicates("event_id", "ts")
          .select("event_id", "user_id", "event_type", "value")
        runToTable(doubled, OutputMode.Append(), s"st6_sink_${System.nanoTime()}")
          .orderBy("event_id")
      }),

    // Watermark-scoped streaming dedup: the at-least-once upstream whose
    // REPLAY carries a drifted timestamp (same payload, later arrival) —
    // exactly what st6's dropDuplicates(key, ts) cannot deduplicate (the
    // composite key differs) and dropDuplicatesWithinWatermark exists
    // for: duplicates within the watermark delay dedupe on the business
    // key ALONE, while state still evicts as the watermark passes — the
    // difference between keying state on (id) forever (unbounded) and
    // keying it on (id) for the dedup horizon (bounded). Oracle: dedup of
    // the doubled, time-shifted input equals the original table exactly.
    QDef(
      "st12_stream_dedup_watermark",
      Some("""SELECT event_id, user_id, event_type, value FROM events
             |ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val replayed = eventStream(s, dir)
          .withColumn("ts", col("ts") + expr("interval 1 second"))
        val deduped = eventStream(s, dir).union(replayed)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .select("event_id", "user_id", "event_type", "value")
        runToTable(deduped, OutputMode.Append(),
          s"st12_sink_${System.nanoTime()}")
          .orderBy("event_id")
      }),

    // Streaming CURATION (round 14): the x37 composed quality gate over an
    // unbounded DOCUMENT stream. The gate is row-local by construction
    // (graft.queries.TextOps.qualityGate — the exact function the batch
    // operator runs, shared so the spellings cannot drift), so it needs no
    // state store and no watermark: each micro-batch scores its docs and
    // the icelite sink commits one snapshot per epoch — the shape a
    // continuously-ingesting corpus pipeline actually ships (score at
    // ingest, audit later, re-litigate thresholds without re-reading).
    // Oracle: x37's own SQL, verbatim by reference — the stream's final
    // table must equal the batch gate's answer.
    QDef(
      "st14_stream_quality_gate",
      graft.queries.TextOps.defs.find(_.name == "x37_quality_gate")
        .flatMap(_.oracle),
      (s, dir) => {
        val cat = new graft.icelite.IceCatalog(s, QUtil.freshWarehouse(s, "st14"))
        val ckpt = Files.createTempDirectory("graft-stream-st14").toString
        val docSchema = s.read.parquet(s"$dir/documents.parquet").schema
        val docs = s.readStream
          .schema(docSchema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(dir)
        val q = graft.queries.TextOps.qualityGate(docs)
          .writeStream
          .outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val tbl =
              if (cat.tableExists("lake", "gate")) cat.loadTable("lake", "gate")
              else cat.createTable("lake", "gate", batch.schema)
            tbl.append(batch)
            ()
          }
          .start()
        q.awaitTermination()
        endStream(s, ckpt)
        cat.loadTable("lake", "gate").toDF.orderBy("doc_id")
      }),

    // Streaming ingestion into the IceLite table layer via foreachBatch:
    // one append snapshot per micro-batch — exactly the reference writer's
    // batch-loop semantics (C6, one snapshot per Arrow batch, wr:101-110),
    // now with ACID table commits behind a continuous source.
    QDef(
      "st4_stream_icelite_sink",
      Some("""SELECT event_id, user_id, event_type, value FROM events
             |ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val cat = new graft.icelite.IceCatalog(s, QUtil.freshWarehouse(s, "st4"))
        val cols = Seq("event_id", "user_id", "event_type", "value")
        val ckpt = Files.createTempDirectory("graft-stream-st4").toString
        val q = eventStream(s, dir)
          .selectExpr(cols: _*)
          .writeStream
          .outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val tbl =
              if (cat.tableExists("lake", "events_s")) cat.loadTable("lake", "events_s")
              else cat.createTable("lake", "events_s", batch.schema)
            tbl.append(batch)
            ()
          }
          .start()
        q.awaitTermination()
        endStream(s, ckpt)
        cat.loadTable("lake", "events_s").toDF.orderBy("event_id")
      }),

    // The NATIVE streaming sink (round 5): the same snapshot-per-epoch
    // ingestion as st4 without foreachBatch boilerplate —
    // `writeStream.format("icelite")` commits one append snapshot per
    // micro-batch, stamped "<queryId>/<epochId>" so an epoch replayed
    // after driver recovery is a no-op instead of a duplicate append:
    // exactly-once into the table on top of Spark's offset log (DsV2Spec
    // proves the restart path).
    QDef(
      "st7_stream_native_sink",
      Some("""SELECT event_id, user_id, event_type, value FROM events
             |ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val wh = QUtil.freshWarehouse(s, "st7")
        val cat = new graft.icelite.IceCatalog(s, wh)
        val cols = Seq("event_id", "user_id", "event_type", "value")
        val schema = QUtil.t(s, dir, "events").selectExpr(cols: _*).schema
        val tbl = cat.createTable("lake", "events_ns", schema)
        val ckpt = Files.createTempDirectory("graft-stream-st7").toString
        val q = eventStream(s, dir)
          .selectExpr(cols: _*)
          .writeStream.format("icelite")
          .option("warehouse", wh).option("table", "lake.events_ns")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        endStream(s, ckpt)
        require(tbl.snapshots.nonEmpty &&
          tbl.snapshots.forall(sn => sn.operation == "append" && sn.streamCommit.nonEmpty),
          "native sink must stamp append snapshots with the epoch marker")
        tbl.toDF.orderBy("event_id")
      }),

    // Streaming CDC UPSERT through the native sink: `.option("upsertKeys",
    // ...)` turns every epoch into an equality-delete upsert — the epoch's
    // rows land atomically WITH an eq-delete that makes them the only live
    // version of their keys, and the target table is never read (write
    // cost tracks the epoch, never the table — the shape continuous CDC
    // ingestion needs at 100 TB). A 3-epoch change log streams through
    // per-snapshot micro-batches in commit order; the oracle states the
    // last-writer-wins result relationally. Epoch replays after recovery
    // are no-ops via the same streamCommit stamp as st7 (DsV2Spec proves
    // the restart).
    QDef(
      "st8_stream_upsert",
      Some("""SELECT event_id, user_id, event_type,
             |  CASE WHEN event_id % 5 = 0 THEN value * 3
             |       WHEN event_id % 3 = 0 THEN value * 2
             |       ELSE value END AS value
             |FROM events ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val cols = Seq("event_id", "user_id", "event_type", "value")
        val ev = QUtil.t(s, dir, "events").selectExpr(cols: _*)
        // the CDC feed is FIXTURE (the operator under test is the streaming
        // upsert that consumes it): build it once per JVM per scale factor.
        // One append snapshot per change slice; repartition(1) +
        // maxFilesPerTrigger=1 gives one micro-batch per snapshot, in
        // commit order (upsert epochs are key-unique, the CDC contract).
        val whFeed = QUtil.cachedFixture(s, "st8_feed", dir) { w =>
          val fcat = new graft.icelite.IceCatalog(s, w)
          val feed = fcat.createTable("lake", "changes_st8", ev.schema)
          feed.append(ev.repartition(1))
          feed.append(ev.filter(col("event_id") % 3 === 0)
            .withColumn("value", col("value") * 2).repartition(1))
          feed.append(ev.filter(col("event_id") % 5 === 0)
            .withColumn("value", col("value") * 3).repartition(1))
        }
        val wh = QUtil.freshWarehouse(s, "st8")
        val cat = new graft.icelite.IceCatalog(s, wh)
        val tbl = cat.createTable("lake", "events_cdc", ev.schema)
        val ckpt = Files.createTempDirectory("graft-stream-st8").toString
        val q = s.readStream.format("icelite")
          .option("warehouse", whFeed).option("table", "lake.changes_st8")
          .option("maxFilesPerTrigger", "1").load()
          .writeStream.format("icelite")
          .option("warehouse", wh).option("table", "lake.events_cdc")
          .option("upsertKeys", "event_id")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        endStream(s, ckpt)
        val snaps = tbl.snapshots
        require(snaps.length == 3 && snaps.forall(sn =>
          sn.operation == "upsert" && sn.streamCommit.nonEmpty),
          s"one stamped upsert snapshot per epoch expected: $snaps")
        val eqs = tbl.deletesOf(tbl.meta.currentSnapshot.get).filter(_.isEquality)
        require(eqs.length == 3, s"each epoch must carry its equality delete: $eqs")
        tbl.toDF.orderBy("event_id")
      }),

    // Streaming SOURCE over the IceLite table layer: readStream tails the
    // append-snapshot log (offsets = snapshot ids, each micro-batch reads
    // exactly the files added by its snapshot range — change-volume cost,
    // never table-size cost). The read twin of st4's snapshot sink:
    // together they form an end-to-end incremental pipeline over ACID
    // table commits. Exactly-once replay holds because snapshot ranges are
    // immutable.
    QDef(
      "st5_stream_icelite_source",
      Some("""SELECT event_id, user_id, event_type, value FROM events
             |ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val ev = QUtil.t(s, dir, "events")
          .select("event_id", "user_id", "event_type", "value")
        // the source table is FIXTURE (the operator under test is the
        // streaming read over its snapshot log): build once per JVM/sf.
        // Three append snapshots = three planned micro-batch ranges.
        val wh = QUtil.cachedFixture(s, "st5_src", dir) { w =>
          val cat = new graft.icelite.IceCatalog(s, w)
          val tbl = cat.createTable("lake", "events_src", ev.schema)
          (0 until 3).foreach(i => tbl.append(ev.filter(col("event_id") % 3 === i)))
        }
        val stream = s.readStream.format("icelite")
          .option("warehouse", wh).option("table", "lake.events_src")
          .load()
        runToTable(stream, OutputMode.Append(), s"st5_sink_${System.nanoTime()}")
          .orderBy("event_id")
      }),

    // STREAMING CDC CHANGELOG source: `option("changelog", "true")` tails
    // the snapshot log and emits every committed ROW CHANGE — inserts from
    // added files, deletes RESOLVED TO ROW VALUES (position and equality
    // alike, row-locally inside each affected file's partition: no join) —
    // the streaming twin of the batch changelog/TVF and the Delta
    // readChangeFeed analog. maxFilesPerTrigger=1 forces the history to
    // replay across many micro-batches, proving offsets compose; planning
    // cost per batch tracks that batch's changes, never table size. The
    // oracle states the full expected change stream relationally (same
    // MOR history shape as k25).
    QDef(
      "st10_stream_changelog",
      Some(s"""SELECT 'insert' AS _change_type, 1 AS _commit_snapshot_id,
              |       ${OrderCols.mkString(", ")}
              |FROM orders WHERE o_orderkey % 3 = 0
              |UNION ALL
              |SELECT 'insert', 2, o_orderkey, o_custkey, 'E' AS o_orderstatus,
              |       o_totalprice * 1.2, o_orderdate, o_orderpriority
              |FROM orders WHERE o_orderkey % 2 = 0
              |UNION ALL
              |SELECT 'delete', 2, ${OrderCols.mkString(", ")}
              |FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 = 0
              |UNION ALL
              |SELECT 'delete', 3, ${OrderCols.mkString(", ")}
              |FROM orders
              |WHERE o_orderkey <= 100 AND o_orderkey % 3 = 0 AND o_orderkey % 2 <> 0
              |UNION ALL
              |SELECT 'delete', 3, o_orderkey, o_custkey, 'E' AS o_orderstatus,
              |       o_totalprice * 1.2, o_orderdate, o_orderpriority
              |FROM orders WHERE o_orderkey <= 100 AND o_orderkey % 2 = 0
              |ORDER BY _commit_snapshot_id, _change_type, o_orderkey""".stripMargin),
      (s, dir) => {
        val o = QUtil.t(s, dir, "orders")
        // same MOR history as k25's fixture (append + eq upsert + position
        // delete), built once per JVM per scale factor — the operator under
        // test is the streaming changelog READ over it
        val wh = QUtil.cachedFixture(s, "st10_cdc", dir) { w =>
          val cat = new graft.icelite.IceCatalog(s, w)
          val fixture = cat.createTable("lake", "orders_cdcs", o.schema)
          fixture.append(o.filter(col("o_orderkey") % 3 === 0)
            .repartitionByRange(2, col("o_orderkey")))
          fixture.upsertMorEq(
            o.filter(col("o_orderkey") % 2 === 0)
              .withColumn("o_orderstatus", lit("E"))
              .withColumn("o_totalprice", col("o_totalprice") * 1.2),
            keys = Seq("o_orderkey"))
          fixture.deleteWhereMor(Seq(
            org.apache.spark.sql.sources.LessThanOrEqual("o_orderkey", 100L)))
        }
        val stream = s.readStream.format("icelite")
          .option("warehouse", wh).option("table", "lake.orders_cdcs")
          .option("changelog", "true")
          .option("maxFilesPerTrigger", "1")
          .load()
        runToTable(stream, OutputMode.Append(),
          s"st10_sink_${System.nanoTime()}")
          .withColumn("_commit_snapshot_id",
            col("_commit_snapshot_id").cast("int"))
          .select((Seq("_change_type", "_commit_snapshot_id") ++ OrderCols)
            .map(col): _*)
          .orderBy("_commit_snapshot_id", "_change_type", "o_orderkey")
      }),

    // CONTINUOUSLY-MAINTAINED MATERIALIZED ROLLUP — k28's batch refresh as
    // a standing pipeline: the CDC changelog STREAM feeds foreachBatch,
    // each micro-batch folds ITS changes into signed per-group deltas
    // (+1 insert / -1 delete) and MERGEs them into the rollup table. The
    // rollup is correct after every epoch, at O(epoch's changes) cost —
    // the streaming answer to "keep the dashboard aggregate current
    // against a 100 TB fact table". Exactly-once on restart comes from
    // pairing the MERGE with st7's epoch-stamp guard in production; the
    // bounded oracle run replays no epochs. Same oracle as k28: the final
    // rollup equals a from-scratch recompute of the end state.
    QDef(
      "st11_stream_rollup",
      Some(s"""WITH fin AS (
              |  SELECT o_orderpriority, o_totalprice FROM orders
              |  WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 <> 0 AND o_orderkey > 100
              |  UNION ALL
              |  SELECT o_orderpriority, o_totalprice * 1.2 AS o_totalprice FROM orders
              |  WHERE o_orderkey % 2 = 0 AND o_orderkey > 100)
              |SELECT o_orderpriority, COUNT(*) AS n_orders,
              |  ${QUtil.dsumSql("o_totalprice")} AS sum_price
              |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val o = QUtil.t(s, dir, "orders")
        val wh = QUtil.cachedFixture(s, "st10_cdc", dir) { w =>
          val cat = new graft.icelite.IceCatalog(s, w)
          val fixture = cat.createTable("lake", "orders_cdcs", o.schema)
          fixture.append(o.filter(col("o_orderkey") % 3 === 0)
            .repartitionByRange(2, col("o_orderkey")))
          fixture.upsertMorEq(
            o.filter(col("o_orderkey") % 2 === 0)
              .withColumn("o_orderstatus", lit("E"))
              .withColumn("o_totalprice", col("o_totalprice") * 1.2),
            keys = Seq("o_orderkey"))
          fixture.deleteWhereMor(Seq(
            org.apache.spark.sql.sources.LessThanOrEqual("o_orderkey", 100L)))
        }
        // empty rollup in its own warehouse; the stream fills it
        val rwh = QUtil.freshWarehouse(s, "st11")
        val rcat = new graft.icelite.IceCatalog(s, rwh)
        rcat.createTable("lake", "rollup", org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderpriority STRING, n_orders BIGINT, sq BIGINT"))
        s.conf.set("spark.sql.catalog.icelite_st11", "graft.sources.v2.IceLiteCatalog")
        s.conf.set("spark.sql.catalog.icelite_st11.warehouse", rwh)
        val log = s.readStream.format("icelite")
          .option("warehouse", wh).option("table", "lake.orders_cdcs")
          .option("changelog", "true")
          .option("maxFilesPerTrigger", "1") // several epochs, not one
          .load()
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft-st11").toString
        val view = s"st11_delta_${System.nanoTime()}"
        val q = log.writeStream
          .outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            // the shared delta fold + MERGE (exactly k28's batch refresh,
            // applied per epoch). The temp view lives in the micro-batch's
            // CLONED session — the MERGE must run there too (confs, incl.
            // the catalog registration, are inherited by the clone).
            QUtil.rollupDelta(b, "o_orderpriority", "o_totalprice")
              .createOrReplaceTempView(view)
            b.sparkSession.sql(QUtil.mergeRollupSql(
              "icelite_st11.lake.rollup", view, "o_orderpriority"))
            ()
          }
          .start()
        q.awaitTermination()
        endStream(s, ckpt)
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        s.sql("DELETE FROM icelite_st11.lake.rollup WHERE n_orders = 0")
        s.table("icelite_st11.lake.rollup")
          .select(col("o_orderpriority"), col("n_orders"),
            (col("sq").cast("double") / lit(1000000.0)).as("sum_price"))
          .orderBy("o_orderpriority")
      }),

    // STREAM-STREAM interval join: clicks joined to the views that follow
    // them within 30 minutes for the same user — the attribution shape
    // (impression->conversion) a continuous pipeline computes online. Both
    // sides carry watermarks and the join condition carries the event-time
    // interval, which is exactly what lets Spark BOUND the join state: a
    // buffered click can be evicted once the view-side watermark passes
    // click_ts + 30min (without the interval the state grows forever).
    // State is hash-partitioned on the join key (user_id) — the same
    // scale-out story as a shuffled batch join, amortized per micro-batch.
    // Oracle: on the bounded fixture the append-mode result equals the
    // batch interval join, stated relationally.
    QDef(
      "st9_stream_stream_join",
      Some("""SELECT a.event_id AS click_id, b.event_id AS view_id, a.user_id
             |FROM events a JOIN events b
             |  ON a.user_id = b.user_id
             | AND a.event_type = 'click' AND b.event_type = 'view'
             | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
             |ORDER BY click_id, view_id""".stripMargin),
      (s, dir) => {
        // one file-source stream, self-joined: both sides share the source's
        // file log and scan, halving per-batch source work vs two streams
        val src = eventStream(s, dir)
        val clicks = src
          .filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"))
          .withWatermark("click_ts", "1 hour")
        val views = src
          .filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id").as("view_uid"),
            col("ts").as("view_ts"))
          .withWatermark("view_ts", "1 hour")
        val joined = clicks.join(views,
          col("user_id") === col("view_uid") &&
            col("view_ts") >= col("click_ts") &&
            col("view_ts") <= col("click_ts") + expr("interval 30 minutes"))
          .select(col("click_id"), col("view_id"), col("user_id"))
        // runToTable sizes the state partitioning (a stream-stream join
        // runs FOUR state stores per shuffle partition, so the
        // per-partition checkpoint overhead matters doubly here)
        runToTable(joined, OutputMode.Append(), s"st9_sink_${System.nanoTime()}")
          .orderBy("click_id", "view_id")
      }),

    // st9's OUTER face (round 15): attribution pipelines need the
    // unmatched side too — clicks with NO view inside the 30-minute window
    // emit once, with NULL view columns, when the watermark closes their
    // interval (Spark evicts the click's state and null-extends it). The
    // oracle restates it as a batch LEFT JOIN; since the final watermark
    // never closes the trailing ~90 minutes of clicks, BOTH sides exclude
    // unmatched rows in that boundary region (matched rows are complete
    // regardless) — exact-equality eviction at the boundary is
    // engine-internal, so a 1-minute guard keeps the comparison
    // deterministic. The guard derives from the watermark Spark ACTUALLY
    // holds (r20 fix, found at sf0.001): with two watermarked inputs and
    // the default min policy, the global watermark is
    // min(max click_ts, max view_ts) - 1h — NOT max-over-all-events - 1h.
    // The old max(ts)-over-everything cutoff overshot whenever the last
    // event of the fixture was neither a click nor a view by more than the
    // slack (sf0.001: 3h55m gap), counting unmatched clicks the stream
    // never evicts. sf0.01's guard value is unchanged by the fix (its
    // trailing events are clicks/views), so the verified r19 output stands.
    // StreamOuterJoinSpec replays the same plan across multiple epochs and
    // asserts mid-stream state eviction.
    QDef(
      "st9b_stream_outer_interval_join",
      Some("""WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
             |v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
             |wm AS (SELECT LEAST(MAX(ts) FILTER (WHERE event_type = 'click'),
             |              MAX(ts) FILTER (WHERE event_type = 'view'))
             |         - INTERVAL 91 MINUTE AS cutoff FROM events),
             |m AS (SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id
             |      FROM c JOIN v ON c.user_id = v.user_id
             |       AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 30 MINUTE),
             |um AS (SELECT c.event_id AS click_id, CAST(NULL AS BIGINT) AS view_id, c.user_id
             |       FROM c, wm
             |       WHERE c.ts <= wm.cutoff
             |         AND NOT EXISTS (SELECT 1 FROM v WHERE v.user_id = c.user_id
             |           AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 30 MINUTE))
             |SELECT * FROM m UNION ALL SELECT * FROM um
             |ORDER BY click_id, view_id""".stripMargin),
      (s, dir) => {
        // the guard mirrors the stream's real final watermark: min over the
        // two watermarked inputs' maxima (see the QDef comment), minus the
        // 1h delay and the 30min interval plus 1min slack. Both maxima must
        // exist: least() skips a NULL, so a stream with no clicks or no
        // views would silently take the other side's maximum and
        // reintroduce the overshoot the guard exists to prevent.
        val guard = QUtil.t(s, dir, "events")
          .agg(max(when(col("event_type") === "click", col("ts"))).as("click_max"),
            max(when(col("event_type") === "view", col("ts"))).as("view_max"))
          .select(col("click_max"), col("view_max"),
            (least(col("click_max"), col("view_max"))
              - expr("interval 91 minutes")).as("cutoff"))
          .collect()(0)
        val missing = Seq("click", "view").zipWithIndex
          .collect { case (kind, i) if guard.isNullAt(i) => kind }
        if (missing.nonEmpty)
          throw new IllegalStateException(
            "st9b_stream_outer_interval_join: watermark guard undefined — the " +
              s"events hold no ${missing.mkString(" or ")} rows, so the " +
              "two-input watermark has no minimum to bound unmatched clicks")
        val cutoff = guard.getTimestamp(2)
        val src = eventStream(s, dir)
        val clicks = src
          .filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"))
          .withWatermark("click_ts", "1 hour")
        val views = src
          .filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id").as("view_uid"),
            col("ts").as("view_ts"))
          .withWatermark("view_ts", "1 hour")
        val joined = clicks.join(views,
          col("user_id") === col("view_uid") &&
            col("view_ts") >= col("click_ts") &&
            col("view_ts") <= col("click_ts") + expr("interval 30 minutes"),
          "left_outer")
          .select(col("click_id"), col("view_id"), col("user_id"),
            col("click_ts"))
        val out = runToTable(joined, OutputMode.Append(),
          s"st9b_sink_${System.nanoTime()}")
        out.filter(col("view_id").isNotNull || col("click_ts") <= lit(cutoff))
          .select("click_id", "view_id", "user_id")
          .orderBy("click_id", "view_id")
      }),

    // Stateful sessionization: 1-hour-gap sessions per user via
    // flatMapGroupsWithState (custom state machine, not a window rewrite).
    QDef(
      "st2_stream_sessionize",
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
             |g AS (
             |  SELECT user_id, event_id, us,
             |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 3600000000
             |         THEN 1 ELSE 0 END AS brk
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
             |s AS (
             |  SELECT user_id, us,
             |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_ord
             |  FROM g)
             |SELECT user_id, session_ord, COUNT(*) AS n_events,
             |  MIN(us) AS start_us, MAX(us) AS end_us
             |FROM s GROUP BY user_id, session_ord
             |ORDER BY user_id, session_ord""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val evs: Dataset[Ev] = eventStream(s, dir)
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
          .as[Ev]
        val sessions = evs
          .groupByKey(_.user_id)
          .flatMapGroupsWithState(
            OutputMode.Update(), GroupStateTimeout.NoTimeout())(sessionize)
        runToTable(sessions.toDF(), OutputMode.Update(),
          s"st2_sink_${System.nanoTime()}")
          .orderBy("user_id", "session_ord")
      }),

    // Stream-static join (round 10): enrich a live event stream with a
    // slow-changing dimension served from an icelite table — the most
    // common production streaming shape (clickstream x user tier). The
    // static side is re-planned per micro-batch at its then-current
    // snapshot through the same pushdown-capable DSv2 scan as batch reads
    // (dimension updates are picked up between batches — the semantics
    // Spark documents for stream-static joins) and BROADCAST into a
    // stateless join: no stream shuffle, no state store, unbounded-safe.
    // The oracle restates the fixture dimension's tier relationally.
    QDef(
      "st13_stream_static_join",
      Some("""SELECT event_id, user_id,
             |  CASE CAST(user_id % 3 AS INT) WHEN 0 THEN 'gold'
             |    WHEN 1 THEN 'silver' ELSE 'bronze' END AS tier,
             |  value
             |FROM events WHERE event_type = 'purchase'
             |ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val wh = QUtil.cachedFixture(s, "st13_dim", dir) { w =>
          val cat = new graft.icelite.IceCatalog(s, w)
          val dim = QUtil.t(s, dir, "events").select(col("user_id")).distinct()
            .withColumn("tier", expr(
              "CASE CAST(user_id % 3 AS INT) WHEN 0 THEN 'gold' " +
                "WHEN 1 THEN 'silver' ELSE 'bronze' END"))
          cat.createTable("lake", "user_tier", dim.schema).append(dim)
          ()
        }
        val dim = s.read.format("icelite")
          .option("warehouse", wh).option("table", "lake.user_tier").load()
        val out = eventStream(s, dir)
          .filter(col("event_type") === "purchase")
          .join(broadcast(dim), Seq("user_id"))
          .select(col("event_id"), col("user_id"), col("tier"), col("value"))
        runToTable(out, OutputMode.Append(), s"st13_sink_${System.nanoTime()}")
          .orderBy("event_id")
      }),

    // Streaming INGEST-TIME image dedup (round 16) — x25's incremental-
    // dedup shape for the multimodal pillar: a continuously-arriving image
    // stream screens against the EXISTING corpus's perceptual-hash index
    // before anything lands in the lake (admit novel images, route
    // near-duplicates to a report). The screen is a STATELESS stream-
    // static join — no watermark, no state store, unbounded-safe by
    // construction: each incoming image dHashes row-locally in-stream
    // (the x46 hash through the same shared code), explodes into its 4
    // LSH bands, equi-joins the banded corpus index on (band, bucket) —
    // at 100 TB the index is a bucket-partitioned table, x25's layout —
    // and verifies candidates exactly at <= 6 bits. Incoming model:
    // even doc_ids re-encode a corpus scene as JPEG (the near-dup class
    // the screen exists to catch), odd doc_ids are novel scenes (mostly
    // clean — low-frequency synthetic scenes can genuinely land near a
    // corpus image, the aggregate behavior x46's spec pins; every
    // emitted match is perceptually real by the exact <= 6 test).
    // Oracle: the incoming side's hashes are ALSO materialized by a batch
    // pass of the same deterministic pipeline, and DuckDB replays the
    // whole screen over (corpus fixture, incoming fixture) — if the
    // stream-side hashing or join drifted from batch by one bit, the
    // match set would differ and the compare would fail.
    QDef(
      "st15_stream_image_ingest_dedup",
      Some(s"""WITH c AS (
             |  SELECT doc_id, dhash
             |  FROM read_parquet('${graft.queries.DedupOps.X49HashFixture}/*.parquet')),
             |i AS (
             |  SELECT doc_id, dhash
             |  FROM read_parquet('${QUtil.fixturePath("st15_incoming_hashes")}/*.parquet')),
             |cb AS (
             |  SELECT doc_id, dhash, CAST(band AS INT) AS band,
             |    (dhash >> (16 * CAST(band AS INT))) & 65535 AS bucket
             |  FROM c, unnest(range(0, 4)) t(band)),
             |ib AS (
             |  SELECT doc_id, dhash, CAST(band AS INT) AS band,
             |    (dhash >> (16 * CAST(band AS INT))) & 65535 AS bucket
             |  FROM i, unnest(range(0, 4)) t(band)),
             |cand AS (
             |  SELECT ib.doc_id AS in_id, cb.doc_id AS corpus_id, ib.band AS band,
             |    CAST(bit_count(xor(ib.dhash, cb.dhash)) AS INT) AS hamming
             |  FROM ib JOIN cb ON ib.band = cb.band AND ib.bucket = cb.bucket)
             |SELECT in_id, corpus_id, band, hamming FROM cand WHERE hamming <= 6
             |ORDER BY in_id, corpus_id, band""".stripMargin),
      (s, dir) => {
        import s.implicits._
        import graft.operators.Multimodal
        import graft.queries.DedupOps
        // the incoming pipeline, shared verbatim by the batch fixture pass
        // and the stream (one function, so the two cannot drift)
        def hashIncoming(ids: Iterator[Long]): Iterator[(Long, Long)] =
          ids.map { id =>
            val payload =
              if (id % 2 == 0) // JPEG re-encode of an existing corpus scene
                Multimodal.renderImage((id / 2) % 400, 32, "jpg")
              else // genuinely novel scene, far outside the corpus seeds
                Multimodal.renderImage(1000000L + id, 32, "png")
            (id, Multimodal.dHash64(payload).getOrElse(
              throw new IllegalStateException(
                s"undecodable incoming image for doc $id")))
          }
        // corpus index: the x49 hash fixture (built once per JVM/sf),
        // banded fresh per micro-batch — at scale this is a materialized
        // bucket-partitioned index table
        val corpusWh = QUtil.cachedFixture(s, DedupOps.X49HashTag, dir) { w =>
          QUtil.writeSized(DedupOps.imageHashes(s, dir), w)
        }
        def banded(df: DataFrame, idAs: String): DataFrame =
          graft.queries.DedupOps
            .hammingBands(df, "dhash", Seq("doc_id", "dhash"))
            .select(col("doc_id").as(idAs), col("dhash").as(s"${idAs}_hash"),
              col("band"), col("bucket"))
        // batch pass materializes the incoming hashes for the oracle —
        // memoized per JVM/sf (it exists only so DuckDB has bytes to
        // replay; the operator under test is the STREAM, which re-derives
        // every hash on every run)
        QUtil.cachedFixture(s, "st15_incoming_hashes", dir) { w =>
          QUtil.t(s, dir, "documents").select(col("doc_id")).as[Long]
            .repartition(s.sparkContext.defaultParallelism)
            .mapPartitions(hashIncoming).toDF("doc_id", "dhash")
            .hint("rebalance").write.mode("overwrite").parquet(w)
          ()
        }
        val corpusB = banded(s.read.parquet(corpusWh), "corpus_id")
        // the stream re-derives every incoming hash through the same code
        val docSchema = s.read.parquet(s"$dir/documents.parquet").schema
        val incoming = s.readStream.schema(docSchema)
          .option("pathGlobFilter", "documents.parquet").parquet(dir)
          .select(col("doc_id")).as[Long]
          // decode parallelism must follow ROW count, not file-split count
          // (the Multimodal module's rule): the whole fixture is one file,
          // so without this the entire micro-batch renders in one task
          .repartition(s.sparkContext.defaultParallelism)
          .mapPartitions(hashIncoming).toDF("doc_id", "dhash")
        // one report row per (incoming, corpus, matching band): keying the
        // report on the band keeps the screen fully STATELESS (a DISTINCT
        // across bands would need a state store) and makes each match
        // auditable — which band caught it
        val matches = banded(incoming, "in_id")
          .join(broadcast(corpusB), Seq("band", "bucket"))
          .select(col("in_id"), col("corpus_id"), col("band"),
            bit_count(col("in_id_hash").bitwiseXOR(col("corpus_id_hash")))
              .cast("int").as("hamming"))
          .filter(col("hamming") <= 6)
        runToTable(matches, OutputMode.Append(),
          s"st15_sink_${System.nanoTime()}")
          .orderBy("in_id", "corpus_id", "band")
      }),

    // The streaming lake's HOUSEKEEPING loop (round 17): a snapshot-per-
    // epoch sink (st4/st7) lands one small file set per micro-batch — the
    // small-file debt every continuously-ingesting table accrues — and the
    // maintenance pass that pays it down is the SAME selective binpack the
    // batch table runs (k29), composed here post-stream: three epochs
    // ingest through the native exactly-once sink, then
    // `CALL system.rewrite_data_files` merges the debt and the in-query
    // requires prove the file count dropped at unchanged rows while
    // HISTORY stayed intact (pre-compaction snapshots pin their own
    // immutable files — time travel unaffected). The oracle states the
    // unchanged table contents; debt/paydown arithmetic is in-query.
    QDef(
      "st16_stream_compact",
      Some("""SELECT event_id, user_id, event_type, value FROM events
             |ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val cols = Seq("event_id", "user_id", "event_type", "value")
        val ev = QUtil.t(s, dir, "events").selectExpr(cols: _*)
        // 3-epoch feed (fixture): each source snapshot is one micro-batch
        val whFeed = QUtil.cachedFixture(s, "st16_feed", dir) { w =>
          val fcat = new graft.icelite.IceCatalog(s, w)
          val feed = fcat.createTable("lake", "events_st16", ev.schema)
          (0 until 3).foreach(i =>
            feed.append(ev.filter(col("event_id") % 3 === i).repartition(1)))
          ()
        }
        val wh = QUtil.freshWarehouse(s, "st16")
        val cat = new graft.icelite.IceCatalog(s, wh)
        val tbl = cat.createTable("lake", "events_cp", ev.schema)
        val ckpt = Files.createTempDirectory("graft-stream-st16").toString
        val q = s.readStream.format("icelite")
          .option("warehouse", whFeed).option("table", "lake.events_st16")
          .option("maxFilesPerTrigger", "1").load()
          .writeStream.format("icelite")
          .option("warehouse", wh).option("table", "lake.events_cp")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        endStream(s, ckpt)
        val before = tbl.visibleFiles(tbl.meta.currentSnapshot.get)
        require(tbl.snapshots.length == 3 && before.length >= 3,
          s"3 stream epochs must land 3 snapshots of small files: " +
            s"${tbl.snapshots.length} snaps, ${before.length} files")
        val total = before.map(_.rows).sum
        // the maintenance pass: every streamed file is under the threshold,
        // so the whole debt merges into one healthy file
        s.conf.set("spark.sql.catalog.icelite_st16",
          "graft.sources.v2.IceLiteCatalog")
        s.conf.set("spark.sql.catalog.icelite_st16.warehouse", wh)
        s.sql(
          s"""CALL icelite_st16.system.rewrite_data_files(
             |  table => 'lake.events_cp',
             |  min_file_size_bytes => ${before.map(_.bytes).max + 1})"""
            .stripMargin).collect()
        val t2 = cat.loadTable("lake", "events_cp")
        val after = t2.visibleFiles(t2.meta.currentSnapshot.get)
        require(after.length < before.length && after.map(_.rows).sum == total,
          s"binpack must cut the file count at unchanged rows: " +
            s"${before.length} -> ${after.length} files, " +
            s"$total -> ${after.map(_.rows).sum} rows")
        require(t2.snapshots.length == 4 &&
          t2.snapshots.last.operation == "compact",
          s"compaction is one more snapshot on the same history: " +
            s"${t2.snapshots.map(_.operation)}")
        t2.toDF.orderBy("event_id")
      }),

    // STREAMING INDEX MAINTENANCE (round 19) — the retrieval loop closed:
    // documents arrive as a stream, and each micro-batch epoch
    // incrementally maintains BOTH persisted retrieval indexes in ONE
    // foreachBatch — BM25 postings/df-deltas/corpus-scalars append (x61's
    // append-only algebra: per-term df = Σ batch deltas, so no existing
    // posting is ever read or rewritten) and IVF cell assignments append
    // (x53's delta shape: fixed centroids make assignment row-independent,
    // so stream-built ≡ assign-everything). Every epoch's commits are
    // asserted PURE APPENDS of exactly the batch's own rows — O(epoch)
    // maintenance cost however large the index already is, the only
    // economics a continuously-ingesting 100 TB corpus affords. After the
    // stream drains, an x63 hybrid RRF probe runs over the STREAM-BUILT
    // warehouse through the same hybridLegs code as the batch operator —
    // and the oracle is x63's oracle VERBATIM (the full-corpus
    // definition), so the hash match proves the stream-maintained indexes
    // serve exactly what a from-scratch batch build would: replay
    // equality, the st10/st15 discipline, including results for the docs
    // that arrived in the LAST epoch.
    QDef(
      "st17_stream_index_maintain",
      Some(graft.queries.SimilarityOps.hybridRrfOracleSql),
      (s, dir) => {
        // feed: 2 snapshots (even/odd doc_id), one file each, so
        // maxFilesPerTrigger=1 yields one maintenance epoch per snapshot
        val whFeed = st17Feed(s, dir)
        val wh = QUtil.freshWarehouse(s, "st17")
        val cat = new graft.icelite.IceCatalog(s, wh)
        graft.queries.SimilarityOps.createRetrievalIndexTables(cat)
        val ckpt = Files.createTempDirectory("graft-stream-st17").toString
        // epoch-shuffle sizing (r19 opt round): the maintenance kernel's
        // ~10 aggregates/joins per epoch run in the micro-batch's cloned
        // session, which captures this conf at stream start — at the
        // session default (cpus) every one of them ran 32 reduce tasks
        // over a few hundred batch rows. Pin to runToTable's measured
        // streaming partition count for the stream's lifetime, restore
        // after (a real deployment sizes this to its epoch volume).
        // SERIAL-EXECUTION ASSUMPTION (ADVICE r19, same contract as
        // runToTable's identical set/restore): nothing else plans queries
        // on this session while the stream drains — both harnesses run
        // queries strictly one at a time. A concurrent-caller deployment
        // starts the stream from a cloned session carrying this conf
        // instead (the componentLabels clone discipline).
        val prevParts = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions", "4")
        try {
          val q = s.readStream.format("icelite")
            .option("warehouse", whFeed).option("table", "lake.docs_st17")
            .option("maxFilesPerTrigger", "1").load()
            .writeStream
            .outputMode(OutputMode.Append())
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (b: DataFrame, _: Long) =>
              // the maintenance kernel (pure-append assertions inside);
              // runs in the micro-batch's cloned session
              graft.queries.SimilarityOps.maintainRetrievalIndexes(cat, dir, b)
              ()
            }
            .start()
          q.awaitTermination()
        } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
        endStream(s, ckpt)
        // two epochs = exactly two append snapshots per index table,
        // zero rewrites (asserted per epoch inside the kernel)
        val postT = cat.loadTable("lake", "bm25_postings")
        require(postT.snapshots.map(_.operation) == Seq("append", "append"),
          s"2 epochs must land 2 pure appends: ${postT.snapshots.map(_.operation)}")
        // probe the STREAM-BUILT warehouse with the batch fusion code —
        // same code path, same oracle as x63
        graft.queries.SimilarityOps.hybridLegs(s, dir, wh, wh, 10) match {
          case None => graft.queries.SimilarityOps.emptyHybridFrame(s)
          case Some((_, _, _, fused)) => fused.orderBy("qid", "rank")
        }
      }),

    // Streaming INGEST-TIME duplicate-span screening (round 19) — x67's
    // cross-document span dedup composed with the st15 ingest-screen
    // shape: a continuously-arriving document stream is screened against
    // the EXISTING corpus's 8-token-window set before anything lands, and
    // every incoming window whose exact token sequence already exists in
    // the corpus is reported as (in_id, st, en) — the boilerplate /
    // verbatim-re-post screen a crawler pipeline runs at admission. The
    // screen is a STATELESS stream-static equi-join on the window string:
    // tokenize + window generation are row-local in-stream (the x67
    // expressions), the corpus side is the DISTINCT window set (at 100 TB
    // a bucket-partitioned lake table keyed by a 128-bit window hash;
    // distinct at build time, so the join emits each incoming window at
    // most once and needs no DISTINCT — no watermark, no state store,
    // unbounded-safe by construction). Interval MERGING deliberately does
    // NOT happen in-stream (it would need per-doc state); the emitted
    // window-granular report is the auditable admission evidence, and the
    // batch x67 owns span consolidation.
    // Incoming model (deterministic, restated by the oracle): every third
    // doc re-posts a corpus document VERBATIM (the screen must flag every
    // window it has); the rest are novel — same length, every token
    // suffixed with ~id, so no 8-gram can collide with the corpus.
    QDef(
      "st18_stream_span_screen",
      // interpolated from the ONE SpanK like the Spark side — a literal-8
      // oracle here would silently diverge if the span width ever moved
      Some {
        val k = graft.queries.DedupOps.SpanK
        s"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\\s+') arr
           |  FROM documents WHERE len(trim(text)) > 0),
           |corp AS (
           |  SELECT DISTINCT array_to_string(arr[p : p+${k - 1}], ' ') s
           |  FROM toks, unnest(range(1, len(arr) - ${k - 2})) g(p)
           |  WHERE len(arr) >= $k),
           |inc AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 3 = 0 THEN arr
           |         ELSE list_transform(arr, t -> t || '~' || CAST(doc_id AS VARCHAR))
           |    END arr
           |  FROM toks),
           |iw AS (
           |  SELECT doc_id in_id, CAST(p AS BIGINT) st,
           |    CAST(p + ${k - 1} AS BIGINT) en,
           |    array_to_string(arr[p : p+${k - 1}], ' ') s
           |  FROM inc, unnest(range(1, len(arr) - ${k - 2})) g(p)
           |  WHERE len(arr) >= $k)
           |SELECT iw.in_id, iw.st, iw.en
           |FROM iw JOIN corp ON corp.s = iw.s
           |ORDER BY iw.in_id, iw.st""".stripMargin
      },
      (s, dir) => {
        val k = graft.queries.DedupOps.SpanK // the ONE span width
        // corpus window set: x67's tokenization (docTokenArrays), DISTINCT
        // at build time — each incoming window then matches at most one
        // index row, which is the statelessness lever. MATERIALIZED once
        // per JVM/sf (r19 opt round — st15's corpus-index convention, and
        // this operator's own stated 100 TB shape: the screen probes a
        // persisted window index, it does not re-derive the corpus per
        // batch; a stream-static join re-executes the static side every
        // micro-batch, so the unmaterialized spelling re-tokenized the
        // whole corpus per epoch).
        val corpWh = QUtil.cachedFixture(s, "st18_corpus_windows", dir) { w =>
          QUtil.writeSized(
            graft.queries.DedupOps.docTokenArrays(s, dir)
              .filter(size(col("arr")) >= k)
              .select(explode(expr(
                s"""transform(sequence(1, size(arr) - ${k - 1}),
                   |  p -> concat_ws(' ', slice(arr, p, $k)))""".stripMargin))
                .as("s"))
              .distinct(), w)
        }
        val corp = s.read.parquet(corpWh)
        val docSchema = s.read.parquet(s"$dir/documents.parquet").schema
        val incoming = s.readStream.schema(docSchema)
          .option("pathGlobFilter", "documents.parquet").parquet(dir)
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("arr0"))
          // the deterministic incoming derivation (restated by the oracle)
          .select(col("doc_id"), expr(
            """IF(doc_id % 3 = 0, arr0,
              |   transform(arr0, t -> concat(t, '~', CAST(doc_id AS STRING))))"""
              .stripMargin).as("arr"))
          .filter(size(col("arr")) >= k)
          .select(col("doc_id").as("in_id"), explode(expr(
            s"""transform(sequence(1, size(arr) - ${k - 1}),
               |  p -> struct(CAST(p AS BIGINT) AS st,
               |              CAST(p + ${k - 1} AS BIGINT) AS en,
               |              concat_ws(' ', slice(arr, p, $k)) AS s))"""
              .stripMargin)).as("w"))
          .select(col("in_id"), col("w.st").as("st"), col("w.en").as("en"),
            col("w.s").as("s"))
        val flagged = incoming.join(corp, "s")
          .select(col("in_id"), col("st"), col("en"))
        runToTable(flagged, OutputMode.Append(),
          s"st18_sink_${System.nanoTime()}")
          .orderBy("in_id", "st")
      }),

    // STREAMING HEAVY HITTERS (round 19) — x68's Misra-Gries sketch AS the
    // streaming state: the aggregator's capacity-bounded buffer is exactly
    // what a state store wants on an unbounded stream (O(capacity) state
    // forever, where a groupBy-count's state grows with the key space —
    // quadratic in vocabulary for n-grams). Documents arrive over TWO
    // maintenance epochs (st17's two-snapshot icelite feed,
    // maxFilesPerTrigger=1), bigrams derive row-locally in-stream, and ONE
    // global typed aggregation in Complete mode folds each epoch's
    // partials into the carried state — the PODS mergeable-summaries merge
    // running operationally inside the state store, not just in a spec.
    // After the drain the final state must still carry the exactness
    // certificate (no eviction fired on this corpus), so the result
    // matches the same exact top-20 oracle as x15/x68: stream-built ≡
    // batch-built by proof, the st17 discipline for the counting pillar.
    QDef(
      "st19_stream_heavy_hitters",
      Some(graft.queries.TextOps.bigramTop20OracleSql),
      (s, dir) => {
        import s.implicits._
        // st17's feed fixture (ONE shared builder): two snapshots -> two
        // epochs under maxFilesPerTrigger=1, so the sketch state must
        // MERGE across micro-batches, not just within one — asserted via
        // runToTable's minBatches below
        val whFeed = st17Feed(s, dir)
        val agg = new graft.functions.FreqSketchAggregator(4096).toColumn
        val hh = graft.queries.TextOps.bigramsOf(
            s.readStream.format("icelite")
              .option("warehouse", whFeed).option("table", "lake.docs_st17")
              .option("maxFilesPerTrigger", "1").load())
          .as[String]
          .select(agg.name("hh"))
        val sink = runToTable(hh.toDF(), OutputMode.Complete(),
          s"st19_sink_${System.nanoTime()}", minBatches = 2)
        // Complete mode: the sink's (only) row is the final carried state
        val (pairs, exact) =
          sink.as[(Seq[(String, Long)], Boolean)].collect()(0)
        require(exact,
          "st19: the stream's sketch state evicted — counts are lower " +
            "bounds; raise the capacity or drop the exact-oracle claim")
        val rows = pairs.take(20).zipWithIndex.map { case ((b, c), i) =>
          (i + 1, b, c)
        }
        rows.toSeq.toDF("rank", "bigram", "freq")
      })
  )
}
