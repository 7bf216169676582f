package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions.col

import graft.icelite.IceCatalog
import graft.sources.v2.HasPlannedFiles

/** `lake_reads`: a seeded SQL mix through the IceLite catalog over a
  * lineitem table laid out as 32 key-clustered files plus 10 small appends,
  * Bloom filters on `l_partkey`, and an orders table beside it. Point and
  * time-travel lookups, manifest-answered aggregates, key-range and
  * full-scan aggregates and a join-aggregate; no commits. Each distinct
  * query's answer is checked against the same SQL over the raw parquet
  * inputs.
  */
final class LakeReads(spark: SparkSession, seed: Long) extends Workload {

  private var plan: IndexedSeq[Inputs.LQuery] = _
  private var warehouse: String = _
  /** First answer of each distinct lake query; repeats must match it. */
  private val answers = mutable.LinkedHashMap[String, String]()
  private val problems = mutable.ArrayBuffer[String]()

  private var partkeys: IndexedSeq[Long] = _

  /** Writes the raw parquet inputs, which the output checks also read. */
  def inputs(dir: Path): Unit = {
    Inputs.lineitemDF(spark, seed).write.parquet(dir.resolve("lineitem").toString)
    Inputs.ordersDF(spark, seed).write.parquet(dir.resolve("orders").toString)
    Seq("lineitem", "orders").foreach(t =>
      spark.read.parquet(dir.resolve(t).toString).createOrReplaceTempView(s"raw_$t"))
    partkeys = spark.sql("SELECT l_partkey FROM raw_lineitem WHERE l_linenumber = 1 AND " +
      s"pmod(xxhash64(l_orderkey, CAST($seed AS BIGINT)), 5000) = 0 ORDER BY l_orderkey LIMIT 32")
      .collect().map(_.getLong(0)).toIndexedSeq
  }

  val setupRuns = 3

  /** Builds the IceLite tables from the raw inputs. */
  def setup(dir: Path): Unit = {
    val li = spark.table("raw_lineitem")
    val od = spark.table("raw_orders")
    warehouse = dir.resolve("warehouse").toString
    val liData = li.drop("_batch")
    val lineitem = cat.createTable("db", "lineitem", liData.schema,
      properties = Map("write.bloom.columns" -> "l_partkey"))
    lineitem.append(li.where(col("_batch") === 0).drop("_batch")
      .repartitionByRange(32, col("l_orderkey")).sortWithinPartitions("l_orderkey", "l_linenumber"))
    (1 to Inputs.SmallAppends).foreach(b =>
      lineitem.append(li.where(col("_batch") === b).drop("_batch").coalesce(1)))
    val odData = od.drop("_batch")
    cat.createTable("db", "orders", odData.schema)
      .append(odData.repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey"))

    val snaps = cat.loadTable("db", "lineitem").snapshots.map(_.snapshotId).toIndexedSeq
    require(snaps.size == Inputs.SmallAppends + 1, s"lineitem has ${snaps.size} snapshots")
    plan = Inputs.lakePlan(seed, snaps, partkeys)
  }

  private def cat = new IceCatalog(spark, warehouse)

  private def render(rows: Array[Row]): String = rows.map(_.toSeq.mkString("|")).mkString("\n")

  private def runOp(i: Int, q: Inputs.LQuery, id: String, run: Runner): Unit = {
    run.op(id, q.cls) {
      val df = spark.sql(q.lakeSql)
      val got = run.trace match {
        case None => render(df.collect())
        case Some(t) => tracedAnswer(t, q, df)
      }
      answers.get(q.lakeSql) match {
        case None => answers(q.lakeSql) = got
        case Some(first) if first != got => problems += s"op $i (${q.kind}): answer changed between repeats"
        case _ =>
      }
    }
  }

  /** The traced op: force the v2 scan planning as its own child span, read
    * the planned files, then run the query and probe IceLite metadata.
    */
  private def tracedAnswer(t: Trace, q: Inputs.LQuery, df: DataFrame): String = {
    t.probe("v2", "plan")(df.queryExecution.executedPlan)
    val scans = df.queryExecution.optimizedPlan.collect { case r: DataSourceV2ScanRelation => r.scan }
    val tbl = cat.loadTable("db", "lineitem")
    val m = t.probe("icelite", "meta")(tbl.meta)
    val files = t.probe("icelite", "manifest_resolve")(tbl.visibleFiles(m.currentSnapshot.get))
    t.note("icelite.snapshots", m.snapshots.size)
    t.note("icelite.files_visible", files.size)
    if (scans.exists(_.getClass.getSimpleName == "IceLiteAggScan")) t.note("v2.manifest_answered", 1)
    else {
      // appends only add files, so the current snapshot's files cover every
      // snapshot a VERSION AS OF query can read
      val visible = if (q.kind != "join_agg") files else {
        val orders = cat.loadTable("db", "orders")
        files ++ orders.visibleFiles(orders.meta.currentSnapshot.get)
      }
      val bytes = visible.map(f => f.path -> f.bytes).toMap
      val planned = HasPlannedFiles.of(df)
      t.note("v2.files_planned_ratio", planned.size.toDouble / math.max(1, visible.size))
      t.note("v2.bytes_planned", planned.map(bytes.getOrElse(_, 0L)).sum.toDouble)
    }
    val rows = df.collect()
    t.note("v2.rows_returned", rows.length)
    render(rows)
  }

  /** Points the `lake` catalog at the last set-up's warehouse and runs
    * [[WarmRounds]] untimed rounds, so the measured rounds run warm.
    */
  def warmUp(): Unit = {
    spark.conf.set("spark.sql.catalog.lake", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.lake.warehouse", warehouse)
    val run = new Runner(None)
    (1 to WarmRounds).foreach(w =>
      plan.zipWithIndex.foreach { case (q, i) => runOp(i, q, s"warm$w/$i", run) })
  }

  private val WarmRounds = 2

  def round(r: Int, run: Runner): Unit =
    plan.zipWithIndex.foreach { case (q, i) => runOp(i, q, s"r$r/$i", run) }

  def check(): Seq[String] = {
    val byLake = plan.map(q => q.lakeSql -> q).toMap
    // the raw queries are independent and small; run four at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val pending = answers.toSeq.map { case (lakeSql, got) =>
        val q = byLake(lakeSql)
        pool.submit(() =>
          if (render(spark.sql(q.rawSql).collect()) == got) None
          else Some(s"${q.kind}: lake answer differs from raw parquet for: $lakeSql"))
      }
      problems.toSeq ++ pending.flatMap(_.get())
    } finally pool.shutdown()
  }

  val classTails: Seq[(String, Double)] = Seq("lookup" -> 0.9, "analytic" -> 0.75)

  def layerMetrics(t: Trace): Seq[(String, Double)] = Seq(
    "icelite.meta_read_s" -> t.probeMean("icelite", "meta"),
    "icelite.manifest_resolve_s" -> t.probeMean("icelite", "manifest_resolve"),
    "icelite.snapshots" -> t.mean("icelite.snapshots"),
    "icelite.files_visible" -> t.mean("icelite.files_visible"),
    "v2.plan_s" -> t.probeMean("v2", "plan"),
    "v2.files_planned_ratio" -> t.mean("v2.files_planned_ratio"),
    "v2.bytes_planned_per_row_returned" -> t.sum("v2.bytes_planned") / math.max(1.0, t.sum("v2.rows_returned")),
    "v2.manifest_answered" -> t.sum("v2.manifest_answered"))
}
