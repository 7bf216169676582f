package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.ComponentMain
import graft.icelite.IceCatalog
import graft.sources.v2.HasPlannedFiles

/** `keboola_jobs`: seeded rounds of component runs through
  * `ComponentMain.execute`, one fresh table per round in one warehouse.
  * Each op carries ~1000 rows, so per-run fixed cost dominates, together
  * with IceLite commit/metadata work and KeboolaCsv IO. A round holds ~32
  * commits, so the delta-manifest chain rebases inside it.
  */
final class KeboolaJobs(spark: SparkSession, seed: Long) extends Workload {
  import Inputs._

  private val Ns = "bench"
  private var dir: Path = _
  private var plan: KeboolaPlan = _
  private var expected: Replay = _
  private def warehouse = dir.resolve("warehouse").toString
  private def opDir(i: Int) = dir.resolve(f"ops/$i%03d")
  /** (round table, op index, output dir) of every successful extract,
    * checked after timing.
    */
  private val extracts = mutable.ArrayBuffer[(String, Int, Path)]()
  private val tables = mutable.ArrayBuffer[String]()

  def inputs(d: Path): Unit = {
    plan = keboolaPlan(seed)
    expected = replay(plan)
  }

  /** Ops of the plan that each set-up runs on a table of its own, after
    * staging: the component's first runs (table creation, first commits,
    * first upsert and extract) are part of getting ready.
    */
  private val SetupOps = 5

  /** A set-up takes under 2 s, so five are cheap. */
  val setupRuns = 5

  /** Stages each op's `/data` directory (CSV batch, manifest, out dir) and
    * runs the plan's first [[SetupOps]] ops on a set-up table.
    */
  def setup(d: Path): Unit = {
    dir = d
    val manifest = Json.obj(Seq(
      "columns" -> OrderCols.map(Json.str).mkString("[", ",", "]"),
      "primary_key" -> "[\"o_orderkey\"]",
      "has_header" -> "true",
      "schema" -> OrderCols.zip(OrderBaseTypes).map { case (c, t) =>
        Json.obj(Seq("name" -> Json.str(c), "base_type" -> Json.str(t))) }.mkString("[", ",", "]")))
    plan.ops.zipWithIndex.foreach { case (op, i) =>
      val in = Files.createDirectories(opDir(i).resolve("in/tables"))
      Files.createDirectories(opDir(i).resolve("out/tables"))
      if (op.batch >= 0) {
        Files.write(in.resolve("orders.csv"), plan.batches(op.batch).csv)
        Files.writeString(in.resolve("orders.csv.manifest"), manifest)
      }
    }
    Files.createDirectories(dir.resolve("warehouse"))
    runOps("setup", SetupOps, new Runner(None))
    extracts.clear()
  }

  private def config(op: KOp, table: String, snapshotId: Option[Long]): String = {
    val catalog = "\"catalog\":" + Json.obj(Seq("warehouse" -> Json.str(warehouse)))
    val body = op.kind match {
      case "extract" =>
        val sel = Seq("mode" -> Json.str("selected_columns"),
          "columns" -> op.cols.map(Json.str).mkString("[", ",", "]")) ++
          snapshotId.map(id => "snapshot_id" -> Json.num(id.toDouble))
        s"""$catalog,"source":{"namespace":"$Ns","table_name":"$table"},"data_selection":${Json.obj(sel)}"""
      case mode =>
        val pk = if (mode == "upsert") ""","primary_key":["o_orderkey"]""" else ""
        s"""$catalog,"wr_destination":{"namespace":"$Ns","table_name":"$table","mode":"$mode"$pk}"""
    }
    s"""{"action":"run","parameters":{$body}}"""
  }

  private def cat = new IceCatalog(spark, warehouse)
  private def metaDir(table: String) = java.nio.file.Paths.get(cat.tablePath(Ns, table).toString, "metadata")

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Runs ops `0 until n` of the plan against `table`. */
  private def runOps(table: String, n: Int, run: Runner): Unit = {
    var commits = 0
    plan.ops.take(n).zipWithIndex.foreach { case (op, i) =>
      // untimed preparation: the config names this round's table and, for
      // a pinned extract, the snapshot of an earlier commit
      val snap = op.pinCommit.map(c => cat.loadTable(Ns, table).snapshots(c).snapshotId)
      Files.writeString(opDir(i).resolve("config.json"), config(op, table, snap))
      val traced = run.trace
      val before = traced.filter(_ => commits > 0).map { _ =>
        val t = cat.loadTable(Ns, table)
        (dirBytes(metaDir(table)),
          t.visibleFiles(t.meta.currentSnapshot.get).map(_.path).toSet)
      }
      val ok = run.op(s"$table/$i", op.kind) {
        val code = ComponentMain.execute(spark, opDir(i).toString, env = Map.empty)
        if (code != 0) throw new IllegalStateException(s"${op.kind} exited with code $code")
        traced.foreach(t => probe(t, op, table, snap))
      }
      if (op.batch >= 0) commits += 1
      if (op.kind == "extract" && ok) extracts += ((table, i, opDir(i).resolve(s"out/tables/$table.csv")))
      traced.filter(_ => ok).foreach(t => notes(t, op, table, before))
    }
  }

  /** Probe calls inside the op's span: IceLite metadata read and manifest
    * resolution, and for extracts the v2 scan planning of the same read.
    */
  private def probe(t: Trace, op: KOp, table: String, snap: Option[Long]): Unit = {
    val tbl = cat.loadTable(Ns, table)
    val m = t.probe("icelite", "meta")(tbl.meta)
    val cur = m.currentSnapshot.get
    val files = t.probe("icelite", "manifest_resolve")(tbl.visibleFiles(cur))
    t.note("icelite.snapshots", m.snapshots.size)
    t.note("icelite.files_visible", files.size)
    if (op.kind == "extract") {
      val df = tbl.scan(columns = op.cols, limit = Some(100000L), snapshotId = snap)
      t.probe("v2", "plan")(df.queryExecution.executedPlan)
      val visible = snap.flatMap(id => m.snapshot(id)).map(tbl.visibleFiles).getOrElse(files)
      t.note("v2.files_planned_ratio", HasPlannedFiles.of(df).size.toDouble / math.max(1, visible.size))
    }
  }

  /** Layer observations taken after the op's span closes. */
  private def notes(t: Trace, op: KOp, table: String, before: Option[(Long, Set[String])]): Unit = {
    t.note("component.runs", 1)
    if (op.kind == "extract") {
      val out = extracts.last._3
      t.note("csv.bytes_out", dirBytes(out).toDouble)
    } else {
      val batch = plan.batches(op.batch)
      t.note("csv.bytes_in", batch.csv.length.toDouble)
      t.note("csv.rows_in", batch.rows.toDouble)
      val tbl = cat.loadTable(Ns, table)
      val cur = tbl.meta.currentSnapshot.get
      t.note("icelite.metadata_bytes_per_commit",
        (dirBytes(metaDir(table)) - before.map(_._1).getOrElse(0L)).toDouble)
      t.note("icelite.data_bytes_per_input_byte", cur.addedByteCount.toDouble / batch.csv.length)
      if (op.kind == "upsert") {
        t.note("icelite.upsert_rows_written_per_source_row", cur.addedRows.toDouble / batch.rows)
        val now = tbl.visibleFiles(cur).map(_.path).toSet
        t.note("icelite.files_rewritten_per_upsert",
          before.map(_._2.count(p => !now.contains(p))).getOrElse(0).toDouble)
      }
    }
  }

  /** Half an untimed round, so the first measured round runs warm. */
  def warmUp(): Unit = {
    runOps("warm", plan.ops.size / 2, new Runner(None))
    extracts.clear()
  }

  def round(r: Int, run: Runner): Unit = {
    val table = s"orders_r$r"
    tables += table
    runOps(table, plan.ops.size, run)
  }

  def check(): Seq[String] = {
    val problems = mutable.ArrayBuffer[String]()
    val commitsBefore = plan.ops.scanLeft(0)((c, op) => if (op.batch >= 0) c + 1 else c)
    extracts.foreach { case (table, i, out) =>
      val op = plan.ops(i)
      val want = expected.countAfterCommit(op.pinCommit.getOrElse(commitsBefore(i) - 1))
      val parts = if (Files.isDirectory(out))
        Files.list(out).iterator().asScala.filter(_.getFileName.toString.endsWith(".csv")).toSeq else Nil
      val lines = parts.flatMap(p => Files.readAllLines(p, UTF_8).asScala)
      val header = quoted(op.cols)
      val got = lines.count(_ != header)
      if (parts.isEmpty) problems += s"$table op $i: no extract output"
      else if (!lines.headOption.contains(header)) problems += s"$table op $i: header ${lines.headOption}"
      else if (got != want) problems += s"$table op $i: extracted $got rows, replay says $want"
    }
    val want = expected.finalRows.values.toSeq.sorted
    tables.foreach { table =>
      val tbl = cat.loadTable(Ns, table)
      val got = tbl.toDF.collect().map { r =>
        quoted(Seq(r.getLong(0), r.getLong(1), r.getString(2),
          String.format(java.util.Locale.ROOT, "%.2f", Double.box(r.getDouble(3))),
          r.get(4), r.getString(5)))
      }.toSeq.sorted
      if (got != want) problems += s"$table: final table differs from the replay " +
        s"(${got.size} rows vs ${want.size}; first diff ${got.diff(want).headOption})"
      if (tbl.snapshots.size != expected.countAfterCommit.size)
        problems += s"$table: ${tbl.snapshots.size} snapshots for ${expected.countAfterCommit.size} commits"
    }
    problems.toSeq
  }

  val classTails: Seq[(String, Double)] = Seq("append" -> 0.9, "upsert" -> 0.75, "extract" -> 0.75)

  def layerMetrics(t: Trace): Seq[(String, Double)] = Seq(
    "component.runs" -> t.sum("component.runs"),
    "component.failed" -> (t.ops - t.sum("component.runs")),
    "component.driver_s" -> t.driverS,
    "csv.bytes_in" -> t.perOp("csv.bytes_in"),
    "csv.bytes_out" -> t.perOp("csv.bytes_out"),
    "csv.rows_in" -> t.perOp("csv.rows_in"),
    "icelite.meta_read_s" -> t.probeMean("icelite", "meta"),
    "icelite.manifest_resolve_s" -> t.probeMean("icelite", "manifest_resolve"),
    "icelite.snapshots" -> t.mean("icelite.snapshots"),
    "icelite.files_visible" -> t.mean("icelite.files_visible"),
    "icelite.metadata_bytes_per_commit" -> t.mean("icelite.metadata_bytes_per_commit"),
    "icelite.data_bytes_per_input_byte" -> t.mean("icelite.data_bytes_per_input_byte"),
    "icelite.upsert_rows_written_per_source_row" -> t.mean("icelite.upsert_rows_written_per_source_row"),
    "icelite.files_rewritten_per_upsert" -> t.mean("icelite.files_rewritten_per_upsert"),
    "v2.plan_s" -> t.probeMean("v2", "plan"),
    "v2.files_planned_ratio" -> t.mean("v2.files_planned_ratio"))
}
