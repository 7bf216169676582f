package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generation. Everything a workload reads is a pure function
  * of `--seed`: the same seed gives byte-identical CSV batches, the same
  * table rows and the same query texts; `InputsSpec` pins this.
  */
object Inputs {

  // -- keboola_jobs: platform CSV batches of orders rows ----------------------

  val OrderCols: Seq[String] = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")
  val OrderBaseTypes: Seq[String] = Seq("INTEGER", "INTEGER", "STRING",
    "FLOAT", "DATE", "STRING")
  val Priorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** One component run. Writers name a batch; extractors name their column
    * selection and, when pinned, the 0-based commit whose snapshot they read.
    */
  final case class KOp(kind: String, batch: Int = -1, cols: Seq[String] = Nil,
      pinCommit: Option[Int] = None)

  /** A CSV batch (header + quoted rows) as the platform stages it. */
  final case class Batch(csv: Array[Byte], rows: Int)

  final case class KeboolaPlan(ops: IndexedSeq[KOp], batches: IndexedSeq[Batch])

  val RoundOps = 40
  val RoundAppends = 24
  val RoundUpserts = 10
  val RoundPinned = 3

  def quoted(fields: Seq[Any]): String = fields.map(f => "\"" + f + "\"").mkString(",")

  private def orderLine(rng: SplittableRandom, key: Long): String = {
    val cents = 90000L + rng.nextLong(50000000L)
    quoted(Seq(key, 1 + rng.nextInt(15000), "OFP".charAt(rng.nextInt(3)),
      f"${cents / 100}.${cents % 100}%02d",
      LocalDate.of(1992, 1, 1).plusDays(rng.nextInt(2400).toLong),
      Priorities(rng.nextInt(Priorities.size))))
  }

  private def batchOf(lines: Seq[String]): Batch =
    Batch((quoted(OrderCols) +: lines).mkString("", "\n", "\n").getBytes(UTF_8),
      lines.size)

  /** One round of component runs against a fresh table, in a fixed
    * schedule so every seed puts each op kind at the same table sizes: eight
    * turns of (append, append, upsert, append, extract), where turns 3 and 7
    * upsert instead of extracting. That is 24 appends, 10 PK upserts (half
    * existing and half new keys) and 6 extracts, [[RoundPinned]] of them
    * pinned to an older snapshot. With the pinned extracts failing today,
    * the round's 75th percentile falls inside the upserts rather than on
    * the boundary between two op kinds. The seed picks the rows, keys,
    * columns and pins. Keys within a batch are unique, so upsert results do
    * not depend on which duplicate `dropDuplicates` keeps.
    */
  def keboolaPlan(seed: Long): KeboolaPlan = {
    val rng = new SplittableRandom(seed ^ 0x6b65626f6f6c61L)
    val kinds = (0 until RoundOps / 5).flatMap(turn =>
      Seq("append", "append", "upsert", "append", if (turn % 4 == 2) "upsert" else "extract"))
    val commitsBefore = kinds.scanLeft(0)((c, k) => if (k == "extract") c else c + 1)
    val pinned = scala.util.Random.javaRandomToRandom(new java.util.Random(rng.nextLong()))
      .shuffle(kinds.indices.filter(kinds(_) == "extract")).take(RoundPinned).toSet
    val live = mutable.ArrayBuffer[Long]()
    var nextKey = 1L
    val batches = mutable.ArrayBuffer[Batch]()
    def freshKeys(n: Int): Seq[Long] = Seq.fill(n) { nextKey += 1 + rng.nextInt(4); nextKey }
    val ops = kinds.zipWithIndex.map {
      case ("append", _) =>
        val keys = freshKeys(900 + rng.nextInt(201))
        live ++= keys
        batches += batchOf(keys.map(orderLine(rng, _)))
        KOp("append", batches.size - 1)
      case ("upsert", _) =>
        val n = 900 + rng.nextInt(201)
        val picked = mutable.LinkedHashSet[Long]()
        while (picked.size < n / 2) picked += live(rng.nextInt(live.size))
        val fresh = freshKeys(n - picked.size)
        live ++= fresh
        batches += batchOf((picked.toSeq ++ fresh).map(orderLine(rng, _)))
        KOp("upsert", batches.size - 1)
      case (_, i) =>
        val cols = OrderCols.filter(_ => rng.nextInt(2) == 0) match {
          case cs if cs.size >= 2 => cs
          case _ => Seq("o_orderkey", "o_totalprice")
        }
        val pin = if (pinned(i)) Some(rng.nextInt(commitsBefore(i) - 1)) else None
        KOp("extract", cols = cols, pinCommit = pin)
    }
    KeboolaPlan(ops.toIndexedSeq, batches.toIndexedSeq)
  }

  /** Append/upsert semantics replayed over the generated CSV bytes, with no
    * IceLite involved: the table's rows (by `o_orderkey`, as quoted CSV
    * lines) after the round, and its row count after each commit.
    */
  final case class Replay(finalRows: Map[Long, String], countAfterCommit: IndexedSeq[Int])

  def replay(plan: KeboolaPlan): Replay = {
    val rows = mutable.HashMap[Long, String]()
    val counts = mutable.ArrayBuffer[Int]()
    plan.ops.filter(_.batch >= 0).foreach { op =>
      val lines = new String(plan.batches(op.batch).csv, UTF_8).split("\n").drop(1)
      lines.foreach { l =>
        val key = l.substring(1, l.indexOf('"', 1)).toLong
        require(op.kind == "upsert" || !rows.contains(key), s"append reuses key $key")
        rows(key) = l
      }
      counts += rows.size
    }
    Replay(rows.toMap, counts.toIndexedSeq)
  }

  // -- lake_reads: a TPC-H-like lineitem/orders pair -------------------------

  val NOrders = 75000L
  /** Orders (and their lines) held back from the clustered load and added
    * afterwards as this many small appends of [[SmallOrders]] orders each.
    */
  val SmallAppends = 10
  val SmallOrders = 300L
  val NBase: Long = NOrders - SmallAppends * SmallOrders

  private def h(seed: Long, salt: Int, cols: String*): String =
    s"xxhash64(${cols.mkString(", ")}, CAST($seed AS BIGINT), $salt)"

  private def batchExpr(idCol: String): String =
    s"CAST(CASE WHEN $idCol < $NBase THEN 0 ELSE 1 + ($idCol - $NBase) DIV $SmallOrders END AS INT) AS _batch"

  /** 75k orders; `_batch` is 0 for the clustered load, 1..10 for the
    * small appends.
    */
  def ordersDF(spark: SparkSession, seed: Long): DataFrame =
    spark.range(0L, NOrders, 1L, 8).selectExpr(
      "id * 4 + 1 AS o_orderkey",
      s"pmod(${h(seed, 1, "id")}, 15000) + 1 AS o_custkey",
      s"element_at(array('O', 'F', 'P'), CAST(pmod(${h(seed, 2, "id")}, 3) + 1 AS INT)) AS o_orderstatus",
      s"round((pmod(${h(seed, 3, "id")}, 50000000) + 90000) / 100.0, 2) AS o_totalprice",
      s"date_add(DATE'1992-01-01', CAST(pmod(${h(seed, 4, "id")}, 2400) AS INT)) AS o_orderdate",
      s"element_at(array(${Priorities.map(p => s"'$p'").mkString(", ")}), " +
        s"CAST(pmod(${h(seed, 5, "id")}, 5) + 1 AS INT)) AS o_orderpriority",
      batchExpr("id"))

  /** ~300k lines, 1-7 per order. `l_partkey` spans 200k values so a
    * per-file Bloom filter on it can rule most files out.
    */
  def lineitemDF(spark: SparkSession, seed: Long): DataFrame =
    spark.range(0L, NOrders, 1L, 8)
      .selectExpr("id",
        s"explode(sequence(1, CAST(pmod(${h(seed, 6, "id")}, 7) + 1 AS INT))) AS ln")
      .selectExpr(
        "id * 4 + 1 AS l_orderkey",
        s"pmod(${h(seed, 7, "id", "ln")}, 200000) + 1 AS l_partkey",
        s"pmod(${h(seed, 8, "id", "ln")}, 1000) + 1 AS l_suppkey",
        "ln AS l_linenumber",
        s"CAST(pmod(${h(seed, 9, "id", "ln")}, 50) + 1 AS DOUBLE) AS l_quantity",
        s"round((pmod(${h(seed, 9, "id", "ln")}, 50) + 1) * " +
          s"(900 + pmod(${h(seed, 10, "id", "ln")}, 100000) / 100.0), 2) AS l_extendedprice",
        s"pmod(${h(seed, 11, "id", "ln")}, 11) / 100.0 AS l_discount",
        s"pmod(${h(seed, 12, "id", "ln")}, 9) / 100.0 AS l_tax",
        s"element_at(array('A', 'N', 'R'), CAST(pmod(${h(seed, 13, "id", "ln")}, 3) + 1 AS INT)) AS l_returnflag",
        s"element_at(array('O', 'F'), CAST(pmod(${h(seed, 14, "id", "ln")}, 2) + 1 AS INT)) AS l_linestatus",
        s"date_add(DATE'1992-01-01', CAST(pmod(${h(seed, 15, "id", "ln")}, 2500) AS INT)) AS l_shipdate",
        batchExpr("id"))

  /** One read op: its class, template kind, the SQL run against the lake
    * and the same SQL over the raw parquet inputs (the output check).
    */
  final case class LQuery(cls: String, kind: String, lakeSql: String, rawSql: String)

  /** Distinct queries per round by class and kind; each runs [[Repeats]]
    * times per round. Every round replays the same queries, so repeats are
    * checked to agree across rounds.
    */
  val Lookups: Seq[(String, Int)] =
    Seq("point" -> 5, "bloom_point" -> 4, "version_range" -> 3, "manifest_agg" -> 2)
  val Analytics: Seq[(String, Int)] =
    Seq("key_range_agg" -> 3, "scan_group_by" -> 2, "join_agg" -> 1)
  val Repeats = 1

  /** One round of read ops in seeded order. `snapshotIds(b)` is the lake
    * snapshot holding batches 0..b; `partkeys` are existing `l_partkey`
    * values the bloom lookups probe, chosen from the raw data in setup.
    */
  def lakePlan(seed: Long, snapshotIds: IndexedSeq[Long], partkeys: IndexedSeq[Long]): IndexedSeq[LQuery] = {
    val rng = new SplittableRandom(seed ^ 0x6c616b65L)
    val L = "lake.db.lineitem"
    val O = "lake.db.orders"
    val rawL = "raw_lineitem"
    val rawO = "raw_orders"
    def key(): Long = rng.nextLong(NOrders) * 4 + 1
    def rawAt(b: Int) = s"(SELECT * FROM $rawL WHERE _batch <= $b)"
    val money = "CAST(l_extendedprice AS DECIMAL(18, 2))"
    // the same SQL text over (lineitem, orders) of the lake and of the raw inputs
    def both(cls: String, kind: String, lake: (String, String) = (L, O),
        raw: (String, String) = (rawL, rawO))(sql: (String, String) => String) =
      LQuery(cls, kind, sql(lake._1, lake._2), sql(raw._1, raw._2))
    def one(cls: String, kind: String): LQuery = kind match {
      case "point" =>
        val k = key()
        both(cls, kind)((l, _) => s"SELECT l_linenumber, l_partkey, l_quantity, l_extendedprice " +
          s"FROM $l WHERE l_orderkey = $k ORDER BY l_linenumber")
      case "bloom_point" =>
        val p = partkeys(rng.nextInt(partkeys.size))
        both(cls, kind)((l, _) => s"SELECT l_orderkey, l_linenumber, l_quantity FROM $l " +
          s"WHERE l_partkey = $p ORDER BY l_orderkey, l_linenumber")
      case "version_range" =>
        val b = rng.nextInt(snapshotIds.size - 1)
        val lo = (NBase - 200 + rng.nextLong(SmallAppends * SmallOrders)) * 4 + 1
        both(cls, kind, (s"$L VERSION AS OF ${snapshotIds(b)}", O), (rawAt(b), rawO))(
          (l, _) => s"SELECT count(*), sum($money) FROM $l " +
            s"WHERE l_orderkey BETWEEN $lo AND ${lo + 1600}")
      case "manifest_agg" =>
        val b = rng.nextInt(snapshotIds.size)
        both(cls, kind, (s"$L VERSION AS OF ${snapshotIds(b)}", O), (rawAt(b), rawO))(
          (l, _) => s"SELECT count(*), min(l_orderkey), max(l_orderkey) FROM $l")
      case "key_range_agg" =>
        // keys step by 4, so every range holds NOrders / 20 orders, whatever the seed
        val lo = rng.nextLong(NOrders - NOrders / 20) * 4 + 1
        both(cls, kind)((l, _) => s"SELECT l_returnflag, l_linestatus, count(*), " +
          s"sum(CAST(l_quantity AS DECIMAL(18, 2))), sum($money) FROM $l " +
          s"WHERE l_orderkey BETWEEN $lo AND ${lo + NOrders / 5} " +
          "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")
      case "scan_group_by" =>
        val d = 1500 + rng.nextInt(1000)
        both(cls, kind)((l, _) => s"SELECT l_returnflag, l_linestatus, count(*), " +
          s"sum(CAST(l_quantity AS DECIMAL(18, 2))), sum($money), " +
          "sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18, 2))) " +
          s"FROM $l WHERE l_shipdate <= date_add(DATE'1992-01-01', $d) " +
          "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")
      case "join_agg" =>
        val from = LocalDate.of(1992, 1, 1).plusDays(rng.nextInt(2000).toLong)
        both(cls, kind)((l, o) => s"SELECT o.o_orderpriority, count(*), " +
          "sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18, 2))) " +
          s"FROM $l l JOIN $o o ON l.l_orderkey = o.o_orderkey " +
          s"WHERE o.o_orderdate >= DATE'$from' AND o.o_orderdate < DATE'${from.plusDays(90)}' " +
          "GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority")
    }
    val slots = Lookups.flatMap { case (k, n) => Seq.fill(n)("lookup" -> k) } ++
      Analytics.flatMap { case (k, n) => Seq.fill(n)("analytic" -> k) }
    val distinct = slots.map { case (cls, kind) => one(cls, kind) }
    scala.util.Random.javaRandomToRandom(new java.util.Random(rng.nextLong()))
      .shuffle(Seq.fill(Repeats)(distinct).flatten).toIndexedSeq
  }
}
