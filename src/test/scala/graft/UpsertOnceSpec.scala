package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.icelite.{IceCatalog, IceTable, MetaIo}

/** The upsert source is evaluated exactly once: the key screen, the merge
  * and (MOR) the position scan all read the same materialized rows. Every
  * case is checked for both the copy-on-write [[IceTable.upsert]] and the
  * merge-on-read [[IceTable.upsertMor]] against an anti-join + union
  * reference computed here from the table's rows before the upsert.
  */
class UpsertOnceSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k1", IntegerType), StructField("k2", StringType),
    StructField("v", StringType)))

  private type Upsert = (IceTable, DataFrame, Seq[String]) => IceTable
  private val flavours: Seq[(String, Upsert)] = Seq(
    "cow" -> ((t, df, keys) => t.upsert(df, keys)),
    "mor" -> ((t, df, keys) => t.upsertMor(df, keys)))

  /** Four files with disjoint k1 ranges 0-9, 10-19, 20-29, 30-39, plus a
    * null-k1 row in the first.
    */
  private def target(tag: String): IceTable = {
    import spark.implicits._
    val tbl = new IceCatalog(spark, scratch(tag)).createTable("ns", "t", schema)
    (0 until 4).foreach { f =>
      val rows = (f * 10 until f * 10 + 10).map(k => (Option(k), s"s${k % 3}", "old")) ++
        (if (f == 0) Seq((Option.empty[Int], "s0", "old-null")) else Nil)
      tbl.append(rows.toDF("k1", "k2", "v").coalesce(1))
    }
    tbl
  }

  private def local(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.mkString("|")).sorted

  /** Upserts `src` with each flavour and compares with the reference. */
  private def checkAgainstReference(tag: String, src: DataFrame, keys: Seq[String]): Unit = {
    val s = local(src.collect().toSeq)
    flavours.foreach { case (flavour, upsert) =>
      val tbl = target(s"$tag-$flavour")
      val t = local(tbl.toDF.collect().toSeq)
      val expected = t.join(s, keys.map(k => t(k) <=> s(k)).reduce(_ && _), "left_anti")
        .unionByName(s).collect().toSeq
      upsert(tbl, s, keys)
      assert(sorted(tbl.toDF.collect().toSeq) == sorted(expected), s"[$tag/$flavour]")
    }
  }

  private def rowsOf(rows: (Option[Int], String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("k1", "k2", "v")
  }

  test("the upsert source is evaluated once (COW and MOR)") {
    flavours.foreach { case (flavour, upsert) =>
      val tbl = target(s"once-$flavour")
      val evals = spark.sparkContext.longAccumulator(s"source-evals-$flavour")
      val bump = udf { (k: Long) => evals.add(1L); k }
      // 1000 rows: keys 20-39 hit the last two files, the rest insert
      val src = spark.range(1000).select(
        (bump(col("id")) + 20).cast("int").as("k1"), lit("s1").as("k2"), lit("new").as("v"))
      upsert(tbl, src, Seq("k1"))
      assert(evals.value == 1000L, s"[$flavour] the source was evaluated ${evals.value / 1000.0} times")
      assert(tbl.toDF.count() == 1021L) // 20 kept + 1 null-key row + 1000
    }
  }

  test("screen edge cases match the anti-join + union reference") {
    checkAgainstReference("empty", rowsOf(), Seq("k1"))
    checkAgainstReference("one-row", rowsOf((Some(15), "x", "new")), Seq("k1"))
    checkAgainstReference("all-null-key",
      rowsOf((None, "x", "new-null"), (None, "y", "new-null2")), Seq("k1"))
    checkAgainstReference("dup-keys",
      rowsOf((Some(3), "a", "new-a"), (Some(3), "b", "new-b"), (Some(99), "c", "new-c")),
      Seq("k1"))
    checkAgainstReference("two-col-key",
      rowsOf((Some(4), "s1", "hit"), (Some(4), "s2", "miss"), (Some(25), "s1", "hit2"),
        (None, "s0", "hit-null"), (Some(50), "s2", "insert")),
      Seq("k1", "k2"))
  }

  test("more distinct keys than keyPeekCap: the range screen alone, same result") {
    import spark.implicits._
    // keys 0-4 and 35-39: the range [0, 39] covers every file, and only the
    // exact-key peek proves the middle two files untouched
    val src = ((0 until 5) ++ (35 until 40)).map(k => (Option(k), "z", "new"))
    def carried(tbl: IceTable): Int = {
      val snaps = tbl.snapshots
      val before = tbl.visibleFiles(snaps(snaps.size - 2)).map(_.path).toSet
      tbl.visibleFiles(snaps.last).count(f => before(f.path))
    }
    val peeked = target("cap-default-cow")
    peeked.upsert(src.toDF("k1", "k2", "v"), Seq("k1"))
    assert(carried(peeked) == 2, "with the peek, the two middle files are carried")
    spark.conf.set("graft.upsert.keyPeekCap", "5")
    try {
      checkAgainstReference("cap", src.toDF("k1", "k2", "v"), Seq("k1"))
      val ranged = target("cap-5-cow")
      ranged.upsert(src.toDF("k1", "k2", "v"), Seq("k1"))
      assert(carried(ranged) == 0, "past the cap, every file in range is rewritten")
    } finally spark.conf.unset("graft.upsert.keyPeekCap")
  }

  test("a randomly keyed source leaves no duplicate keys; matched rows take its values") {
    flavours.foreach { case (flavour, upsert) =>
      // keys 0-199 over ~20 files of disjoint key ranges
      val tbl = new IceCatalog(spark, scratch(s"rand-$flavour")).createTable("ns", "t", schema)
      tbl.append(spark.range(200).select(col("id").cast("int").as("k1"),
        lit("s").as("k2"), lit("old").as("v")).repartitionByRange(20, col("k1")))
      assert(tbl.visibleFiles(tbl.meta.currentSnapshot.get).size >= 10)
      // one key in each of 0-65 / 66-131 / 132-197, drawn anew every time
      // the source is evaluated (Spark's rand() is seeded once per plan and
      // would repeat its draws): a screen and a merge that saw different
      // draws would leave the merged key's old row in an uncandidated file
      val draw = udf(() => java.util.concurrent.ThreadLocalRandom.current().nextInt(66))
        .asNondeterministic()
      val src = spark.range(3).select(
        (col("id") * 66 + draw()).cast("int").as("k1"),
        lit("r").as("k2"), lit("rand").as("v"))
      upsert(tbl, src, Seq("k1"))
      val keys = tbl.toDF.collect().map(_.getInt(0))
      val dups = keys.groupBy(identity).collect { case (k, ks) if ks.length > 1 => k }
      assert(dups.isEmpty, s"[$flavour] duplicate keys after upsert: $dups")
      assert(keys.length == 200, s"[$flavour] every drawn key matched exactly one row")
      assert(tbl.toDF.filter(col("v") === "rand").count() == 3L, s"[$flavour]")
    }
  }

  test("the materialized source is released after success and after a failed commit") {
    flavours.foreach { case (flavour, upsert) =>
      val tbl = target(s"release-$flavour")
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      upsert(tbl, rowsOf((Some(1), "s1", "new")), Seq("k1"))
      assert(spark.sparkContext.getPersistentRDDs.keySet == persisted, s"[$flavour] success")
      MetaIo.commitFailpoint = "claimed"
      try intercept[RuntimeException](upsert(tbl, rowsOf((Some(2), "s2", "new")), Seq("k1")))
      finally MetaIo.commitFailpoint = ""
      assert(spark.sparkContext.getPersistentRDDs.keySet == persisted, s"[$flavour] failure")
    }
  }
}
