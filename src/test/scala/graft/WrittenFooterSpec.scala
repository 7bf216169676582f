package graft

import java.sql.Date

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.icelite.{FileStats, IceCatalog}

/** The row-loop writer builds each file's manifest entry from its
  * in-memory footer. The entry must equal what a footer READ of the
  * written file gives, including where parquet's reader normalizes: binary
  * min/max over 4 KiB are dropped, NaN and signed-zero double bounds are
  * adjusted.
  */
class WrittenFooterSpec extends SparkSpec {

  test("every written file's FileStat equals a footer read of that file") {
    val big = "x" * 5000 // past parquet's 4 KiB statistics limit
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("d", DoubleType),
      StructField("m", DecimalType(10, 2)), StructField("dt", DateType),
      StructField("n", IntegerType)))
    def dec(s: String) = new java.math.BigDecimal(s)
    val files = Seq(
      Seq(Row("a", Double.NaN, dec("1.25"), Date.valueOf("2020-01-01"), null),
        Row(big, 1.5, dec("-3.50"), Date.valueOf("1969-12-31"), null)),
      Seq(Row("b", -0.0, dec("0.00"), Date.valueOf("2024-02-29"), null),
        Row("c", 0.0, dec("99999999.99"), null, null)),
      Seq(Row(null, null, null, null, null),
        Row("d", Double.NegativeInfinity, null, null, null)))
    val tbl = new IceCatalog(spark, scratch("written-footer")).createTable("ns", "t", schema)
    files.foreach(rows => tbl.append(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)))

    val written = tbl.visibleFiles(tbl.meta.currentSnapshot.get)
    assert(written.size == files.size)
    val conf = spark.sparkContext.hadoopConfiguration
    written.foreach { f =>
      val footerOnly = f.copy(sums = Map.empty, ndv = Map.empty, bloom = Map.empty)
      assert(footerOnly == FileStats.fromFooter(conf, f.path), f.path)
    }
    // the fixture does reach the cases the equality guards
    assert(!written.exists(_.max.get("s").exists(_.length > 4096)),
      "a >4 KiB string bound must not reach the manifest")
    assert(written.forall(_.nullCount("n").contains(2L)), "all-null column counts")
  }
}
