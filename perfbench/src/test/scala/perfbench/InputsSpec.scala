package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("the same seed gives byte-identical CSV batches and the same op sequence") {
    val a = Inputs.keboolaPlan(7)
    val b = Inputs.keboolaPlan(7)
    assert(a.ops == b.ops)
    assert(a.batches.size == b.batches.size)
    a.batches.zip(b.batches).foreach { case (x, y) => assert(java.util.Arrays.equals(x.csv, y.csv)) }
    val c = Inputs.keboolaPlan(8)
    assert(!a.batches.zip(c.batches).forall { case (x, y) => java.util.Arrays.equals(x.csv, y.csv) })
  }

  test("a round has the documented mix and upserts hit existing and new keys") {
    val p = Inputs.keboolaPlan(3)
    assert(p.ops.size == Inputs.RoundOps)
    assert(p.ops.head.kind == "append")
    assert(p.ops.count(_.kind == "upsert") == Inputs.RoundUpserts)
    assert(p.ops.count(_.pinCommit.isDefined) == Inputs.RoundPinned)
    val r = Inputs.replay(p)
    assert(r.countAfterCommit.size == Inputs.RoundAppends + Inputs.RoundUpserts)
    // every upsert adds some rows (new keys) but fewer than its batch (existing keys)
    val counts = 0 +: r.countAfterCommit
    p.ops.filter(_.batch >= 0).zipWithIndex.filter(_._1.kind == "upsert").foreach { case (op, c) =>
      val added = counts(c + 1) - counts(c)
      assert(added > 0 && added < p.batches(op.batch).rows)
    }
  }

  test("the same seed gives identical lake tables and query texts") {
    def digest(seed: Long) = Seq(Inputs.lineitemDF(spark, seed), Inputs.ordersDF(spark, seed))
      .map(_.selectExpr("count(*)", "bit_xor(xxhash64(*))").collect().head.toSeq)
    assert(digest(5) == digest(5))
    assert(digest(5) != digest(6))
    val snaps = (1L to 11L).toIndexedSeq
    val keys = IndexedSeq(11L, 22L)
    assert(Inputs.lakePlan(5, snaps, keys) == Inputs.lakePlan(5, snaps, keys))
    assert(Inputs.lakePlan(5, snaps, keys) != Inputs.lakePlan(6, snaps, keys))
  }

  test("the lake plan keeps its class quotas: 1 in 6 analytic ops is the join") {
    val plan = Inputs.lakePlan(1, (1L to 11L).toIndexedSeq, IndexedSeq(1L))
    val analytic = plan.filter(_.cls == "analytic")
    assert(analytic.count(_.kind == "join_agg") * 6 == analytic.size)
    assert(plan.count(_.cls == "lookup") == Inputs.Repeats * Inputs.Lookups.map(_._2).sum)
    assert(plan.size == Inputs.Repeats * 20)
  }
}
