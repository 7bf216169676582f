package graft.icelite

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.StructType

/** The upsert candidate screen's view of its source, built in ONE Spark
  * job: a `mapPartitions` pass over the source's materialized rows whose
  * per-partition summaries merge on the driver.
  *
  * Per key column it keeps the minimum and maximum non-null value, compared
  * with Spark's interpreted ordering for the column type (strings as UTF-8
  * bytes, NaN above every double, -0.0 == 0.0 — exactly what `min()` /
  * `max()` return), and whether any null was seen. It also keeps the
  * distinct key TUPLES while they number at most `cap`; a partition or a
  * merge that passes the cap drops its set, so memory stays bounded by
  * `cap` whatever the source size. Values stay Catalyst-internal.
  */
private[icelite] object KeyScreen {

  /** @param cap tuple-set cap; 0 keeps no tuples */
  final class Summary(keys: Int, cap: Int) extends Serializable {
    var rows = 0L
    val mins = new Array[Any](keys)
    val maxs = new Array[Any](keys)
    val nulls = new Array[Boolean](keys)
    /** distinct key tuples (key columns in key order); null past the cap */
    var tuples: java.util.HashSet[UnsafeRow] =
      if (cap > 0) new java.util.HashSet[UnsafeRow]() else null

    def bound(i: Int, v: Any, ordering: Ordering[Any]): Unit = {
      if (mins(i) == null || ordering.lt(v, mins(i))) mins(i) = InternalRow.copyValue(v)
      if (maxs(i) == null || ordering.gt(v, maxs(i))) maxs(i) = InternalRow.copyValue(v)
    }

    def addTuple(t: UnsafeRow): Unit =
      if (tuples != null && !tuples.contains(t)) {
        tuples.add(t.copy())
        if (tuples.size > cap) tuples = null
      }

    def merge(o: Summary, ordering: Array[Ordering[Any]]): Summary = {
      rows += o.rows
      nulls.indices.foreach { i =>
        nulls(i) ||= o.nulls(i)
        if (o.mins(i) != null) {
          bound(i, o.mins(i), ordering(i))
          bound(i, o.maxs(i), ordering(i))
        }
      }
      if (o.tuples == null) tuples = null else o.tuples.forEach(addTuple(_))
      this
    }
  }

  def summarize(rows: RDD[InternalRow], schema: StructType, keys: Seq[String],
      cap: Int): Summary = {
    val ords = keys.map(schema.fieldIndex).toArray
    val types = ords.map(schema(_).dataType)
    def orderings = types.map(TypeUtils.getInterpretedOrdering)
    rows.mapPartitions { it =>
      val ordering = orderings
      val project = UnsafeProjection.create(
        ords.indices.map(i => BoundReference(ords(i), types(i), nullable = true)))
      val s = new Summary(ords.length, cap)
      it.foreach { row =>
        s.rows += 1
        ords.indices.foreach { i =>
          if (row.isNullAt(ords(i))) s.nulls(i) = true
          else s.bound(i, row.get(ords(i), types(i)), ordering(i))
        }
        if (s.tuples != null) s.addTuple(project(row))
      }
      Iterator.single(s)
    }.collect().foldLeft(new Summary(ords.length, cap))(_.merge(_, orderings))
  }
}
