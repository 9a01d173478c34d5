package graft.sources.v2

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Driver-local frames. A frame whose optimized plan is a LocalRelation
  * holds its rows on the driver: reading or deduplicating them starts no
  * Spark job, and every consumer plans it as a local scan. The
  * maintenance paths use this for churn-sized frames, where a job's
  * scheduling overhead costs more than the rows. */
private[v2] object GraftLocal {

  /** The frame's rows, when its optimized plan is a LocalRelation. */
  def rows(df: DataFrame): Option[Seq[InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l.data)
      case _ => None
    }

  /** Materialize a frame with ONE job into a LocalRelation. The rows stay
    * Catalyst rows end to end, so every value round-trips exactly. */
  def collect(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    val got = SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
    graftshim.ofRows(df.sparkSession,
      LocalRelation(DataTypeUtils.toAttributes(df.schema), got.toSeq))
  }

  /** A driver-local frame as ONE partition, any other frame unchanged: a
    * frame that fits on the driver is written as one file, not one per
    * local scan slice. */
  def oneSlice(df: DataFrame): DataFrame =
    if (rows(df).isDefined) df.coalesce(1) else df

  private object NaNKey

  /** A driver-local frame of flat columns without duplicate rows, or None
    * for any other frame. Rows compare by SQL equality, as `distinct()`
    * does: -0.0 equals 0.0, every NaN equals every NaN, and binary values
    * compare by content. */
  def distinct(df: DataFrame): Option[DataFrame] = {
    def nested(dt: DataType) = dt match {
      case _: StructType | _: ArrayType | _: MapType => true
      case _ => false
    }
    val types = df.schema.fields.map(_.dataType)
    if (types.exists(nested)) return None
    rows(df).map { rs =>
      def sqlKey(v: Any): Any = v match {
        case d: Double => if (d.isNaN) NaNKey else if (d == 0.0) 0.0 else d
        case f: Float => if (f.isNaN) NaNKey else if (f == 0.0f) 0.0f else f
        case b: Array[Byte] => b.toSeq
        case other => other
      }
      val seen = new java.util.HashSet[Seq[Any]]()
      val kept = rs.filter(r => seen.add(types.indices.map(i =>
        if (r.isNullAt(i)) null else sqlKey(r.get(i, types(i))))))
      graftshim.ofRows(df.sparkSession,
        LocalRelation(DataTypeUtils.toAttributes(df.schema), kept))
    }
  }
}
