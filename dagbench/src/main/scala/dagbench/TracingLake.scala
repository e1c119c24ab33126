package dagbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.lake.{Lake, TableDef}

/** A [[Lake]] that times its create/append/optimize/table calls into the
  * tracer. `upsert` is create + append + optimize, so it is attributed to
  * those three. */
final class TracingLake(spark: SparkSession, root: String, tracer: Tracer)
    extends Lake(spark, root) {
  override def create(t: TableDef, replace: Boolean): Boolean =
    tracer.lakeOp("create")(super.create(t, replace))
  override def append(t: TableDef, df: DataFrame, version: Long): Unit =
    tracer.lakeOp("append")(super.append(t, df, version))
  override def optimize(t: TableDef, partitions: Seq[String]): Unit =
    tracer.lakeOp("optimize")(super.optimize(t, partitions))
  override def table(t: TableDef, keepVersion: Boolean): DataFrame =
    tracer.lakeOp("table")(super.table(t, keepVersion))
}
