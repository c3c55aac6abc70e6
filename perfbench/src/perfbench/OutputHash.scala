package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count and order-insensitive content hash of a query result,
  * gathered by `Dataset.observe` while the result is drained, so checking
  * an output costs no second pass.
  *
  * The hash is the decimal sum of one xxhash64 per row. Before hashing,
  * floating-point values are rounded to float precision (summation order
  * may change the last bits of a double between runs), map entries and
  * array elements are sorted (collect_list order depends on shuffle
  * arrival order), so equal results hash equal whatever their order. */
object OutputHash {
  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => c.cast(FloatType)
    case ArrayType(et, _) => array_sort(transform(c, x => norm(x, et)))
    case MapType(kt, vt, _) =>
      norm(map_entries(c), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case StructType(fields) =>
      when(c.isNull, lit(null)).otherwise(struct(fields.toSeq.map { f =>
        norm(c.getField(f.name), f.dataType).as(f.name)
      }: _*))
    case _ => c
  }

  /** `df` with positional column names and the metrics `name` observed. */
  def observe(df: DataFrame, name: String): DataFrame = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val rowHash =
      if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    renamed.observe(name, count(lit(1)).as("rows"),
      sum(rowHash.cast(DecimalType(20, 0))).as("hash"))
  }

  /** (rows, hash) observed as `name` by the executed `qe`; the hash of no
    * rows is "0". */
  def result(qe: QueryExecution, name: String): (Long, String) = {
    val m = qe.observedMetrics(name)
    val rows = m.getLong(0)
    val hash = Option(m.get(1)).map(_.toString).getOrElse("0")
    (rows, hash)
  }
}
