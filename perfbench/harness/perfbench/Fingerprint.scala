package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a result: "rows:sum" where `sum` is
  * the exact decimal sum of a 64-bit hash over every column of each row.
  * Row order and partitioning do not change it; any changed value,
  * added or lost row does (up to hash collisions). Floating-point values
  * are hashed bit-exactly, as the repository's oracle checks compare
  * them. Map-typed columns go through `to_json`, since Spark does not
  * hash maps. */
object Fingerprint {
  def of(df: DataFrame): String = {
    val n = df.schema.size
    val renamed = df.toDF((0 until n).map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = renamed.select(h.cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    val s = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    s"${r.getLong(0)}:$s"
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  private def hashable(c: Column, t: DataType): Column =
    if (hasMap(t)) to_json(c) else c
}
