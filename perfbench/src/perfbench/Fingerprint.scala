package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result fingerprint: row count plus the sum of a
  * per-row xxhash64 over every column, with floating-point values
  * rounded to 6 decimals (recursively inside arrays, structs and maps)
  * so that parallel summation order cannot flip the hash. The sum runs
  * in DECIMAL(38,0), so it neither overflows nor depends on row order.
  * Computing it is one extra Spark job over the DataFrame. */
object Fingerprint {
  final case class Value(rows: Long, hash: String) {
    override def toString: String = s"$rows:$hash"
  }

  def parse(s: String): Value = {
    val i = s.indexOf(':')
    Value(s.substring(0, i).toLong, s.substring(i + 1))
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case FloatType | DoubleType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case st: StructType =>
      if (st.isEmpty) lit(0)
      else struct(st.fields.toSeq.map(f =>
        norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"),
          norm(e.getField("value"), vt).as("v"))))
    case _: VariantType => to_json(c)
    case _ => c
  }

  def of(df: DataFrame): Value = {
    val cols = df.schema.fields.toSeq.map(f =>
      norm(col("`" + f.name.replace("`", "``") + "`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    Value(r.getLong(0),
      Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
