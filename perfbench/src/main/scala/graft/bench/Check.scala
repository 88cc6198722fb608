package graft.bench

import java.io.File
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** Output checks that run outside the timed window. */
object Check {

  /** Order-insensitive digest of a result, with the value formatting of the
    * oracle compare (columns by name, floats to 6 decimals), so a repeat of
    * the same op must give the same digest. */
  def digest(rows: Array[Row]): String = {
    if (rows.isEmpty) return "empty"
    val names = rows.head.schema.fieldNames
    val order = names.indices.sortBy(names(_))
    def cell(v: Any): String = v match {
      case null => "<null>"
      case d: Double => fmt(d)
      case f: Float => fmt(f.toDouble)
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("{", ",", "}")
      case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
      case o => o.toString
    }
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-1")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def fmt(d: Double): String =
    if (d.isNaN) "<null>" else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_EVEN).toPlainString

  /** Writes a collected result as one parquet file for the oracle compare. */
  def dump(spark: SparkSession, rows: Array[Row], dir: File): Unit =
    spark.createDataFrame(rows.toSeq.asJava, rows.head.schema)
      .coalesce(1).write.mode("overwrite").parquet(dir.getPath)
}
