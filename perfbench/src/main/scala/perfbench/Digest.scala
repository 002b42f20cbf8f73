package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.SQLExecution

/** Materializes a query's full result on the executors and reduces it to an
  * order-independent digest over every column: the row count and the sum
  * (mod 2^64) of each row's MD5 prefix. The row rendering is canonical so
  * that `perfbench/run.py` computes the same digest over DuckDB's result:
  * columns sorted by name; integers in decimal, floating point as the bits
  * of the double, decimals without trailing zeros, strings length-prefixed,
  * timestamps as epoch microseconds, dates as epoch days. Integer and
  * floating results never digest alike, as in the engine's oracle gate. */
object Digest {
  final case class Result(rows: Long, sum: Long)

  def of(df: DataFrame): Result = {
    val qe = df.queryExecution
    val schema = df.schema
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench digest")) {
      qe.toRdd.mapPartitions { it =>
        val toRow = CatalystTypeConverters.createToScalaConverter(schema)
        val md5 = MessageDigest.getInstance("MD5")
        var n, sum = 0L
        it.foreach { ir =>
          val r = toRow(ir).asInstanceOf[Row]
          val h = md5.digest(order.map(i => render(r.get(i))).mkString(",").getBytes(UTF_8))
          sum += java.nio.ByteBuffer.wrap(h).getLong
          n += 1
        }
        Iterator((n, sum))
      }.collect()
    }
    Result(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def render(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: Float => double(x.toDouble)
    case x: Double => double(x)
    case x: java.math.BigDecimal =>
      "m" + (if (x.signum == 0) "0" else x.stripTrailingZeros.toPlainString)
    case s: String => "s" + s.getBytes(UTF_8).length + ":" + s
    case t: java.sql.Timestamp => "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime => render(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case b: Array[Byte] => "b" + b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => "?" + x
  }

  private def double(d: Double): String =
    "f" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))
}
