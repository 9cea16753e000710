package graft.perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent fingerprint of a query result: columns sorted by
  * name, every cell rendered exactly (full floating-point digits), rows
  * sorted, then SHA-256. The same normalisation as `tools/check.py`
  * (column-name-sorted, row-sorted, exact float repr), done in the JVM so
  * a run needs no second engine. */
object ResultHash {
  final case class Fingerprint(rows: Long, sha256: String)

  def of(df: DataFrame): Fingerprint = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val header = order.map(df.columns(_)).mkString("\u0001")
    val lines = df.collect().map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(header.getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    Fingerprint(lines.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  def cell(v: Any): String = v match {
    case null                    => "∅"
    case d: Double               => java.lang.Double.toString(d)
    case f: Float                => "f" + java.lang.Float.toString(f)
    case b: java.math.BigDecimal => "d" + b.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp   => "t" + t.toInstant.toString
    case t: java.time.Instant    => "t" + t.toString
    case bs: Array[Byte]         => bs.map(b => f"$b%02x").mkString("x", "", "")
    case r: Row                  => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other                   => other.toString
  }
}
