package org.apache.spark.graftbench

import java.math.MathContext
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Canonical result fingerprint, canonicalised the way the repository's
  * oracle check compares results: columns sorted by name, every value
  * rendered to text with floating point rounded to 6 significant digits,
  * rows sorted. The fingerprint is the SHA-256 of the sorted rows, so the
  * query's own ORDER BY does not matter, only the row set.
  */
object Fingerprint {
  final case class Result(rows: Long, sha256: String)

  def of(df: DataFrame): Result = {
    val cols = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val rows = df.collect().map(r => cols.map(i => norm(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(cols.map(df.columns(_)).mkString("\u0001").getBytes(StandardCharsets.UTF_8))
    rows.foreach { r =>
      md.update('\n'.toByte)
      md.update(r.getBytes(StandardCharsets.UTF_8))
    }
    Result(rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  private val sixDigits = new MathContext(6)

  private def float(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0" // folds -0.0 into 0
    else new java.math.BigDecimal(d).round(sixDigits).stripTrailingZeros.toString

  def norm(v: Any): String = v match {
    case null => "NULL"
    case d: Double => float(d)
    case f: Float => float(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => (0 until r.length).map(i => norm(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${norm(k)}:${norm(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case other => other.toString
  }
}
