package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Paths}

/** Order-insensitive fingerprint of a query result, compared by the
  * benchmark against the fingerprint of the DuckDB oracle's result (read
  * back through Spark from parquet, see [[RefPrints]]), so both sides go
  * through this one canonicalization. It follows tools/check.py: columns
  * by lower-cased name, NULL and NaN spelled out, floats at full
  * round-trip precision, timestamps as UTC wall time, rows sorted. */
object Canon {
  private val tsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def wallTime(t: java.time.LocalDateTime): String = {
    val micros = t.getNano / 1000
    tsFormat.format(t) + (if (micros == 0) "" else f".$micros%06d")
  }

  def value(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d.isNaN) "NaN" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case b: Boolean => if (b) "True" else "False"
    case s: String => s
    case d: java.math.BigDecimal => d.toPlainString
    case t: java.sql.Timestamp =>
      wallTime(java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC))
    case t: java.time.Instant => wallTime(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case t: java.time.LocalDateTime => wallTime(t)
    case d: java.sql.Date => d.toLocalDate.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("b'", "", "'")
    case xs: scala.collection.Seq[_] => xs.map(nested).mkString("[", ", ", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => nested(k) + ": " + nested(x) }.sorted.mkString("{", ", ", "}")
    case r: Row =>
      r.schema.fieldNames.zip(r.toSeq).map { case (k, x) => s"'$k': ${nested(x)}" }
        .mkString("{", ", ", "}")
    case other => other.toString
  }

  private def nested(v: Any): String = v match {
    case null => "None"
    case s: String => "'" + s + "'"
    case other => value(other)
  }

  /** sha256 over the sorted column names and the sorted canonical rows. */
  def fingerprint(schema: StructType, rows: Array[Row]): String = {
    val names = schema.fieldNames.map(_.toLowerCase)
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u0001")).sorted
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    sha.update(order.map(names(_)).mkString("\u0001").getBytes("UTF-8"))
    lines.foreach { l => sha.update("\n".getBytes("UTF-8")); sha.update(l.getBytes("UTF-8")) }
    sha.digest().map(b => f"$b%02x").mkString
  }
}

/** Fingerprints of reference results: each `<query>.parquet` in the
  * directory given as the first argument is read with Spark and
  * fingerprinted by [[Canon]]; {query: {"sha256", "rows"}} is written as
  * JSON to the path in the second argument. */
object RefPrints {
  def main(argv: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("refprints")
      .config("spark.sql.session.timeZone", "UTC").config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val files = Files.list(Paths.get(argv(0)))
    val prints = try {
      files.toArray.map(_.asInstanceOf[java.nio.file.Path]).filter(_.toString.endsWith(".parquet"))
        .sortBy(_.toString).map { p =>
          val df = spark.read.parquet(p.toString)
          val rows = df.collect()
          p.getFileName.toString.stripSuffix(".parquet") ->
            Map("sha256" -> Canon.fingerprint(df.schema, rows), "rows" -> rows.length)
        }.toMap
    } finally files.close()
    Files.write(Paths.get(argv(1)), Json.write(prints).getBytes("UTF-8"))
    spark.stop()
  }
}
