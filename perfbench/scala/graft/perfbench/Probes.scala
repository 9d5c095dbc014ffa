package graft.perfbench

import graft.Engine
import graft.functions.{CharStatsExpr, CosineSimilarityExpr, MinhashSigExpr, UnaccentExpr}
import graft.sinks.IncrementalWriter
import graft.sources.jp2.Jp2Codec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.Random

/** Probes of single modules, run only in a traced run. Each one calls the
  * module directly on inputs generated from the run's seed. */
object Probes {
  private def secs(f: => Any): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** `graft.sources.jp2`: one seeded 8-bit grey page (a paper-tone gradient
    * with dark text strokes and sensor noise) encoded once, then the full
    * and the 2-level reduced decode timed. Rates are page megapixels per
    * second, the median of repeated decodes after one warm-up. */
  def jp2(seed: Long): Map[String, Double] = {
    val rnd = new Random(seed)
    val (w, h) = (512, 768)
    val page = Array.tabulate(w * h) { i =>
      val (x, y) = (i % w, i / w)
      val stroke = (y / 14) % 3 == 0 && (x / 9) % 5 != 0 && rnd.nextInt(3) == 0
      val v = 215 - (x + y) / 40 + rnd.nextInt(11) - 5 - (if (stroke) 150 else 0)
      math.max(0, math.min(255, v))
    }
    val bytes = Jp2Codec.encode(w, h, Array(page), levels = 3)
    val mpix = w * h / 1e6
    def rate(decode: => Any): Double = {
      decode
      mpix / median(Seq.fill(5)(secs(decode)))
    }
    Map("jp2.decode_mpix_per_s" -> rate(Jp2Codec.decode(bytes)),
      "jp2.reduced_mpix_per_s" -> rate(Jp2Codec.decodeReduced(bytes, 2)))
  }

  /** `graft.functions`: each native expression over the cached documents
    * (or over embedding pairs for cosine), in nanoseconds per input row.
    * The cosine pairs join every embedding with a seeded sample of 16. */
  def functions(spark: SparkSession, dir: String, seed: Long): Map[String, Double] = {
    val docs = Engine.documents(spark, dir).select(col("text")).cache()
    val nDocs = docs.count()
    val emb = Engine.embeddings(spark, dir).select(col("vec_id"), col("embedding")).cache()
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).sorted
    val picked = new Random(seed).shuffle(ids.toSeq).take(16)
    val probes = emb.filter(col("vec_id").isin(picked: _*))
      .select(col("embedding").as("q")).cache()
    val pairs = emb.crossJoin(broadcast(probes))
    val nPairs = emb.count() * probes.count()
    def nsPerRow(df: DataFrame, rows: Long): Double = {
      def run(): Unit = df.write.format("noop").mode("overwrite").save()
      run()
      median(Seq.fill(3)(secs(run()))) * 1e9 / math.max(1L, rows)
    }
    try Map(
      "functions.minhash_ns_per_row" ->
        nsPerRow(docs.select(MinhashSigExpr.minhashSigNative(spark, col("text"))), nDocs),
      "functions.cosine_ns_per_row" ->
        nsPerRow(pairs.select(CosineSimilarityExpr.cosineNative(spark, col("embedding"), col("q"))), nPairs),
      "functions.char_stats_ns_per_row" ->
        nsPerRow(docs.select(CharStatsExpr.charStatsNative(spark, col("text"))), nDocs),
      "functions.unaccent_ns_per_row" ->
        nsPerRow(docs.select(UnaccentExpr.unaccentNative(spark, col("text"))), nDocs))
    finally { docs.unpersist(); probes.unpersist(); emb.unpersist(): Unit }
  }

  /** `graft.sinks`: `IncrementalWriter.append` of four seeded days of
    * events keyed on event_id. After the first, each batch is its day plus
    * the previous batch's day again, so about half of its keys are present
    * and must be skipped. */
  def sinks(spark: SparkSession, dir: String, seed: Long, sinkDir: String): Map[String, Double] = {
    val ev = Engine.events(spark, dir).withColumn("day", to_date(col("ts")))
    val allDays = ev.select("day").distinct().collect().map(_.getDate(0)).sortBy(_.getTime)
    val days = new Random(seed).shuffle(allDays.toSeq).take(4)
    val perDay = days.map(d => ev.filter(col("day") === lit(d)).drop("day").cache())
    val batches = perDay.indices.map { i =>
      if (i == 0) perDay(0) else perDay(i).unionByName(perDay(i - 1))
    }.map(_.cache())
    val offered = batches.map(_.count()).sum
    val sink = new IncrementalWriter(spark, sinkDir, Seq("event_id"))
    var written = 0L
    val appendS = secs(batches.foreach(b => written += sink.append(b)))
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(sinkDir))
    val data = try {
      files.filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".") && !p.getFileName.toString.startsWith("_"))
        .toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq
    } finally files.close()
    (batches ++ perDay).foreach(_.unpersist())
    Map("sinks.append_s" -> appendS,
      "sinks.written_ratio" -> written.toDouble / math.max(1L, offered),
      "sinks.files_written" -> data.size.toDouble,
      "sinks.mb_written" -> data.map(java.nio.file.Files.size(_)).sum / 1e6)
  }
}
