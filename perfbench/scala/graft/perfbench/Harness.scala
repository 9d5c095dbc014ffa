package graft.perfbench

import graft.Engine
import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.util.Random

/** The benchmark's JVM. `perfbench/run.py` starts one per run and reads
  * the raw record it writes; all metrics are derived there.
  *
  * A run sets up the engine (`Engine.session` plus the staging its modules
  * need), then runs passes over every query of the given registry modules
  * as one closed-loop client: each query is built and its result collected,
  * and the next one starts only after that. The result's fingerprint for
  * the output check is taken after the query's clock has stopped.
  * Each pass runs the queries in an order drawn from the seed. The first
  * pass always completes; more passes follow while fewer than `seconds`
  * have been measured. Then, with tracing on, the module probes and the
  * tracing-overhead A/B run; the session stops and the bytes left in the
  * temp roots are counted.
  *
  * Arguments: --modules A,B --data DIR --probe-data DIR --root DIR --seed N
  * --seconds N --trace 0|1 --cpus N [--only Q1,Q2 (a subset of the
  * modules' queries, for building references)].
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  val registry: Map[String, Map[String, Query]] = Map(
    "Extraction" -> graft.queries.Extraction.queries,
    "Sources" -> graft.queries.Sources.queries,
    "Nested" -> graft.queries.Nested.queries,
    "Llm" -> graft.queries.Llm.queries,
    "StreamingQ" -> graft.queries.StreamingQ.queries)

  /** The staging `graft.Bench` does before timing, per module that needs it. */
  val staging: Map[String, Seq[(SparkSession, String) => Any]] = Map(
    "Sources" -> Seq(
      graft.queries.Sources.stageDayPartitionedEvents _,
      graft.queries.Sources.stageFragmentedEvents _,
      graft.queries.Sources.stageBloomEvents _),
    "StreamingQ" -> Seq(
      (s: SparkSession, d: String) => graft.streaming.Streams.stageEvents(s, d, 4),
      graft.queries.StreamingQ.stageSt7b _,
      graft.queries.StreamingQ.stageSt15 _,
      graft.queries.StreamingQ.stageSt19 _))

  /** Epoch milliseconds with nanosecond-clock resolution. */
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    status.split("\n").find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
  }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val modules = args("modules").split(",").toSeq
    val data = args("data")
    val root = Paths.get(args("root"))
    val cpus = args("cpus")
    val only = args.get("only").map(_.split(",").toSet)
    val queries: Seq[(String, Query)] = modules.flatMap(registry).sortBy(_._1)
      .filter { case (name, _) => only.forall(_(name)) }
    val stages = modules.flatMap(staging.getOrElse(_, Nil))

    val t0 = now()
    val spark = Engine.session(cpus)
    val t1 = now()
    stages.foreach(_(spark, data))
    val (sessionS, stageS) = ((t1 - t0) / 1e3, (now() - t1) / 1e3)
    val firstSetupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val streams = new StreamListener
    spark.streams.addListener(streams)
    val exec = new ExecListener
    val plans = new PlanListener
    def trace(on: Boolean): Unit =
      if (on) {
        spark.sparkContext.addSparkListener(exec)
        spark.listenerManager.register(plans)
      } else {
        spark.sparkContext.removeSparkListener(exec)
        spark.listenerManager.unregister(plans)
      }
    trace(traced)

    def runQuery(name: String, fn: Query): Map[String, Any] = {
      spark.sparkContext.setJobGroup(name, name)
      val t0 = now()
      var (t1, t2) = (t0, t0)
      var analysisS = 0.0
      var result: (StructType, Array[Row]) = null
      val error =
        try {
          val df = fn(spark, data)
          t1 = now()
          // the builder analyzed the plan; the action only re-analyzes its wrapper
          analysisS = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L) / 1e3
          result = (df.schema, df.collect())
          null
        } catch {
          case e: Throwable =>
            s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300)
        } finally {
          spark.sparkContext.clearJobGroup()
          t2 = now()
          if (t1 == t0) t1 = t2
        }
      val check = if (result == null) Map.empty[String, Any]
        else Map("sha256" -> Canon.fingerprint(result._1, result._2), "rows" -> result._2.length)
      Map("query" -> name, "start" -> t0, "built" -> t1, "end" -> t2,
        "analysis_s" -> analysisS, "error" -> error) ++ check
    }

    val measureStart = now()
    var passes = Vector.empty[Map[String, Any]]
    while (passes.isEmpty || now() - measureStart < seconds * 1e3) {
      val pass = passes.size + 1
      val order = new Random(seed * 1000003L + pass).shuffle(queries)
      val cpu0 = cpuSeconds()
      val t0 = now()
      val runs = order.map { case (name, fn) =>
        runQuery(name, fn)
      }
      passes :+= Map("pass" -> pass, "start" -> t0, "end" -> now(),
        "cpu_s" -> (cpuSeconds() - cpu0), "queries" -> runs)
    }
    val rssMb = peakRssMb()

    var probes = Map.empty[String, Any]
    if (traced) {
      BenchBus.drain(spark.sparkContext)
      val probeData = args("probe-data")
      val sinkDir = root.resolve("probe_sink").toString
      probes = Probes.jp2(seed) ++ Probes.functions(spark, probeData, seed) ++
        Probes.sinks(spark, probeData, seed, sinkDir)
      // Tracing overhead: one seeded query run untraced, traced, traced,
      // untraced, so that warm-up favours neither side.
      val ok = passes.head("queries").asInstanceOf[Seq[Map[String, Any]]]
        .filter(_("error") == null).map(_("query").toString)
      val picked = new Random(seed).shuffle(ok).take(1)
      var plain, withTrace = 0.0
      for (name <- picked; on <- Seq(false, true, true, false)) {
        trace(on)
        val r = runQuery(name, queries.toMap.apply(name))
        val s = (r("end").asInstanceOf[Double] - r("start").asInstanceOf[Double]) / 1e3
        if (on) withTrace += s else plain += s
      }
      trace(true)
      probes += "trace.overhead_frac" -> (if (plain > 0) withTrace / plain - 1 else 0.0)
    }
    BenchBus.drain(spark.sparkContext)
    spark.stop()
    val tmpBytes = Seq("tmp", "local", "warehouse", "checkpoints")
      .map(d => treeBytes(root.resolve(d))).sum

    val record = Map[String, Any](
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "cpus" -> cpus.toInt,
      "setup" -> Map("first_s" -> firstSetupS, "session_s" -> sessionS, "stage_s" -> stageS),
      "passes" -> passes,
      "peak_rss_mb" -> rssMb,
      "tmp_bytes_left" -> tmpBytes,
      "streams" -> streams.toJson,
      "jobs" -> (if (traced) exec.toJson else Nil),
      "executions" -> (if (traced) plans.toJson else Nil),
      "probes" -> probes)
    Files.write(root.resolve("raw.json"), Json.write(record).getBytes("UTF-8"))
  }
}

/** Writes, for building the benchmark's reference results, one JSON object
  * to the path in the first argument: the query names of every registry
  * module the benchmark runs, and `graft.SparkEntry.oracleSql`. */
object Catalog {
  def main(argv: Array[String]): Unit = {
    val modules = Harness.registry.map { case (m, qs) => m -> qs.keys.toSeq.sorted }
    val json = Json.write(Map("modules" -> modules, "oracle" -> graft.SparkEntry.oracleSql))
    Files.write(Paths.get(argv(0)), json.getBytes("UTF-8"))
  }
}

/** Minimal JSON writer for the raw record (the build has no JSON library). */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => graft.Jfmt.q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => graft.Jfmt.q(k.toString) + ":" + write(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => graft.Jfmt.q(other.toString)
  }
}
