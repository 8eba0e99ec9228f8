package org.apache.spark.graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftColumnarRule

/** The benchmark's JVM side. It uses only the program's public entry
  * points: `graft.SparkEntry.queries` for the query bodies and the
  * `spark.sql.extensions` conf for the engine.
  *
  * Arguments are `key=value` pairs:
  *   mode       bench | reference
  *   data       fixture directory (one parquet file per table)
  *   queries    comma-separated query names
  *   out        path of the JSON run record to write
  *   cores      local[cores] and shuffle partitions
  *   seed       shuffles the query order of every pass   (bench)
  *   warmup     untimed noop passes after the check pass (bench)
  *   passes     number of timed passes                   (bench)
  *   trace      1 = alternate untraced and traced passes (bench)
  *   spans      where a traced run writes its spans      (bench, optional)
  *
  * `bench` first runs one untimed check pass that collects every result
  * and records its fingerprint, for the caller to compare with the
  * committed reference; it doubles as the first warm-up pass. Then come
  * the remaining warm-up passes and the timed passes, in which every
  * query is built and written to the noop sink, one at a time.
  * `reference` collects every result once on Spark's row path (the graft
  * columnar rule switched off) and records the fingerprints.
  */
object PerfBench {
  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val kv = a.split("=", 2)
      require(kv.length == 2, s"expected key=value, got $a")
      kv(0) -> kv(1)
    }.toMap
    val mode = opt("mode")
    val data = opt("data")
    val names = opt("queries").split(",").toSeq
    val out = Paths.get(opt("out"))
    require(Files.isDirectory(Paths.get(data)), s"no fixture directory $data")

    val cores = opt("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.engine.GraftExtensions")
      .config(graft.Tables.eventsReadConf._1, graft.Tables.eventsReadConf._2)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val all = graft.SparkEntry.queries
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    val record = mode match {
      case "bench" => bench(spark, opt, data, names.map(n => n -> all(n)), cores)
      case "reference" =>
        spark.conf.set(GraftColumnarRule.enabledKey, "false")
        Map("fingerprints" -> fingerprints(spark, data, names.map(n => n -> all(n))))
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    spark.stop()
    Files.write(out, json.writeValueAsBytes(record))
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  type Query = (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)

  private def fingerprints(spark: SparkSession, data: String,
      queries: Seq[Query]): Map[String, Any] =
    queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val r = try {
        val f = Fingerprint.of(fn(spark, data))
        Map("rows" -> f.rows, "sha256" -> f.sha256)
      } catch { case e: Throwable => Map("error" -> message(e)) }
      name -> (r + ("wall_s" -> (System.nanoTime() - t0) / 1e9))
    }.toMap

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
      .linesIterator.nextOption().getOrElse("").take(300)

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcTotals(): (Double, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3,
      beans.map(_.getCollectionCount).filter(_ >= 0).sum)
  }
  private def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1e3).getOrElse(0.0)
    catch { case _: Throwable => 0.0 }

  private def bench(spark: SparkSession, opt: Map[String, String], data: String,
      queries: Seq[Query], cores: Int): Map[String, Any] = {
    val seed = opt("seed").toLong
    val warmup = opt("warmup").toInt
    val timedPasses = opt("passes").toInt
    val traced = opt.get("trace").contains("1")
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val errors = mutable.LinkedHashMap[String, String]()

    val probe = new SpeedProbe(math.max(1, cores / 2))
    def runPass(index: Int, kind: String, trace: Boolean): Unit = {
      // Three speed-probe readings before each timed pass; run.py scales
      // the run's timings by the median readings.
      val speed = if (kind == "timed") Seq.fill(3)(probe.measure()) else Nil
      val order = new scala.util.Random(seed * 1000003L + index).shuffle(queries)
      val perQuery = mutable.LinkedHashMap[String, Map[String, Any]]()
      val layers = mutable.Map[String, Double]().withDefaultValue(0.0)
      if (trace) tracer.foreach(_.attach())
      val (gc0, gcn0) = gcTotals()
      val jit0 = VmThreads.jitSnapshot()
      val cpu0 = cpuBean.getProcessCpuTime
      val t0 = System.nanoTime()
      order.foreach { case (name, fn) =>
        val w0 = System.currentTimeMillis()
        val q0 = System.nanoTime()
        var buildEnd = q0
        var wB = w0
        val ok = try {
          val df = fn(spark, data)
          buildEnd = System.nanoTime()
          wB = System.currentTimeMillis()
          df.write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable => errors(name) = message(e); false }
        val q1 = System.nanoTime()
        val w1 = System.currentTimeMillis()
        val q = Map[String, Any]("build_s" -> (buildEnd - q0) / 1e9, "wall_s" -> (q1 - q0) / 1e9,
          "ok" -> ok)
        perQuery(name) = if (!trace) q else tracer.fold(q) { t =>
          val l = t.harvest(name, w0, wB, w1, (buildEnd - q0) / 1e9, (q1 - q0) / 1e9)
          l.foreach { case (k, v) =>
            layers(k) = if (k == "op.peak_exec_mem_mb") math.max(layers(k), v) else layers(k) + v
          }
          q + ("layers" -> l)
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      val jit = VmThreads.jitSeconds(jit0, VmThreads.jitSnapshot())
      val (gc1, gcn1) = gcTotals()
      if (trace) tracer.foreach(_.detach())
      val rec = mutable.LinkedHashMap[String, Any]("index" -> index, "kind" -> kind,
        "traced" -> trace, "wall_s" -> wall, "cpu_s" -> cpu, "jit_cpu_s" -> jit,
        "probe_s" -> speed.map(_._1), "probe_cpu_s" -> speed.map(_._2),
        "queries" -> perQuery)
      if (trace) {
        layers("gc.process_s") = gc1 - gc0
        layers("gc.count") = (gcn1 - gcn0).toDouble
        layers("jvm.jit_cpu_s") = jit
        layers("sched.slot_util") =
          if (layers("sched.job_s") > 0) layers("op.task_run_s") / (layers("sched.job_s") * cores)
          else 0.0
        val g = layers("plan.graft_nodes")
        val f = layers("plan.fallback_nodes")
        layers("plan.columnar_ratio") = if (g + f > 0) g / (g + f) else 0.0
        layers("jvm.peak_rss_mb") = peakRssMb()
        rec("layers") = layers.toMap
      }
      passes += rec.toMap
    }

    val c0 = System.nanoTime()
    val check = fingerprints(spark, data, new scala.util.Random(seed).shuffle(queries))
    val checkS = (System.nanoTime() - c0) / 1e9
    (0 until warmup).foreach(i => runPass(i, "warmup", trace = false))
    (1 to 3).foreach(_ => probe.measure()) // compiled before it is timed
    val firstTimedMs = System.currentTimeMillis()
    // Traced runs alternate untraced and traced passes, U T U ...: passes
    // still speed up from one to the next, and a traced pass between two
    // untraced ones cancels that in the overhead ratio.
    (0 until timedPasses).foreach { k =>
      runPass(warmup + k, "timed", trace = traced && k % 2 == 1)
    }

    probe.close()
    val spans = tracer.map { t =>
      opt.get("spans").foreach { p =>
        Files.write(Paths.get(p), json.writeValueAsBytes(t.spans))
      }
      t.selfTimes()
    }
    Map(
      "first_timed_ms" -> firstTimedMs,
      "passes" -> passes,
      "errors" -> errors,
      "check" -> check,
      "check_s" -> checkS,
      "self_time_s" -> spans,
      "env" -> Map(
        "cores" -> cores,
        "java_version" -> System.getProperty("java.version"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
        "spark_version" -> spark.version,
        "peak_rss_mb" -> peakRssMb()))
  }
}
