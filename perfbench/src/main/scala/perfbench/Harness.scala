package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.queries._

/** JVM side of the benchmark. perfbench/run.py chooses the ops (query
  * names) from the workload seed and hands them over with a data
  * directory; this program runs them against one in-process session and
  * writes raw records (op intervals, fingerprints, and in a traced run the
  * Spark jobs and plans) as JSON. All statistics are computed by run.py.
  *
  *   families <out.json>
  *       the registry's query names per family
  *   run <out.json> <dataDir> <trace 0|1> <op,op,...;op,op,...;...>
  *       run each op of the first pass once untimed (warm-up, which also
  *       fingerprints its output and so reads every input), then run every
  *       pass in order as a closed loop, each op into the noop sink
  *   dump <out.json> <dataDir> <outputDir|-> <op,op,...>
  *       fingerprint each op once; write its rows as parquet under
  *       outputDir (for the DuckDB oracle check) unless it is "-"
  */
object Harness {

  val families: Seq[(String, Seq[Q])] = Seq(
    "CoreQueries" -> CoreQueries.all, "TextQueries" -> TextQueries.all,
    "PipelineQueries" -> PipelineQueries.all, "ExtraQueries" -> ExtraQueries.all,
    "CurationQueries" -> CurationQueries.all, "ScaleQueries" -> ScaleQueries.all,
    "LakeQueries" -> LakeQueries.all, "AnalyticsQueries" -> AnalyticsQueries.all,
    "OlapQueries" -> OlapQueries.all, "SketchQueries" -> SketchQueries.all,
    "StatsQueries" -> StatsQueries.all, "CorpusQueries" -> CorpusQueries.all,
    "MiningQueries" -> MiningQueries.all, "LinkQueries" -> LinkQueries.all,
    "TpchQueries" -> TpchQueries.all)

  /** The session graft.Bench builds, with `nproc` cores. */
  def session(nproc: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  // epoch milliseconds at nanoTime resolution, comparable with the
  // listener's event times
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def errText(t: Throwable): String =
    (t.getClass.getSimpleName + ": " + Option(t.getMessage).getOrElse("")).take(300)

  def main(args: Array[String]): Unit = args.toList match {
    case "families" :: out :: Nil =>
      write(out, Map("families" -> families.map { case (f, qs) =>
        Map("family" -> f, "queries" -> qs.map(_.name)) }))
    case "run" :: out :: dir :: trace :: passes :: Nil =>
      run(out, dir, trace == "1",
        passes.split(";").toSeq.map(_.split(",").toSeq))
    case "dump" :: out :: dir :: outDir :: ops :: Nil =>
      dump(out, dir, Some(outDir).filter(_ != "-"), ops.split(",").toSeq)
    case _ =>
      System.err.println("usage: see perfbench.Harness scaladoc"); sys.exit(2)
  }

  private def resolve(names: Seq[String]): Seq[Q] = {
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    names.map(n => byName.getOrElse(n, sys.error(s"unknown query $n")))
  }

  private def nproc: Int = sys.env.get("PERFBENCH_NPROC").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def run(out: String, dir: String, trace: Boolean,
          passes: Seq[Seq[String]]): Unit = {
    val mix = resolve(passes.head)
    val byName = mix.map(q => q.name -> q).toMap
    val spark = session(nproc)
    val rec = new Recorder
    if (trace) {
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(rec)
    }
    val sessionReady = now()
    val records = Seq.newBuilder[Map[String, Any]]
    val compiled0 = compiled()

    // One op: build the frame through the registry (Q.fn), then
    // materialize every row and column of it: into the noop sink when
    // timed; when checked (warm-up), to the driver, where the rows are
    // fingerprinted. Collecting runs the frame's plan as the sink does,
    // with no operator on top, so the warm-up compiles the timed plan
    // (the mixes' outputs are a few dozen rows at most).
    def once(q: Q, phase: String, pass: Int, pos: Int): Unit = {
      val check = phase == "warmup"
      val gc0 = gcMs(); val cg0 = compiled()
      val t0 = now()
      var t1 = Double.NaN
      val res: Either[String, String] = try {
        val df = q.fn(spark, dir)
        t1 = now()
        if (check) {
          val rows = df.collect()
          Right(Fingerprint.of(spark.createDataFrame(rows.toSeq.asJava, df.schema)))
        } else { df.write.format("noop").mode("overwrite").save(); Right(null) }
      } catch { case t: Throwable => Left(errText(t)) }
      val t2 = now()
      records += Map("name" -> q.name, "phase" -> phase, "pass" -> pass, "pos" -> pos,
        "start" -> t0, "build_end" -> (if (t1.isNaN) t2 else t1), "end" -> t2,
        "ok" -> res.isRight, "checked" -> check,
        "fingerprint" -> res.getOrElse(null), "error" -> res.swap.getOrElse(null),
        "gc_ms" -> (gcMs() - gc0), "compiled" -> (compiled() - cg0))
    }

    // warm-up: every op of the mix once, untimed, its output fingerprinted
    mix.zipWithIndex.foreach { case (q, i) => once(q, "warmup", 0, i) }
    val compiledSetup = compiled() - compiled0
    val firstTimed = now()
    // closed loop over the passes
    for ((pass, p) <- passes.zipWithIndex; (n, i) <- pass.zipWithIndex)
      once(byName(n), "timed", p + 1, i)
    val timedEnd = now()
    val compiledTimed = compiled() - compiled0 - compiledSetup

    // retained heap: what the driver still holds after the timed section
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage

    if (trace) {
      val deadline = System.currentTimeMillis() + 10000
      while (!rec.drained && System.currentTimeMillis() < deadline) Thread.sleep(50)
      Thread.sleep(300)
    }
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filterNot { case (k, _) => Seq("driver.host", "driver.port", "app.id", "app.startTime",
        "app.submitTime", "local.dir", "warehouse.dir").exists(k.contains) }
    write(out, Map(
      "jvm_start" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready" -> sessionReady,
      "first_timed" -> firstTimed, "timed_end" -> timedEnd, "passes" -> passes.size,
      "nproc" -> nproc, "heap_max_mb" -> heap.getMax / 1048576.0,
      "retained_heap_mb" -> heap.getUsed / 1048576.0,
      "compiled_setup" -> compiledSetup, "compiled_timed" -> compiledTimed,
      "spark_version" -> spark.version,
      "conf" -> conf.map { case (k, v) => Map("key" -> k, "value" -> v) },
      "ops" -> records.result(),
      "jobs" -> (if (trace) rec.jobsJson else Nil),
      "plans" -> (if (trace) rec.plansJson else Nil)))
    spark.stop()
  }

  def dump(out: String, dir: String, outDir: Option[String], names: Seq[String]): Unit = {
    val spark = session(nproc)
    val rows = resolve(names).map { q =>
      val t0 = now()
      val res = try {
        val df = q.fn(spark, dir)
        outDir.foreach(d => df.write.mode("overwrite").parquet(s"$d/${q.name}"))
        Right(Fingerprint.of(df))
      } catch { case t: Throwable => Left(errText(t)) }
      System.err.println(s"[perfbench] ${q.name} ${res.fold(e => "FAILED " + e, identity)}")
      Map("name" -> q.name, "seconds" -> (now() - t0) / 1000,
        "fingerprint" -> res.fold(_ => null, identity), "error" -> res.fold(identity, _ => null))
    }
    outDir.foreach { d =>
      Files.createDirectories(Paths.get(d))
      write(s"$d/oracle_sql.json", SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })
    }
    write(out, Map("ops" -> rows))
    spark.stop()
  }

  // ---- minimal JSON writer (maps, sequences, strings, numbers, booleans) ----

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  private def write(path: String, v: Any): Unit = {
    Option(Paths.get(path).getParent).foreach(Files.createDirectories(_))
    Files.write(Paths.get(path), json(v).getBytes(UTF_8))
  }
}
