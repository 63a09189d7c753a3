package graft

import org.apache.spark.graft.{JobRecorder, Recording}

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Per-query numbers are made attributable by (a)
  * iterating REGISTRY DECLARATION ORDER — a Map's hash order shifted
  * first-touch costs onto different queries between rounds — and (b)
  * pre-touching every table and the kernel-bearing pipelines before the
  * timed section, so scan/file-index/janino warmup lands outside it. */
object Bench {
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // warm-up outside the timed section: every table (file index, footers,
    // scan codegen), then the kernel-bearing pipelines (janino + JIT). A
    // failed touch leaves its table cold for the first_scan tag below.
    val warmed = tables.filter { t =>
      try { spark.read.parquet(s"$sfDir/$t.parquet").count(); true }
      catch { case _: Throwable => false }
    }
    try {
      val docsW = spark.read.parquet(s"$sfDir/documents.parquet").limit(256)
      graft.dedup.Dedup.minhashCandidates(docsW).count()
      graft.dedup.Dedup.simhashCandidates(docsW).count()
      spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64).count()
    } catch { case _: Throwable => () }
    // one-time costs left inside the loop (the first stream start, a
    // scratch build, a table whose touch failed) are tagged into "cold"
    // (query -> reason) without changing the timed numbers
    val touched = scala.collection.mutable.Set[String](warmed: _*)
    val cold = scala.collection.mutable.LinkedHashMap[String, String]()
    // optional subset for local profiling: SPARK_GRAFT_ONLY=q37,q40
    val ordered = SparkEntry.registry.filter(q => GraftSession.selects(q.name))
    // SPARK_GRAFT_BENCH_ORDER=reverse runs back-to-front, to tell a tax
    // that grows with position from a query that is slow wherever it runs
    val reverse = sys.env.get("SPARK_GRAFT_BENCH_ORDER").contains("reverse")
    val selected = if (reverse) ordered.reverse else ordered
    // Noise control: each query runs once untimed (the warm-up absorbs
    // one-time costs), then REPS timed runs; the reported number is
    // their MIN (GC pauses and jitter only ever add time), and every run
    // lands in the durable artifact.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    // a query whose run throws must never read as a fast success: its
    // failure is recorded and surfaced in the JSON line
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    val sc = spark.sparkContext
    // streams started by an earlier warm-up: the first query to start
    // one pays the streaming machinery's spin-up
    var streamsStarted = false
    val results = selected.zipWithIndex.map { case (q, i) =>
      // each run is recorded (its jobs and stream starts); the timed
      // number stays the nanoTime span
      def once(): (Double, Recording) = JobRecorder.record(sc) {
        val t0 = System.nanoTime()
        attempt(failed, q.name, "[bench]")(q.fn(spark, sfDir).count())
        (System.nanoTime() - t0) / 1e9
      }
      // ---- warm-up (untimed; cold-cost attribution happens here) ----
      val ((df, warmupSec), warmup) = JobRecorder.record(sc) {
        val w0 = System.nanoTime()
        val d = attempt(failed, q.name, "[bench warm-up]") {
          val d = q.fn(spark, sfDir); d.count(); d
        }
        (d, (System.nanoTime() - w0) / 1e9)
      }
      if (!streamsStarted && warmup.streamStarts > 0)
        cold(q.name) = "stream_init"
      streamsStarted ||= warmup.streamStarts > 0
      // a query that triggered a shared scratch-table build paid a cost
      // its siblings won't — annotate WHICH build, timings untouched
      val builtKinds = graft.io.Scratch.drainBuilt()
      if (builtKinds.nonEmpty)
        cold.getOrElseUpdate(q.name, s"scratch_build:${builtKinds.mkString("+")}")
      df.foreach { d =>
        val first = d.queryExecution.analyzed.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                f.location.rootPaths.map(_.toString)
                  .filter(_.contains(sfDir))
                  .flatMap(p => tables.find(t => p.endsWith(s"$t.parquet")))
              case _ => Seq.empty[String]
            }
        }.flatten.filterNot(touched.contains)
        if (first.nonEmpty) {
          cold.getOrElseUpdate(q.name, s"first_scan:${first.mkString("+")}")
          touched ++= first
        }
      }
      // ---- timed runs ----
      val timed = Seq.fill(reps)(once())
      // ---- between-query hygiene (outside the timed section) ----
      // Checkpointed blocks stay pinned until the ContextCleaner's weak
      // references are GC'd, which a large idle heap may never do, and
      // the pile inflates later queries' numbers. Drop them after each
      // query, with a periodic GC nudge for shuffle/broadcast state.
      // The shared TokenizedCorpus checkpoint is read by later token
      // queries and cannot recompute once unpersisted: it is kept.
      val keep = graft.text.TokenizedCorpus.liveRddIds(spark)
      spark.sparkContext.getPersistentRDDs.values
        .filterNot(r => keep.contains(r.id))
        .foreach(_.unpersist(blocking = false))
      if ((i + 1) % 40 == 0) System.gc()
      val (best, layers) = timed.minBy(_._1)
      (q.name, best, warmupSec +: timed.map(_._1), layers)
    }
    // Short keys ("q63" not "q63_contamination") and ms precision keep the
    // whole line under ~1.5 KB so it survives a bounded log-tail capture;
    // full names live in SparkEntry.registry in the same order.
    def short(k: String): String = k.takeWhile(_ != '_')
    val qs = obj(results.map(r => short(r._1) -> f"${r._2}%.3f"))
    val coldJson = obj(cold.map { case (k, v) => short(k) -> str(v) })
    // a failed query's fast-fail duration never counts toward the
    // headline: a crash must not read as a faster total
    val total = f"${results.filterNot(r => failed.contains(r._1)).map(_._2).sum}%.3f"
    // a failed query keeps its (meaningless) timing slot, so `queries`
    // never loses a key, and is listed under "failed"
    val failedJson =
      if (failed.isEmpty) ""
      else ""","failed":""" + obj(failed.map { case (k, v) => short(k) -> str(v) })
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"cold":$coldJson$failedJson,"sf":"$sfDir"}"""
    println(line)
    // Durable copy (a bounded log tail can truncate stdout), plus "runs"
    // ([warmup, t1..tN] per query) and "layers" (the min run's jobs)
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
    val written = scala.util.Try {
      val runs = obj(results.map(r =>
        short(r._1) -> r._3.map(t => f"$t%.3f").mkString("[", ",", "]")))
      val full = line.stripSuffix("}") +
        s""","runs":$runs,"layers":${obj(results.map(r => short(r._1) -> layers(r._4)))}}"""
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(out, (full + "\n").getBytes("UTF-8"))
    }
    spark.stop()
    // a stale artifact left by an earlier run must not read as this one's
    written.failed.foreach { e =>
      System.err.println(s"[bench] artifact write to $out failed: $e")
      sys.exit(1)
    }
  }

  /** The `layers` record of one run: job and task counts, busy time (the
    * union of the job intervals) and the driver gap (wall minus busy),
    * the 10 heaviest call sites as `[site, jobs, ms]` and the 5 largest
    * idle spans as `[site of the job after it, ms]`. */
  private def layers(r: Recording): String = {
    val sites = r.sites.take(10).map(s => s"[${str(s._1)},${s._2},${s._3}]")
    val gaps = r.gaps.take(5).map(g => s"[${str(g._1)},${g._2}]")
    f"""{"jobs":${r.jobs.size},"tasks":${r.tasks},"job_s":${r.busyMs / 1e3}%.3f,""" +
      f""""gap_s":${(r.wallMs - r.busyMs) / 1e3}%.3f,"sites":${sites.mkString("[", ",", "]")},""" +
      s""""gaps":${gaps.mkString("[", ",", "]")}}"""
  }

  /** A JSON object of already-rendered values. */
  private[graft] def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** A JSON string of `s` with the characters it cannot carry blanked. */
  private[graft] def str(s: String): String = "\"" + clean(s) + "\""
  private def clean(s: String): String =
    s.replaceAll("[\"\\\\\\p{Cntrl}]", " ")

  /** The one failure formatter: exception class and message, blanked of
    * what a JSON string or a log line cannot carry. */
  private[graft] def failMsg(e: Throwable): String =
    clean(e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
      .take(160)

  /** Runs `body`. A throw is recorded in `failed` under `name` (the
    * first failure of a name wins), printed to stderr after `label`, and
    * gives None, so a crash never reads as a result. */
  private[graft] def attempt[T](failed: scala.collection.mutable.Map[String, String],
                                name: String, label: String)(body: => T): Option[T] =
    try Some(body)
    catch { case e: Throwable =>
      failed.getOrElseUpdate(name, failMsg(e))
      System.err.println(s"$label $name failed: ${failMsg(e)}")
      None
    }
}
