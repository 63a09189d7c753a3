package graft

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
    // warmup outside the timed section: touch every table (file-index +
    // footer reads + scan codegen), then the kernel-bearing pipelines
    // (janino compilation + JIT, ~5s measured on the minhash pipeline).
    // Only SUCCESSFUL touches count as warm — a failed one leaves its
    // table out of `touched` so the first timed query to scan it gets
    // the first_scan cold tag below.
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
    // cold-start attribution: per-query deltas between rounds are only
    // meaningful if one-time warmup costs are visible. Tables are
    // pre-touched above; what remains cold inside the timed loop is (a)
    // the FIRST query to spin up the streaming machinery (state store +
    // micro-batch executor classloading, ~1-2s) and (b) any harness
    // table whose warmup touch failed. Both are tagged into "cold"
    // (query -> reason) WITHOUT changing the timed numbers.
    val streamStarts = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = {
          streamStarts.incrementAndGet(); ()
        }
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      })
    val touched = scala.collection.mutable.Set[String](warmed: _*)
    val cold = scala.collection.mutable.LinkedHashMap[String, String]()
    // optional subset for local profiling: SPARK_GRAFT_ONLY=q37,q40
    val ordered = SparkEntry.registry.filter(q => GraftSession.selects(q.name))
    // SPARK_GRAFT_BENCH_ORDER=reverse runs the marathon back-to-front —
    // the controlled experiment that separates position-dependent
    // environmental pressure (late queries pay an accumulating tax
    // regardless of identity) from per-query regressions (a query is
    // slow wherever it runs). Per-query numbers stay attributable
    // because the warm-up run and cold annotations work identically in
    // either direction.
    val selected =
      if (sys.env.get("SPARK_GRAFT_BENCH_ORDER").contains("reverse"))
        ordered.reverse
      else ordered
    // child-session stream runs (withStatePartitions isolation) don't hit
    // the parent listener, so count them via the explicit counter too
    def streamCount: Int = streamStarts.get() +
      graft.streaming.StreamingDemand.isolatedStarts.get()
    // Noise control (round-7 finding: single-shot timings showed 3x
    // phantom regressions on byte-identical code): each query runs ONCE
    // untimed as a warm-up — absorbing one-time costs (scratch builds,
    // stream init, first scans, janino/JIT) which are annotated into
    // `cold` with the warm-up's own duration — then REPS timed runs.
    // The reported number is the MIN of the timed runs (the standard
    // noise-robust steady-state estimator: GC pauses and scheduler
    // jitter only ever ADD time); every individual run lands in the
    // durable artifact so round-over-round variance is inspectable.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    var hygieneCounter = 0
    // A query whose run THROWS must never masquerade as a fast success
    // (r14 shipped a corrupted q104 number exactly that way): failures
    // are recorded per query and surfaced in the JSON artifact.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    def failMsg(e: Throwable): String = {
      val m = e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")
      m.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(160)
    }
    val results = selected.map { q =>
      val streamsBefore = streamCount
      def once(): Double = {
        val t0 = System.nanoTime()
        try { q.fn(spark, sfDir).count() }
        catch { case e: Throwable =>
          failed.getOrElseUpdate(q.name, failMsg(e))
          System.err.println(s"BENCH FAIL ${q.name}: ${failMsg(e)}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      // ---- warm-up (untimed; cold-cost attribution happens here) ----
      val w0 = System.nanoTime()
      val df = try { val d = q.fn(spark, sfDir); d.count(); Some(d) }
               catch { case e: Throwable =>
                 failed.getOrElseUpdate(q.name, failMsg(e))
                 System.err.println(s"BENCH FAIL (warmup) ${q.name}: ${failMsg(e)}")
                 None
               }
      val warmupSec = (System.nanoTime() - w0) / 1e9
      if (streamsBefore == 0 && streamCount > 0)
        cold(q.name) = "stream_init"
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
      // ---- between-query hygiene (OUTSIDE the timed section) ----
      // Many queries localCheckpoint intermediate frames (Q.sealResult
      // materializes lifecycle results on the driver, but graph, dedup,
      // text and streaming operators checkpoint mid-plan), and the
      // marathon's 360 queries x (warmup + reps) runs leave those
      // blocks pinned until the ContextCleaner's weak references are
      // GC'd — which a 24 GB heap under no allocation pressure may not
      // do for the whole marathon. The accumulated block-manager state
      // (and the shuffle files whose cleanup is likewise GC-driven) is
      // ambient pressure that inflates LATER queries' numbers (r13
      // adjudication: marathon captures ran ~x1.1-1.2 vs isolated
      // probes on identical code). Dropping the leaked blocks after
      // each query's timed runs — plus a periodic GC nudge so the
      // cleaner actually reaps shuffle/broadcast state — keeps
      // per-query numbers attributable. No timed semantics change:
      // every timed run still computes from the parquet inputs. ONE
      // deliberate cross-query block exists — the shared
      // TokenizedCorpus localCheckpoint (built by the first token
      // query, read by the rest) — and a localCheckpoint cannot
      // recompute after unpersist, so it is excluded from the sweep
      // (r14 swept it and corrupted q104's number: the run crashed
      // fast and was recorded as a timing).
      val keep = graft.text.TokenizedCorpus.liveRddIds(spark)
      spark.sparkContext.getPersistentRDDs.values
        .filterNot(r => keep.contains(r.id))
        .foreach(_.unpersist(blocking = false))
      hygieneCounter += 1
      if (hygieneCounter % 40 == 0) System.gc()
      (q.name, timed.min, warmupSec +: timed)
    }
    // Short keys ("q63" not "q63_contamination") and ms precision keep the
    // whole line under ~1.5 KB so it survives a bounded log-tail capture;
    // full names live in SparkEntry.registry in the same order.
    def short(k: String): String = k.takeWhile(_ != '_')
    val qs = results.map { case (k, v, _) =>
      "\"" + short(k) + "\":" + f"$v%.3f"
    }.mkString("{", ",", "}")
    val coldJson = cold.map { case (k, v) =>
      "\"" + short(k) + "\":\"" + v + "\""
    }.mkString("{", ",", "}")
    // a failed query's fast-fail duration never counts toward the
    // headline: a crash must not read as a faster total
    val total = f"${results.filterNot(r => failed.contains(r._1)).map(_._2).sum}%.3f"
    // failed queries keep their (meaningless) timing slot so the
    // `queries` contract never loses a key, but the failure is loud:
    // listed here and printed to stderr at the moment it happened.
    val failedJson =
      if (failed.isEmpty) ""
      else failed.map { case (k, v) =>
        "\"" + short(k) + "\":\"" + v + "\""
      }.mkString(""","failed":{""", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"cold":$coldJson$failedJson,"sf":"$sfDir"}"""
    println(line)
    // Durable copy: a bounded log-tail capture can truncate stdout when the
    // suite grows (BENCH_r06 lost q01–q83), so the full data also lands on
    // disk where the driver/judge can read every per-query timing. The
    // artifact additionally carries "runs": per query, [warmup, t1..tN] —
    // the raw material for variance inspection (the headline number is
    // min(t1..tN); the warm-up absorbs cold one-time costs, annotated in
    // "cold").
    try {
      val runsJson = results.map { case (k, _, rs) =>
        "\"" + short(k) + "\":" + rs.map(r => f"$r%.3f").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      val full = line.stripSuffix("}") + s""","runs":$runsJson}"""
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(out, (full + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    spark.stop()
  }
}
