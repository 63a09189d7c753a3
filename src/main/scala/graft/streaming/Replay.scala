package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/**
 * The finite-replay policy every streaming runner shares. The reference
 * is batch-only, so each of graft's streaming queries is a FINITE
 * replay: it scans or stages parquet, runs a stream to completion and
 * returns a batch frame. This object is the one place that knows how:
 * state-partition sizing on a cached child session, sink naming,
 * draining, staging one file per trigger, stopping every query, scratch
 * cleanup and the listener-bus sweep. Three drivers cover every runner:
 * [[memory]] (a stateful query into the memory sink), [[staged]]
 * (`foreachBatch` over staged files, one or more streams) and [[fold]]
 * (a monoid fold over one staged stream).
 */
object Replay {

  /** State partitions sized to the keyed-state volume: ~1 per 50k
    * source rows, clamped [2, 32]. Few stores keep the per-micro-batch
    * open/commit cost low, but too few serialize a 10× replay's stateful
    * stages. The row count is a footer metadata read, not a scan. */
  private def statePartitionsFor(spark: SparkSession, dir: String,
                                 table: String): Int = {
    val n = try spark.read.parquet(s"$dir/$table").count()
            catch { case _: Throwable => 100000L }
    math.max(2, math.min(32, (n / 50000L).toInt))
  }

  /** Child sessions cached per (parent, state-partition count): a
    * session's first stream start registers its
    * `StreamingQueryListenerBus` on the shared `LiveListenerBus` for
    * good, so caching bounds those buses at the number of distinct
    * partition counts (≤ 31) instead of the number of runs. */
  private val childSessions =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, Int), SparkSession]()

  /** Every streaming query also leaks a bus: `StreamExecution` runs it
    * on a `cloneSession()` whose manager registers its own listener bus
    * on the shared `LiveListenerBus`, and the bus outlives the clone, so
    * every later Spark event is dispatched through one more dead
    * listener per past run. After each run this sweep removes every
    * StreamingQueryListenerBus that is not the manager bus of a session
    * still held (`spark`, the active/default sessions, cached children).
    * Clone buses carry no user listeners, so removing them is inert.
    * Reflection over Spark internals: a rename degrades to the leak,
    * never to a broken query. */
  private def sweepCloneListenerBuses(spark: SparkSession): Unit =
    try {
      def managerBus(s: SparkSession): AnyRef = {
        val m = s.streams
        val acc = m.getClass.getDeclaredMethod("listenerBus")
        acc.setAccessible(true)
        acc.invoke(m)
      }
      val keep = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
      keep.add(managerBus(spark))
      SparkSession.getActiveSession.foreach(s => keep.add(managerBus(s)))
      SparkSession.getDefaultSession.foreach(s => keep.add(managerBus(s)))
      childSessions.forEach((k, c) => { keep.add(managerBus(k._1)); keep.add(managerBus(c)) })
      val sc = spark.sparkContext
      val lb = sc.getClass.getMethod("listenerBus").invoke(sc)
      val listeners = lb.getClass.getMethod("listeners").invoke(lb)
        .asInstanceOf[java.util.List[AnyRef]]
      val rm = lb.getClass.getMethods
        .find(m => m.getName == "removeListener" && m.getParameterCount == 1)
        .getOrElse(sys.error("LiveListenerBus.removeListener not found"))
      listeners.forEach { l =>
        if (l.getClass.getName.contains("StreamingQueryListenerBus") &&
            !keep.contains(l))
          rm.invoke(lb, l)
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /**
   * Run `body` on a child session (`spark.newSession()`: shared
   * SparkContext, private SQLConf) whose `spark.sql.shuffle.partitions`,
   * the state-store count a stateful stream reads at start, is `n`:
   * sized to the keyed-state volume, not to the batch scan parallelism.
   * The caller's conf is never touched, so a concurrent batch query
   * never sees the value (ConcurrencySpec pins it). `body` builds its
   * source, sink and [[drain]] on the child; the drained result is
   * re-based onto the caller's session on return.
   */
  private def withStatePartitions(spark: SparkSession, n: Int)
      (body: SparkSession => DataFrame): DataFrame = {
    // lazy eviction: an entry keyed by a stopped parent would pin that
    // session and its child's listener bus for the JVM lifetime
    childSessions.keySet.removeIf(
      (k: (SparkSession, Int)) => k._1.sparkContext.isStopped)
    val child = childSessions.computeIfAbsent((spark, n), _ => spark.newSession())
    // the per-run confs are set on the cached child, so two concurrent
    // runs sharing a child must serialize — harness runs are sequential;
    // the lock is insurance, and stream-beside-BATCH concurrency (the
    // ConcurrencySpec pin) never touches it
    child.synchronized {
      // newSession() restarts from builder-time confs; carry over the two
      // runtime semantics the replay depends on before sizing the state
      Seq("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong")
        .foreach(k => child.conf.set(k, spark.conf.get(k)))
      child.conf.set("spark.sql.shuffle.partitions", n.toString)
      // ephemeral checkpoints on the RAM-backed tmpfs when one exists:
      // WAL and state-store commits on scratch data that dies with the
      // query (a real deployment points this at durable storage)
      val ckptRoot = {
        val shm = new java.io.File("/dev/shm")
        if (shm.isDirectory && shm.canWrite)
          Some(s"/dev/shm/graft_ckpt_${java.util.UUID.randomUUID().toString.take(8)}")
        else None
      }
      ckptRoot.foreach(d =>
        child.conf.set("spark.sql.streaming.checkpointLocation", d))
      try {
        val out = body(child)
        spark.createDataFrame(out.rdd, out.schema)
      } finally {
        ckptRoot.foreach(d => graft.io.FileTree.rmTree(new java.io.File(d)))
        sweepCloneListenerBuses(spark)
      }
    }
  }

  /** Materialize a finished memory-sink table and DROP its temp view:
    * the UUID-named views are never reused, so without the drop every
    * replay pins its full result in driver memory for the
    * application's lifetime. The memory sink's rows are ALREADY
    * driver-resident (that is the sink's contract — it is a
    * harness/debug sink, bounded by construction), so the copy-out is a
    * driver-local collect into a LocalRelation rather than a
    * localCheckpoint — the latter ran a full distributed job
    * (~150 ms/query, measured) just to re-shard rows the driver holds.
    * The rows become GC-eligible with the returned frame, unlike the
    * pinned sink. */
  private def drain(spark: SparkSession, name: String): DataFrame = {
    val t = spark.table(name)
    val out = spark.createDataFrame(
      java.util.Arrays.asList(t.collect(): _*), t.schema)
    spark.catalog.dropTempView(name)
    out
  }

  /**
   * Memory-sink driver: build `stream` on a child session sized to
   * `dir`/`table`'s row count, run it to completion in output `mode`
   * and return the drained result on the caller's session. Each of
   * `arrivals` then lands more input (e.g. a late wave appended to the
   * stream's source directory) and the stream runs to completion again
   * before the drain.
   */
  private[graft] def memory(spark: SparkSession, dir: String, mode: String,
                            table: String = "events.parquet",
                            arrivals: Seq[() => Unit] = Nil)(
                            stream: SparkSession => DataFrame): DataFrame =
    withStatePartitions(spark, statePartitionsFor(spark, dir, table)) { child =>
      val name = "replay_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = stream(child)
        .writeStream.outputMode(mode).format("memory").queryName(name)
        .start()
      try {
        q.processAllAvailable()
        arrivals.foreach { arrive => arrive(); q.processAllAvailable() }
      } finally q.stop()
      drain(child, name)
    }

  /** The schema a staged frame is read back with: the frame's own, with
    * every field nullable — what a parquet file source reports. */
  private[graft] def stagedSchema(frame: DataFrame): StructType =
    StructType(frame.schema.map(_.copy(nullable = true)))

  /** One stream of a [[staged]] replay: `frame` is staged under a
    * scratch directory named by `prefix`, and every micro-batch read
    * back from it goes to `sink` with its batch id. */
  private[graft] final case class Staged(prefix: String, frame: DataFrame,
                                         sink: (DataFrame, Long) => Unit)

  /**
   * Staged-file `foreachBatch` driver: write every stream's frame to
   * scratch as `nFiles` parquet files, then start every stream on
   * `spark`, reading its stage back one file per trigger (controlled
   * micro-batches), and run each to completion. Streams start only once
   * every stage is written, so a failed staging write never leaves a
   * stream running. Whatever happens, every started query is stopped
   * (a failing stop does not skip the others), every stage is removed
   * and the clone listener buses are swept. Returns the number of
   * micro-batches each stream ran, in argument order.
   */
  private[graft] def staged(spark: SparkSession, nFiles: Int)(
                            streams: Staged*): Seq[Long] = {
    val counts = streams.map(_ => new java.util.concurrent.atomic.AtomicLong(0))
    var stages = List.empty[String]
    var queries = List.empty[StreamingQuery]
    var ok = false
    try {
      val dirs = streams.map { s =>
        val stage = graft.io.Sources.scratchDir(s.prefix)
        stages ::= stage
        s.frame.repartition(nFiles).write.mode("overwrite").parquet(stage)
        stage
      }
      streams.lazyZip(dirs).lazyZip(counts).foreach { (s, stage, n) =>
        queries ::= spark.readStream
          .schema(stagedSchema(s.frame))
          .option("maxFilesPerTrigger", "1")
          .parquet(stage)
          .writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            s.sink(batch, batchId)
            n.incrementAndGet()
            ()
          }
          .start()
      }
      queries.reverse.foreach(_.processAllAvailable())
      ok = true
    } finally {
      val stopFailure = queries.map(q => scala.util.Try(q.stop()))
        .collectFirst { case scala.util.Failure(e) => e }
      stages.foreach(graft.io.Sources.removeScratchDir)
      sweepCloneListenerBuses(spark)
      if (ok) stopFailure.foreach(e => throw e)
    }
    counts.map(_.get())
  }

  /**
   * Monoid fold over a [[staged]] replay of `frame`: each micro-batch's
   * `delta` merges into the running target with `merge`, and the target
   * is localCheckpointed per batch so lineage stays one batch deep. The
   * final target is independent of batch boundaries exactly when
   * `merge` is a monoid over `delta`'s outputs. Staging writes at least
   * one parquet file even for an empty frame (schema only), so every
   * fold runs at least one micro-batch; an empty frame folds to
   * `delta` of its one empty batch.
   */
  private[graft] def fold(spark: SparkSession, prefix: String,
                          frame: DataFrame, nFiles: Int)(
                          delta: DataFrame => DataFrame)(
                          merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    @volatile var target: DataFrame = null
    staged(spark, nFiles)(Staged(prefix, frame, (batch, _) => {
      val d = delta(batch)
      target = (if (target == null) d else merge(target, d)).localCheckpoint()
    }))
    if (target == null) throw new IllegalStateException(
      s"Replay.fold: staged returned 0 micro-batches for $prefix; " +
        "staging always writes a file, so a fold runs at least one")
    target
  }
}
