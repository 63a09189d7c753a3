package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Structured Streaming extension of the demand model (SURVEY.md §2.11:
 * the reference is batch-only; this is the stream path for the same
 * per-hour demand semantics — `readStream` → watermark → tumbling window
 * agg). Batch parquet drives the stream synchronously in tests/verify via
 * the memory sink + `processAllAvailable`.
 */
object StreamingDemand {

  /** Isolated stream-run count — lets [[graft.Bench]] attribute the
    * one-time streaming machinery spin-up (state store + micro-batch
    * executor classloading) without a listener: child-session query
    * events are filtered out of the parent session's listener bus. */
  private[graft] val isolatedStarts =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** State partitions sized to the KEYED-STATE volume: ~1 per 50k
    * source rows, clamped [2, 32]. The fixed per-micro-batch cost of
    * opening/committing every store argues for FEW stores at harness
    * volumes (the round-8 fixed-tax work), but a 10× replay through 2
    * stores serializes the stateful stages on 2 cores (q134 went
    * ×13.5 on 10× data before this) — so the count follows the data.
    * The row count is a parquet metadata read (footer row counts), not
    * a data scan. */
  private[graft] def statePartitionsFor(spark: SparkSession, dir: String,
                                        table: String = "events.parquet"): Int = {
    val n = try spark.read.parquet(s"$dir/$table").count()
            catch { case _: Throwable => 100000L }
    math.max(2, math.min(32, (n / 50000L).toInt))
  }

  /**
   * Run `body` on a CHILD session (`spark.newSession()`: shared
   * SparkContext and SharedState, PRIVATE SQLConf) whose
   * `spark.sql.shuffle.partitions` — the conf a stateful stream reads at
   * query start — is set to `n`. State-store count (and the fixed
   * per-micro-batch cost of opening/committing every store) scales with
   * it, so it must be sized to the KEYED-STATE volume, not to the batch
   * engine's scan parallelism: a handful of session/window keys needs a
   * handful of stores, while the batch default here (32, and hundreds on
   * a real cluster) pays ~4× micro-batch overhead for nothing.
   *
   * Isolation, not mutation: the caller's session conf is never
   * touched, so a concurrent batch query in the same session can never
   * observe the temporary value (ConcurrencySpec pins a live
   * stream+batch pair). `body` receives the child session and must
   * build its source, sink, and [[drain]] on it; the drained result (a
   * driver-local relation — see [[drain]]) is re-based onto the
   * caller's session on return so downstream composition never crosses
   * sessions.
   */
  /** Child sessions CACHED per (parent, state-partition count) — one
    * half of the q297 residual-accumulator fix (r9 verdict): the first
    * streaming-query start on any session registers that session's
    * `StreamingQueryListenerBus` on the SparkContext's shared
    * `LiveListenerBus` (the bus constructor calls `addToQueue(this,
    * STREAM_EVENT_QUERY)`) and nothing ever removes it. Caching bounds
    * the session-manager buses at the number of distinct partition
    * counts (≤ 31: statePartitionsFor clamps to [2, 32]) instead of the
    * number of runs. */
  private val childSessions =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, Int), SparkSession]()

  /** The other half: EVERY streaming query leaks one more bus, cached
    * sessions or not — `StreamExecution` runs each query on a
    * `cloneSession()`, and the clone's lazily-built
    * `StreamingQueryManager` registers its own listener bus on the
    * shared `LiveListenerBus` the first time the execution touches
    * `.streams` (progress-event posting). The clone dies with the
    * query, its bus does not: in a 322-query marathon every later
    * Spark event was dispatched through one more dead listener per past
    * streaming run — the monotone +31%-over-4-runs q297 creep. After
    * each run this sweep removes every StreamingQueryListenerBus that
    * is NOT the manager bus of a session we still hold (the `spark`
    * argument, its active/default siblings, cached children). Clone
    * buses carry no user listeners (addListener attaches to the
    * CREATOR session's manager bus, and run-id replay filtering happens
    * per-bus), so removing them mid-flight is observationally inert —
    * they only burn dispatch cycles. Pure-reflection introspection of
    * spark-internal fields, so any internal rename degrades to the old
    * leak, never to a broken query. */
  private[graft] def sweepCloneListenerBuses(spark: SparkSession): Unit =
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

  private[graft] def withStatePartitions(spark: SparkSession, n: Int)
      (body: SparkSession => DataFrame): DataFrame = {
    isolatedStarts.incrementAndGet()
    // lazy eviction (the Ivf.persistedIndex pattern): entries keyed by a
    // STOPPED parent would otherwise pin that session — and its child's
    // listener bus — for the JVM lifetime, the leak class this cache
    // exists to fix
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
      // Ephemeral checkpoints on the RAM-backed tmpfs when one exists:
      // offset/commit WAL writes and state-store delta commits are pure
      // fsync-ish fs I/O on scratch data that dies with the query —
      // ~0.2-0.3s per run on a disk-backed /tmp (measured). A real
      // deployment points this at durable storage; the finite-replay
      // harness deletes it after the drain.
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
    * run*ToBatch call pins its full result in driver memory for the
    * application's lifetime. The memory sink's rows are ALREADY
    * driver-resident (that is the sink's contract — it is a
    * harness/debug sink, bounded by construction), so the copy-out is a
    * driver-local collect into a LocalRelation rather than a
    * localCheckpoint — the latter ran a full distributed job
    * (~150 ms/query, measured) just to re-shard rows the driver holds.
    * The rows become GC-eligible with the returned frame, unlike the
    * pinned sink. */
  private[graft] def drain(spark: SparkSession, name: String): DataFrame = {
    val t = spark.table(name)
    val out = spark.createDataFrame(
      java.util.Arrays.asList(t.collect(): _*), t.schema)
    spark.catalog.dropTempView(name)
    out
  }

  /** events schema when the parquet stores ts as TIMESTAMP(NANOS), read
    * with `nanosAsLong` (ts = raw nanos). */
  val eventsRawSchemaNanos: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** events schema when the parquet stores ts as TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) — Spark reads TimestampNTZType. */
  val eventsRawSchemaMicros: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Streaming scan of `dir`/events.parquet with `ts` normalized to
    * session-zoned TimestampType at micro precision — the same two-flavor
    * normalization as [[graft.io.Sources.table]]. FileStreamSource needs
    * an explicit schema up front, so a footer-only batch read picks the
    * flavor first (the glob filter selects the events table;
    * FileStreamSource requires a directory, not a file path). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val nanos = spark.read.parquet(s"$dir/events.parquet").schema
      .exists(f => f.name == "ts" && f.dataType == LongType)
    val raw = spark.readStream
      .schema(if (nanos) eventsRawSchemaNanos else eventsRawSchemaMicros)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    graft.io.Sources.normalizeTs(raw, nanosAsLong = nanos)
  }

  /** Tumbling 1-hour event-time counts with a 1-hour watermark. */
  def hourlyCountsStream(spark: SparkSession, dir: String): DataFrame =
    eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /**
   * Stream-static enrichment join: the event stream broadcast-joins a
   * static dimension (re-resolved per micro-batch — the standard
   * streaming enrichment pattern; the stream side never shuffles for the
   * join) and aggregates counts per dimension attribute. Driven to
   * completion like [[runToBatch]]; the oracle replays the equivalent
   * BATCH join+agg in SQL, so stream≡batch holds by hash, not assertion.
   */
  def runEnrichedToBatch(spark: SparkSession, dir: String,
                         dim: DataFrame, dimKey: String,
                         dimAttr: String): DataFrame = {
    val name = "stream_enrich_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, statePartitionsFor(spark, dir)) { child =>
      val stream = eventsStream(child, dir)
      // exact integer aggregates only: streaming rejects count(DISTINCT),
      // and a double sum would be micro-batch-order-dependent
      val q = stream
        .join(org.apache.spark.sql.functions.broadcast(dim),
          stream("user_id") === dim(dimKey))
        .groupBy(dimAttr)
        .agg(count(lit(1)).as("n_events"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchases"))
        .writeStream.outputMode("complete").format("memory").queryName(name)
        .start()
      try q.processAllAvailable() finally q.stop()
      drain(child, name)
    }.orderBy(dimAttr)
  }

  /**
   * SLIDING event-time windows (2 h length, 30 min slide): every event
   * lands in exactly 4 overlapping windows — the smoothing/trend shape
   * tumbling windows can't express. Event time is floored to whole
   * seconds (`ts DIV 1e9`) so the window arithmetic is exact integer
   * logic the oracle replays as `((sec // 1800) - k) * 1800, k ∈ 0..3`.
   * NB: this harness driver materializes via complete-mode (all windows
   * retained — that is what lets the memory sink restate the full
   * table); a LIVE unbounded deployment of the same aggregation must
   * use append mode, where the watermark does evict each window's state
   * past its end. `maxTs` (exclusive, epoch seconds) bounds the slice
   * driven through the stream.
   */
  def runSlidingToBatch(spark: SparkSession, dir: String,
                        maxTs: Long): DataFrame = {
    val name = "stream_sliding_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, statePartitionsFor(spark, dir)) { child =>
      val q = eventsStream(child, dir)
        .withColumn("ts", date_trunc("second", col("ts")))
        .filter(col("ts") < timestamp_seconds(lit(maxTs)))
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "2 hours", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete").format("memory").queryName(name)
        .start()
      try q.processAllAvailable() finally q.stop()
      drain(child, name)
    }
      .select(unix_timestamp(col("window.start")).as("window_epoch"),
        col("event_type"), col("n"))
  }

  /**
   * Stream-STREAM interval self-join: clicks joined to the same user's
   * purchases in the trailing hour, both sides watermarked — the
   * attribution-join pattern (Spark buffers each side in keyed state and
   * evicts it once the other side's watermark passes the join bound, so
   * state stays bounded on an unbounded stream). Event time is floored
   * to WHOLE SECONDS before the join (`date_trunc("second", ts)`): the
   * interval arithmetic is then exact integer-second logic the DuckDB
   * oracle replays verbatim — micro-precision bounds would disagree at
   * the fractional boundary.
   *
   * Returns the matched (c_user, click_id, c_ts, purchase_id, p_ts)
   * pairs, materialized to a batch frame.
   */
  def runIntervalJoinToBatch(spark: SparkSession, dir: String): DataFrame = {
    val name = "stream_join_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, statePartitionsFor(spark, dir)) { child =>
      def side(evType: String, prefix: String) = eventsStream(child, dir)
        .filter(col("event_type") === evType)
        .select(col("user_id").as(s"${prefix}_user"),
          col("event_id").as(s"${prefix}_id"),
          date_trunc("second", col("ts")).as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "1 hour")
      val joined = side("click", "c").join(side("purchase", "p"),
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("INTERVAL 1 HOUR") &&
          col("p_ts") <= col("c_ts"))
      val q = joined
        .select(col("c_user"), col("c_id"), col("c_ts"), col("p_id"), col("p_ts"))
        .writeStream.outputMode("append").format("memory").queryName(name)
        .start()
      try q.processAllAvailable() finally q.stop()
      drain(child, name)
    }
  }

  /**
   * LEFT-OUTER stream-stream interval join — attribution WITH misses:
   * every click either pairs with the same user's purchases in the
   * trailing hour or, once the watermark passes its eviction bound, is
   * emitted once with null purchase columns. Spark holds the unmatched
   * left row in keyed state and null-pads it only when no future right
   * row can match (global watermark > click time) — bounded state on an
   * unbounded stream, and the miss rows arrive exactly once.
   *
   * `cutoffSec` (exclusive, epoch seconds) must trail the stream's max
   * event time by MORE than watermark delay + join interval (1 h + 1 h
   * here): outer state for a click is only evicted — and its miss row
   * only emitted — once the watermark passes click-time plus the
   * interval span, and on a FINITE replay the final watermark stops at
   * max(ts) − 1 h. Clicks past the cutoff would sit in state forever;
   * the cutoff keeps the replayed slice deterministic (the q131 oracle
   * applies the same cutoff to the batch truth).
   */
  def runLeftOuterIntervalJoinToBatch(spark: SparkSession, dir: String,
                                      cutoffSec: Long): DataFrame = {
    val name = "stream_louter_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, statePartitionsFor(spark, dir)) { child =>
      def side(evType: String, prefix: String) = eventsStream(child, dir)
        .filter(col("event_type") === evType)
        .select(col("user_id").as(s"${prefix}_user"),
          col("event_id").as(s"${prefix}_id"),
          date_trunc("second", col("ts")).as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "1 hour")
      val clicks = side("click", "c")
        .filter(col("c_ts") < timestamp_seconds(lit(cutoffSec)))
      val joined = clicks.join(side("purchase", "p"),
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("INTERVAL 1 HOUR") &&
          col("p_ts") <= col("c_ts"),
        "left_outer")
      val q = joined
        .select(col("c_user"), col("c_id"), col("c_ts"), col("p_id"), col("p_ts"))
        .writeStream.outputMode("append").format("memory").queryName(name)
        .start()
      try q.processAllAvailable() finally q.stop()
      drain(child, name)
    }
  }

  /**
   * NATIVE session windows (`session_window(ts, gap)`): the built-in
   * merging-window state operator — Spark's idiomatic spelling of gap
   * sessionization, complementing the `flatMapGroupsWithState` twin in
   * [[graft.ops.Sessionize]]. Window end is EXCLUSIVE (last event +
   * gap), so an event arriving exactly `gap` after the previous one
   * starts a NEW session — the batch replay must break on `diff >=
   * gap`, not `>` (q55's hand-rolled chain uses `>`; q134's oracle
   * encodes the native semantics). Complete mode for the finite-replay
   * harness; a live deployment uses append + watermark eviction.
   */
  def runSessionWindowToBatch(spark: SparkSession, dir: String,
                              gapMinutes: Int): DataFrame = {
    val name = "stream_sesswin_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, statePartitionsFor(spark, dir)) { child =>
      val q = eventsStream(child, dir)
        .withColumn("ts", date_trunc("second", col("ts")))
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"),
          session_window(col("ts"), s"$gapMinutes minutes"))
        .agg(count(lit(1)).as("n_events"))
        .writeStream.outputMode("complete").format("memory").queryName(name)
        .start()
      try q.processAllAvailable() finally q.stop()
      drain(child, name)
    }.select(col("user_id"),
      unix_timestamp(col("session_window.start")).as("start_epoch"),
      unix_timestamp(col("session_window.end")).as("end_epoch"),
      col("n_events"))
  }

  /**
   * Watermark LATE-DATA DROP, pinned: the events table arrives in two
   * controlled waves (wave 1 = odd event_ids, wave 2 = even — written
   * to a scratch dir between `processAllAvailable` calls, so the file
   * source sees exactly two arrival batches). After wave 1 the
   * watermark advances to max(wave-1 event time) − 1 h and APPEND mode
   * emits + evicts every hour window that closed; wave-2 rows falling
   * in those closed windows are dropped by the late-data filter —
   * Spark's actual bounded-state guarantee on an unbounded
   * out-of-order stream, which none of the single-arrival streaming
   * queries can exercise. The emitted table is therefore an exact
   * deterministic function of the two wave maxima: a window (start s,
   * end s+3600) appears iff s+3600 ≤ final watermark, with count =
   * wave-1 rows + only those wave-2 rows whose window was still open
   * at the wave-1 watermark (boundary: a window is closed and its
   * late rows dropped when end ≤ watermark) — the q297 oracle replays
   * exactly that arithmetic. Event time floors to whole seconds so
   * the window/watermark arithmetic is integer-exact.
   */
  def runLateDropToBatch(spark: SparkSession, dir: String): DataFrame = {
    val name = "stream_late_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, statePartitionsFor(spark, dir)) { child =>
      val src = graft.io.Sources.scratchDir("graft_late_src")
      val ev = graft.io.Sources.table(child, dir, "events")
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .select(col("event_id"), date_trunc("second", col("ts")).as("ts"),
          col("event_type"))
      ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .write.mode("overwrite").parquet(src)
      val q = child.readStream
        .schema(StructType(Seq(StructField("event_id", LongType),
          StructField("ts", TimestampType), StructField("event_type", StringType))))
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("window.start")).as("ws_sec"),
          col("event_type"), col("n"))
        .writeStream.outputMode("append").format("memory").queryName(name)
        .start()
      try {
        q.processAllAvailable() // wave 1 fully processed; watermark set
        ev.filter(pmod(col("event_id"), lit(2)) === 0)
          .write.mode("append").parquet(src) // the late wave
        q.processAllAvailable()
      } finally { q.stop(); graft.io.Sources.removeScratchDir(src) }
      drain(child, name)
    }
  }

  /**
   * Run the stream over a (finite) parquet path to completion and return
   * the materialized result: epoch-second window start per event type.
   * Output mode "complete" so late batches restate the full table.
   */
  def runToBatch(spark: SparkSession, dir: String): DataFrame = {
    val name = "stream_hourly_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, statePartitionsFor(spark, dir)) { child =>
      val q = hourlyCountsStream(child, dir)
        .writeStream.outputMode("complete").format("memory").queryName(name)
        .start()
      try q.processAllAvailable() finally q.stop()
      drain(child, name)
    }
      .select(unix_timestamp(col("window.start")).as("hora_epoch"),
        col("event_type"), col("n"))
      .orderBy("hora_epoch", "event_type")
  }
}
