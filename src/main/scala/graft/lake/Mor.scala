package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * MERGE-ON-READ resolution shared by BOTH commit cores — the
 * single-writer [[Versions]] manifest and the multi-writer [[TxLog]]
 * CAS log (the round-11 verdict's "two parallel lakehouse stacks"
 * finding: row-level-change features lived only on Versions, the
 * concurrency story only on TxLog, and a table could not have both).
 *
 * The overlay marker lives INSIDE a version's data directory (`_dv` =
 * deletion vector, `_mor` = upsert, each one line naming the key
 * column), so it rides every core's existing crash rule unchanged: a
 * directory whose pointer/record never landed is garbage regardless of
 * marker, and the marker is written before the commit point by
 * construction, so no committed version can be missing its own
 * overlay classification. The cores stay responsible for WHAT a
 * version's physical directory is ([[Versions]]: `v<N>` or a branch
 * base; [[TxLog]]: the record-named `d<N>-<nonce>`) and how commits
 * serialize; this object owns the read side — chain walking, the
 * `_SUCCESS` gate on every member, and the overlay algebra — so every
 * chain feature (O(|delta|) row-level change, vacuum-floor
 * auto-lowering, compaction equivalence) composes with either
 * concurrency story instead of forking per core.
 */
private[lake] object Mor {

  /** `Some((keyCol, isUpsert))` for an overlay version directory,
    * None for a full one. The key column is the marker's FIRST line;
    * later lines are flags ("evolve"). */
  def overlayOf(dir: java.io.File): Option[(String, Boolean)] = {
    val dv = new java.io.File(dir, "_dv")
    val mor = new java.io.File(dir, "_mor")
    def readKey(f: java.io.File) = new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .linesIterator.next().trim
    if (dv.isFile) Some((readKey(dv), false))
    else if (mor.isFile) Some((readKey(mor), true))
    else None
  }

  /** Stamp a staged version directory as an overlay — called by the
    * cores BEFORE their commit point lands. `evolve` records (second
    * marker line) that this upsert was committed under the
    * schema-evolution opt-in, so [[resolveChain]] null-backfills its
    * union instead of failing strict. */
  def writeMarker(dir: java.io.File, keyCol: String, upsert: Boolean,
                  evolve: Boolean = false): Unit = {
    java.nio.file.Files.write(
      new java.io.File(dir, if (upsert) "_mor" else "_dv").toPath,
      (keyCol + (if (evolve) "\nevolve" else "") + "\n").getBytes("UTF-8"))
    ()
  }

  /** Was this upsert overlay committed under the schema-evolution
    * opt-in? (The `_mor` marker's second line.) */
  private def evolveOf(dir: java.io.File): Boolean = {
    val mor = new java.io.File(dir, "_mor")
    mor.isFile && new String(
      java.nio.file.Files.readAllBytes(mor.toPath), "UTF-8")
      .linesIterator.drop(1).exists(_.trim == "evolve")
  }

  /** The WRITE-side schema contract for upsert overlays ([[resolveChain]]
    * unions the overlay with the resolved base): a batch whose column
    * set differs from the table's current read schema is rejected
    * LOUDLY at commit unless the caller opted into evolution — an
    * unnoticed column rename would otherwise fail at some later read
    * (strict union), or silently null a column (permissive union). With
    * the opt-in, added columns null-backfill on existing rows and
    * dropped ones null-backfill on the overlay's rows, mirroring the
    * read-side `readEvolved` story. A TYPE change on a shared column is
    * rejected in both modes: the union would silently widen the
    * resolved read to the wider type ([[requireSharedTypes]]). */
  def requireSchemaAligned(rows: DataFrame, current: StructType,
                           evolve: Boolean, desc: String): Unit = {
    if (!evolve) {
      val batch = rows.columns.toSet
      val cur = current.fieldNames.toSet
      require(batch == cur,
        s"upsert batch schema for $desc differs from the table's " +
          s"(batch adds ${batch -- cur}, misses ${cur -- batch}) — " +
          "pass evolveSchema = true to null-backfill, or align the batch")
    }
    requireSharedTypes(current, rows.schema, s"upsert batch for $desc")
  }

  /** Every column `overlay` shares with `table` has the table's type —
    * fail loudly otherwise. `unionByName` would coerce both sides to
    * the wider type, so a resolved read would no longer have the type
    * [[chainSchema]] reports (and that every older version reads
    * back). */
  private def requireSharedTypes(table: StructType, overlay: StructType,
                                 what: String): Unit = {
    // nested nullability is not a type change: a committed directory
    // reads back all-nullable, a batch may not be
    import graft.io.Sources.asNullable
    val want = table.fields.map(f => f.name -> f.dataType).toMap
    val clash = overlay.fields.filter(f =>
      want.get(f.name).exists(t => asNullable(t) != asNullable(f.dataType)))
    require(clash.isEmpty,
      s"$what changes the type of shared column(s) " + clash.map(f =>
        s"${f.name}: ${want(f.name).simpleString} -> ${f.dataType.simpleString}")
        .mkString(", ") + " — a resolved read would silently widen it")
  }

  /** Nearest FULL version at or below `v` — the base a merge-on-read
    * chain resolves down to (and the floor [[Versions.vacuum]] /
    * [[TxLog.vacuum]] auto-lower to, so retention can never orphan a
    * readable version's chain). */
  def fullBase(dirOf: Int => java.io.File, v: Int): Int = {
    var i = v
    while (i > 0 && overlayOf(dirOf(i)).isDefined) i -= 1
    i
  }

  /** Overlay-chain depth of version `v`: how many overlay anti-joins a
    * read of `v` must resolve (0 for a full version). The commit-time
    * auto-compaction policy in both cores keys off this. */
  def chainDepth(dirOf: Int => java.io.File, v: Int): Int =
    v - fullBase(dirOf, v)

  /** Loud key-uniqueness contract for upsert overlays: a batch carrying
    * two rows for one key is ambiguous — [[resolveChain]] would union
    * BOTH rows in, and "last write wins within a batch" is undefined
    * without a sequence column — so key-duplicate batches are rejected
    * at commit (one O(|delta|) aggregation pass), never resolved
    * silently. Dedup upstream (e.g. `groupBy(key).agg(max_by(...))`)
    * before committing. */
  def requireKeyUnique(rows: DataFrame, keyCol: String, desc: String): Unit = {
    import org.apache.spark.sql.functions.col
    // one partial-agg pass over the delta; limit(1) stops at the first
    // offending key (bounded collect: at most one row)
    val dup = rows.groupBy(col(keyCol)).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"upsert batch for $desc carries ${dup.head.getLong(1)} rows for " +
        s"$keyCol=${dup.head.get(0)} — within-batch last-write-wins is " +
        "undefined without a sequence column, so key-duplicate batches " +
        "are rejected; dedup before committing")
  }

  /** Read one committed version directory. Its schema comes from the
    * shared footer-backed cache ([[graft.io.Sources.parquetSchema]]):
    * lifecycle queries re-read the same immutable chain members dozens
    * of times, and a just-committed directory's schema comes off its
    * footer on the driver, so neither pays a schema-inference job. */
  private[lake] def readDir(spark: SparkSession,
                            dir: java.io.File): DataFrame =
    graft.io.Sources.cachedParquet(spark, dir.getAbsolutePath)

  /** The schema a [[resolveChain]] read of version `v` RESOLVES TO,
    * derived from the cached per-directory schemas alone — no Catalyst
    * plan is built or analyzed (the write-side contracts and feed
    * alignment were paying a full chain-plan ANALYSIS per commit/step
    * just to read column names off it). Replays resolveChain's column
    * algebra: the nearest full base sets the schema; deletion vectors
    * and strict (non-evolve) upserts cannot change it (the write-side
    * gate enforces alignment — an out-of-band misaligned overlay still
    * fails LOUDLY at read time in the strict union); an evolve upsert
    * appends its new columns in its own order, exactly like
    * `unionByName(_, allowMissingColumns = true)`. Every upsert overlay's
    * shared columns are checked against the schema so far, and a type
    * change fails loudly here (the union would silently widen it; a
    * deletion vector's keys only feed an anti-join, which cannot change
    * the read's schema), so names, types and order match the resolved
    * read; nullability is the base's (callers consume names/types
    * only). Same `_SUCCESS` gate as a read. */
  def chainSchema(spark: SparkSession, dirOf: Int => java.io.File,
                  v: Int, desc: String): StructType = {
    val base = fullBase(dirOf, v)
    def checked(i: Int): java.io.File = {
      val d = dirOf(i)
      require(new java.io.File(d, "_SUCCESS").isFile,
        s"version $i under $desc (chain member for schema of $v) is " +
          "vacuumed, incomplete, or was never committed")
      d
    }
    // metadata only: no DataFrame (whose file-index build lists the
    // directory eagerly) is built just to see a schema
    def dirSchema(d: java.io.File) =
      graft.io.Sources.parquetSchema(spark, d.getAbsolutePath)
    var schema = dirSchema(checked(base))
    var i = base + 1
    while (i <= v) {
      val d = checked(i)
      if (overlayOf(d).exists(_._2)) { // upserts union; DV keys only anti-join
        val ov = dirSchema(d)
        requireSharedTypes(schema, ov, s"upsert overlay v$i under $desc")
        if (evolveOf(d)) {
          val have = schema.fieldNames.toSet
          schema = StructType(schema.fields ++
            ov.fields.filterNot(f => have(f.name)))
        }
      }
      i += 1
    }
    schema
  }

  /** Resolve the merge-on-read chain ITERATIVELY from the nearest full
    * base up to `v` (no JVM recursion — a long-neglected chain must at
    * worst build a deep PLAN, never overflow the stack), with a
    * `_SUCCESS` gate on EVERY chain member — a half-vacuumed member
    * must fail loudly, never read back as silently-partial data.
    *
    * Plan shape: CONSECUTIVE deletion vectors on the SAME key column
    * coalesce into ONE anti-join of their unioned key sets —
    * `(base \ k1) \ k2 ≡ base \ (k1 ∪ k2)` — so a delete-heavy chain
    * of K vectors costs one shuffle, not K. Upserts cannot coalesce
    * (the replace-by-key + append algebra does not merge without
    * resolving intermediate states), so each still costs one
    * anti-join: compact before upsert chains grow past tens of
    * overlays (the commit-time auto-compaction policy enforces a
    * default bound). */
  def resolveChain(spark: SparkSession, dirOf: Int => java.io.File,
                   v: Int, desc: String): DataFrame = {
    val base = fullBase(dirOf, v)
    def checked(i: Int): java.io.File = {
      val d = dirOf(i)
      require(new java.io.File(d, "_SUCCESS").isFile,
        s"version $i under $desc (chain member for read of $v) is " +
          "vacuumed, incomplete, or was never committed")
      d
    }
    var acc = readDir(spark, checked(base))
    var i = base + 1
    while (i <= v) {
      val d = checked(i)
      val ov = readDir(spark, d)
      overlayOf(d) match {
        case Some((kc, false)) => // deletion vector(s): coalesce a run
          var keys = ov.select(kc)
          var j = i + 1
          var run = true
          while (run && j <= v) {
            overlayOf(dirOf(j)) match {
              case Some((`kc`, false)) =>
                keys = keys.union(readDir(spark, checked(j)).select(kc))
                j += 1
              case _ => run = false
            }
          }
          acc = acc.join(keys, Seq(kc), "left_anti")
          i = j
        case Some((kc, true)) => // upsert: replace-by-key, then append
          val kept = acc.join(ov.select(kc).distinct(), Seq(kc), "left_anti")
          // an overlay committed under the evolution opt-in unions
          // permissively (added columns null-backfill on older rows);
          // everything else keeps the strict contract — the write-side
          // gate (requireSchemaAligned) makes a mismatch unreachable
          // here except via out-of-band writes, which then fail loudly
          acc =
            if (evolveOf(d)) kept.unionByName(ov, allowMissingColumns = true)
            else kept.unionByName(ov)
          i += 1
        case None => // unreachable: fullBase stops at a full version
          acc = ov
          i += 1
      }
    }
    acc
  }
}
