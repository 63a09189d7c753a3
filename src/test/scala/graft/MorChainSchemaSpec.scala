package graft.lake

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the r15 metadata-only chain schema ([[Mor.chainSchema]]):
  * the write-side contracts, readEvolved, and the change feed's
  * alignment now derive the resolved schema from cached per-directory
  * footers instead of building and ANALYZING a full resolve plan — so
  * chainSchema must match the resolved read's schema (names, types,
  * order) on every chain shape the resolver supports. */
class MorChainSchemaSpec extends AnyFunSuite with graft.SparkSpec {

  private def namesTypes(s: org.apache.spark.sql.types.StructType) =
    s.fields.map(f => (f.name, f.dataType)).toSeq

  private def assertMatchesRead(root: String, v: Int): Unit = {
    val got = Mor.chainSchema(spark, Versions.versionDir(root, _), v, root)
    val want = Versions.read(spark, root, v).schema
    assert(namesTypes(got) == namesTypes(want),
      s"chainSchema diverged from the resolved read at v$v")
  }

  test("chainSchema matches the resolved read across full/DV/upsert/evolve/compaction") {
    import spark.implicits._
    val root = graft.io.Sources.scratchDir("graft_chainschema")
    try {
      val base = (1L to 50L).map(k => (k, s"s$k")).toDF("k", "s")
      Versions.commit(base, root) // v0 full
      assertMatchesRead(root, 0)
      Versions.commitDelete(Seq(3L, 4L).toDF("k"), root, "k",
        autoCompactAt = 0) // v1 deletion vector (dir holds only `k`)
      assertMatchesRead(root, 1)
      Versions.commitUpsert(Seq((5L, "x")).toDF("k", "s"), root, "k",
        autoCompactAt = 0) // v2 strict upsert
      assertMatchesRead(root, 2)
      Versions.commitUpsert(Seq((6L, "y", 42L)).toDF("k", "s", "extra"),
        root, "k", autoCompactAt = 0, evolveSchema = true) // v3 evolve
      assertMatchesRead(root, 3)
      assert(Mor.chainSchema(spark, Versions.versionDir(root, _), 3, root)
        .fieldNames.toSeq == Seq("k", "s", "extra"),
        "evolve overlay must append its new column last")
      // earlier versions keep their pre-evolution schema
      assertMatchesRead(root, 2)
      Versions.compactDeletes(spark, root) // v4 full again
      assertMatchesRead(root, 4)
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("chainSchema is loud on a vacuumed chain member, like a read") {
    import spark.implicits._
    val root = graft.io.Sources.scratchDir("graft_chainschema_vac")
    try {
      Versions.commit(Seq((1L, "a")).toDF("k", "s"), root)
      Versions.commit(Seq((2L, "b")).toDF("k", "s"), root) // v1 full
      Versions.commitDelete(Seq(9L).toDF("k"), root, "k",
        autoCompactAt = 0) // v2 overlay on v1
      Versions.vacuum(root, keepFrom = 1) // reclaims v0
      // v2's chain (base v1) still resolves
      assertMatchesRead(root, 2)
      // a schema request for the vacuumed v0 fails loudly
      val e = intercept[IllegalArgumentException] {
        Mor.chainSchema(spark, Versions.versionDir(root, _), 0, root)
      }
      assert(e.getMessage.contains("vacuumed"))
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("a shared column's type change is rejected at commit and by chainSchema") {
    import spark.implicits._
    val root = graft.io.Sources.scratchDir("graft_chainschema_types")
    try {
      Versions.commit((1L to 5L).map(k => (k, k.toInt)).toDF("k", "n"), root)
      // a strict upsert widening n: int -> long must not commit (the
      // union would silently widen every read of the new version)
      val e = intercept[IllegalArgumentException] {
        Versions.commitUpsert(Seq((2L, 7L)).toDF("k", "n"), root, "k",
          autoCompactAt = 0)
      }
      assert(e.getMessage.contains("n: int -> bigint"))
      assert(Versions.current(root) == 0)
      // ...nor under the evolution opt-in, which only adds/drops columns
      intercept[IllegalArgumentException] {
        Versions.commitUpsert(Seq((2L, 7L, "x")).toDF("k", "n", "s"), root,
          "k", autoCompactAt = 0, evolveSchema = true)
      }
      // an out-of-band overlay that widens the type (files swapped
      // under a committed int upsert) fails loudly in chainSchema
      Versions.commitUpsert(Seq((2L, 7)).toDF("k", "n"), root, "k",
        autoCompactAt = 0) // v1
      assertMatchesRead(root, 1)
      val v1 = Versions.versionDir(root, 1)
      val swap = s"$root/swap"
      Seq((2L, 7L)).toDF("k", "n").write.parquet(swap)
      Thread.sleep(5) // a distinct directory mtime for the cache key
      v1.listFiles().filter(_.getName.contains("part-")).foreach(_.delete())
      new java.io.File(swap).listFiles().filter(_.getName.startsWith("part-"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          new java.io.File(v1, f.getName).toPath))
      val t = intercept[IllegalArgumentException] {
        Mor.chainSchema(spark, Versions.versionDir(root, _), 1, root)
      }
      assert(t.getMessage.contains("upsert overlay v1"))
    } finally graft.io.Sources.removeScratchDir(root)
  }
}
