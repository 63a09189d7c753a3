package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def frame = {
    import spark.implicits._
    Seq((1L, "a", 0.1 + 0.2, Seq(1.5, 2.5)), (2L, null, -0.0, Seq.empty[Double]),
      (3L, "c", 1e-300, null), (3L, "c", 1e-300, null))
      .toDF("id", "s", "x", "xs")
  }

  test("invariant under row and partition order") {
    val base = Fingerprint.of(frame.coalesce(1))
    assert(Fingerprint.of(frame.repartition(4, rand(7))) === base)
    assert(Fingerprint.of(frame.orderBy(desc("id")).repartition(3)) === base)
    assert(base.startsWith("4:"))
  }

  test("invariant under column order, sensitive to content") {
    val base = Fingerprint.of(frame)
    assert(Fingerprint.of(frame.select("xs", "x", "s", "id")) === base)
    assert(Fingerprint.of(frame.limit(3)) !== base)
    assert(Fingerprint.of(frame.withColumn("s", lit("a"))) !== base)
    // a null moved to another column of the same row changes the hash
    import spark.implicits._
    val a = Seq(("x", null: String)).toDF("p", "q")
    val b = Seq((null: String, "x")).toDF("p", "q")
    assert(Fingerprint.of(a) !== Fingerprint.of(b))
  }

  test("floating point summation order and signed zero do not matter") {
    import spark.implicits._
    val parts = Seq(0.1, 0.2, 0.3, 1e-9, 7.7).toDF("v")
    val fwd = parts.agg(sum("v").as("t"))
    val rev = Seq(7.7, 1e-9, 0.3, 0.2, 0.1).toDF("v").agg(sum("v").as("t"))
    assert(Fingerprint.of(fwd) === Fingerprint.of(rev))
    assert(Fingerprint.of(Seq(0.0).toDF("v")) === Fingerprint.of(Seq(-0.0).toDF("v")))
    assert(Fingerprint.of(Seq(1.0).toDF("v")) !== Fingerprint.of(Seq(1.001).toDF("v")))
  }
}
