package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the single-job multiset comparators ([[graft.queries.Checks]])
  * that replaced the two-action `exceptAll().isEmpty` gates in the
  * lifecycle queries: same verdict semantics (multiset, null-safe,
  * order-free), no cross-pair cancellation, and the batched
  * emptiness/non-emptiness probes.
  */
class ChecksSpec extends AnyFunSuite with SparkSpec {

  import graft.queries.Checks

  private def df(rows: Seq[(java.lang.Integer, String)]) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  test("multisetEqual: equal multisets pass regardless of order") {
    val a = df(Seq((1, "x"), (2, "y"), (2, "y")))
    val b = df(Seq((2, "y"), (1, "x"), (2, "y")))
    assert(Checks.multisetEqual(a, b))
  }

  test("multisetEqual: multiplicity matters (set-equal is not enough)") {
    val a = df(Seq((1, "x"), (2, "y"), (2, "y")))
    val b = df(Seq((1, "x"), (2, "y")))
    assert(!Checks.multisetEqual(a, b))
    assert(!Checks.multisetEqual(b, a))
  }

  test("multisetEqual: null-safe per column, like exceptAll") {
    val a = df(Seq((null, "x"), (1, null)))
    val b = df(Seq((1, null), (null, "x")))
    val c = df(Seq((null, "x"), (null, "x")))
    assert(Checks.multisetEqual(a, b))
    assert(!Checks.multisetEqual(a, c))
  }

  test("multisetEqual: matches the exceptAll-pair verdict on random frames") {
    val rnd = new scala.util.Random(7)
    (0 until 20).foreach { _ =>
      val mk = () => df(Seq.fill(rnd.nextInt(6))(
        (Int.box(rnd.nextInt(3)), rnd.nextInt(2).toString)))
      val (a, b) = (mk(), mk())
      val legacy = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      assert(Checks.multisetEqual(a, b) == legacy)
    }
  }

  test("allMultisetEqual: one bad pair fails the batch; tags never cancel across pairs") {
    val x = df(Seq((1, "x")))
    val y = df(Seq((2, "y")))
    assert(Checks.allMultisetEqual(Seq((x, x), (y, y))))
    assert(!Checks.allMultisetEqual(Seq((x, x), (x, y))))
    // pair 0 = (x, y), pair 1 = (y, x): a tag-blind union would cancel
    // x against x and y against y and wrongly pass
    assert(!Checks.allMultisetEqual(Seq((x, y), (y, x))))
  }

  test("counts: positional per-frame counts, zeros for empty frames") {
    val x = df(Seq((1, "x"), (2, "y")))
    val e = x.limit(0)
    assert(Checks.counts(Seq(x, e, x.limit(1))) == Seq(2L, 0L, 1L))
  }

  test("allNonEmpty / allEmpty: batched probes") {
    val x = df(Seq((1, "x")))
    val e = x.limit(0)
    assert(Checks.allNonEmpty(Seq(x, x, x)))
    assert(!Checks.allNonEmpty(Seq(x, e, x)))
    assert(Checks.allEmpty(Seq(e, e)))
    assert(!Checks.allEmpty(Seq(e, x)))
  }

  test("inParallel: results in order; a failure surfaces only after every thunk settles") {
    assert(Checks.inParallel(Seq(() => 1, () => 2, () => 3)) == Seq(1, 2, 3))
    // a throwing thunk must not leave siblings running when the caller
    // regains control (its `finally` may delete shared fixtures)
    val finished = new java.util.concurrent.atomic.AtomicInteger(0)
    val boom = intercept[RuntimeException] {
      Checks.inParallel[Int](Seq(
        () => throw new RuntimeException("gate failed"),
        () => { Thread.sleep(300); finished.incrementAndGet() },
        () => { Thread.sleep(300); finished.incrementAndGet() }))
    }
    assert(boom.getMessage == "gate failed")
    assert(finished.get() == 2,
      "siblings must have settled before the failure surfaced")
  }

  test("inParallel: a fatal throwable in a thunk fails the call instead of hanging") {
    val outcome = new java.util.concurrent.CompletableFuture[Throwable]()
    val caller = new Thread(() => {
      try {
        Checks.inParallel[Int](Seq(
          () => throw new StackOverflowError("deep gate"),
          () => 2))
        outcome.complete(null)
      } catch { case e: Throwable => outcome.complete(e) }
      ()
    })
    caller.setDaemon(true)
    caller.start()
    // a hang surfaces as a TimeoutException here, not a stuck suite
    val e = outcome.get(60, java.util.concurrent.TimeUnit.SECONDS)
    assert(e.isInstanceOf[StackOverflowError] && e.getMessage == "deep gate")
  }
}
