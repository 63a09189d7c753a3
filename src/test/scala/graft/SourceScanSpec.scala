package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structure pins read off the sources ([[SourceScan]]): each format or
  * protocol has one owner under src/main, so a token of it spelled
  * anywhere else is a fork. */
class SourceScanSpec extends AnyFunSuite {

  import SourceScan.sourceHits

  test("only streaming/Replay.scala starts, drives or stages a stream under src/main") {
    // the finite-replay policy (sink naming, drain, stop, stage cleanup,
    // listener-bus sweep) lives in one driver; a runner that calls these
    // itself has forked it again
    val tokens = Seq(".writeStream", "processAllAvailable", "maxFilesPerTrigger")
    val root = java.nio.file.Paths.get("src/main/scala")
    val (offenders, _) = sourceHits(root, tokens)
    assert(offenders.nonEmpty, s"no stream driver found under $root")
    assert(offenders.forall(_.startsWith("graft/streaming/Replay.scala:")),
      s"stream plumbing outside the Replay driver:\n${offenders.mkString("\n")}")
  }

  test("no query hand-builds a gate report or removes a scratch root itself") {
    // the lifecycle-report format lives in Q.sealReport / Q.gateReport and
    // the scratch-root lifecycle in Sources.withScratch
    val tokens = Seq("""toDF("tag", "ok")""", """toDF("chk", "ok")""",
      "removeScratchDir(")
    val root = java.nio.file.Paths.get("src/main/scala/graft/queries")
    val (offenders, scanned) = sourceHits(root, tokens)
    assert(scanned > 10, s"only $scanned query files found under $root")
    assert(offenders.isEmpty,
      s"hand-built report or scratch cleanup in a query:\n${offenders.mkString("\n")}")
  }
}
