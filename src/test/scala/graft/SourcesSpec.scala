package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.io.Sources

class SourcesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def df = Seq((1, "a", 2.0)).toDF("Fecha Ingreso", "NOMBRE PACIENTE", "valor")

  /** Shutdown hooks registered with the JVM right now. */
  private def jvmShutdownHooks(): Int = {
    val c = Class.forName("java.lang.ApplicationShutdownHooks")
    val f = c.getDeclaredField("hooks")
    f.setAccessible(true)
    c.synchronized(f.get(null).asInstanceOf[java.util.Map[_, _]].size)
  }

  test("withScratch removes its root and its shutdown hook, on return and on throw") {
    val baseline = jvmShutdownHooks()
    var root = ""
    val out = Sources.withScratch("graft_hook_ok") { r =>
      root = r
      assert(new java.io.File(r, "f").createNewFile())
      42
    }
    assert(out == 42 && root.nonEmpty && !new java.io.File(root).exists())
    assert(jvmShutdownHooks() == baseline, "withScratch left a shutdown hook behind")
    val err = intercept[IllegalStateException] {
      Sources.withScratch("graft_hook_throw") { r =>
        root = r
        throw new IllegalStateException("body failed")
      }
    }
    assert(err.getMessage == "body failed")
    assert(!new java.io.File(root).exists(), s"$root survived a failed body")
    assert(jvmShutdownHooks() == baseline, "a failed body left a shutdown hook behind")
  }

  test("selectPresent: intersection + missing report (app.py:27-35)") {
    val (proj, missing) = Sources.selectPresent(df,
      Seq("Fecha Ingreso", "valor", "no_such_col"))
    assert(proj.columns.toSeq == Seq("Fecha Ingreso", "valor"))
    assert(missing == Seq("no_such_col"))
  }

  test("findColumn: exact match beats contains, candidate priority order") {
    assert(Sources.findColumn(df, Seq("valor")).contains("valor"))
    assert(Sources.findColumn(df, Seq("fecha ingreso")).contains("Fecha Ingreso"))
    // contains-match: 'ingreso' is a substring of 'Fecha Ingreso'
    assert(Sources.findColumn(df, Seq("ingreso")).contains("Fecha Ingreso"))
    // priority: first candidate that matches anything wins
    assert(Sources.findColumn(df, Seq("zzz", "paciente")).contains("NOMBRE PACIENTE"))
    assert(Sources.findColumn(df, Seq("zzz")).isEmpty)
  }

  test("lastColumnContaining (app_indicadores 1570-1593 'last containing nombre')") {
    val d2 = Seq((1, 2, 3)).toDF("nombre_a", "x", "nombre_b")
    assert(Sources.lastColumnContaining(d2, "nombre").contains("nombre_b"))
  }

  test("requireTables passes for harness tables, fails for missing") {
    Sources.requireTables(spark, sf001, Seq("lineitem", "orders"))
    intercept[IllegalArgumentException] {
      Sources.requireTables(spark, sf001, Seq("lineitem", "ghost_table"))
    }
  }

  test("events loader converts nanos to usable timestamps") {
    val e = Sources.table(spark, sf001, "events")
    assert(e.schema("ts").dataType.typeName == "timestamp")
    assert(e.count() > 0)
  }

  test("CSV scan survives a UTF-8 BOM (SURVEY.md S5, app_call_center.py:13 utf-8-sig)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bom")
    val f = dir.resolve("bom.csv")
    // U+FEFF = the utf-8-sig byte-order mark pandas strips; a reader
    // that doesn't would see a header named "﻿n_nationkey"
    java.nio.file.Files.write(f,
      "\uFEFFn_nationkey;n_name\n0;ALGERIA\n1;ARGENTINA\n".getBytes("UTF-8"))
    val back = spark.read.option("header", "true").option("sep", ";")
      .option("encoding", "UTF-8").csv(f.toString)
    assert(back.columns.head == "n_nationkey",
      s"BOM leaked into the first header: ${back.columns.head.map(_.toInt)}")
    assert(back.count() == 2)
  }

  test("csvHeaderOffset skips junk rows before the header (SURVEY.md S3)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hdr")
    val f = dir.resolve("report.csv")
    java.nio.file.Files.write(f,
      ("REPORTE MENSUAL;;\nGenerado: 2024-01-01;;\n;;\n" + // 3 junk lines
        "id;nombre;valor\n1;ana;10\n2;luis;20\n").getBytes("UTF-8"))
    val df = Sources.csvHeaderOffset(spark, f.toString, skipLines = 3, sep = ";")
    assert(df.columns.toSeq == Seq("id", "nombre", "valor"))
    assert(df.count() == 2)
    assert(df.select("valor").collect().map(_.getInt(0)).sorted.toSeq == Seq(10, 20))
  }

  test("CSV sink + scan round-trip (SURVEY.md S5/S8)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    val src = Sources.table(spark, sf001, "nation")
    src.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true")
      .option("encoding", "UTF-8").csv(dir)
    assert(back.count() == src.count())
    assert(back.columns.toSeq == src.columns.toSeq)
  }
}
