package graft

import java.nio.file.{Files, Paths}

import graft.tools.Profile

/** Each `tools.Profile` mode once on q1_agg at sf0.001: its header, and
  * one row per iteration (or per query); `plan` writes the full dump
  * even on a session that caps plan strings.
  */
class ProfileSpec extends SparkSpec {

  private def profile(mode: String, args: String*)(iters: Int = 2): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(Profile.run(spark, mode, args, Sf0001, iters))
    buf.toString("UTF-8").linesIterator.toSeq
  }

  private def rowsOf(out: Seq[String], header: String): Seq[String] = {
    val at = out.indexWhere(_.matches(header))
    assert(at >= 0, s"no header /$header/ in:\n${out.mkString("\n")}")
    out.drop(at + 1)
  }

  test("time: min and every iteration of a registry query") {
    val rows = rowsOf(profile("time", "q1_agg")(), """name\s+min_s\s+all_s""")
    assert(rows.size == 1 && rows.head.startsWith("q1_agg"), rows)
    assert(rows.head.split("all ")(1).trim.split(" ").length == 2, rows)
  }

  test("phases: one row per iteration with the main-thread stack") {
    val rows = rowsOf(profile("phases", "q1_agg")(),
      """\s*iter\s+build\s+analyze\s+optimize\s+physical\s+execute\s+total\s+\(ms\)""")
    assert(rows.count(_.matches("""\s*\d+(\s+\d+){6}""")) == 2, rows)
    assert(rows.count(_.contains("main-stack:")) == 2, rows)
  }

  test("stages: one row per iteration with thread CPU and steal") {
    val rows = rowsOf(profile("stages", "q1_agg")(),
      """\s*iter\s+wall_s\s+gc_ms\s+jit_ms\s+janino_n\s+procCpu_ms\s+execRun_ms\s+shufWr_ms.*""")
    assert(rows.count(_.matches("""\s*\d+\s+\d+\.\d{3}\s.*""")) == 2, rows)
    assert(rows.count(_.contains("steal=")) == 2, rows)
  }

  test("recon: cold, warm, recon and constr of one query") {
    val rows = rowsOf(profile("recon", "q1_agg")(),
      """query\s+cold\s+warm\s+recon\s+constr\s+ratio""")
    assert(rows.size == 1 && rows.head.split("\\s+").length == 6, rows)
  }

  test("build: first and second construction of one raw query") {
    val rows = rowsOf(profile("build", "q1_agg")(), """query\s+first_ms\s+second_ms""")
    assert(rows.size == 2 && rows.head.startsWith("q1_agg") &&
      rows(1).startsWith("TOTAL") && rows(1).contains("over 1 queries"), rows)
  }

  test("plan: the dump is not cut at the session's plan-string cap, and the cap comes back") {
    val key = "spark.sql.maxPlanStringLength"
    val dir = Files.createTempDirectory("profile-plan")
    spark.conf.set(key, GraftSession.MaxPlanStringLength.toString)
    try {
      val rows = rowsOf(profile("plan", dir.toString, "q1_agg")(), """query\s+chars\s+file""")
      assert(rows.size == 1 && rows.head.startsWith("q1_agg"), rows)
      val text = Files.readString(Paths.get(dir.toString, "q1_agg.txt"))
      assert(text.length > GraftSession.MaxPlanStringLength && !text.contains("more characters"),
        s"dump of ${text.length} chars")
      assert(spark.conf.get(key) == GraftSession.MaxPlanStringLength.toString)
    } finally {
      spark.conf.unset(key)
      Files.list(dir).forEach(p => Files.delete(p))
      Files.delete(dir)
    }
  }

  test("unknown names are refused before anything runs") {
    intercept[IllegalArgumentException](profile("time", "no_such_query")())
    intercept[IllegalArgumentException](profile("recon", "raster_warp_utm_16mp")())
  }
}
