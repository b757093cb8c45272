package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ext.Tables

/** The one parquet reader: a fresh session reads a known table without a
  * schema-inference job; a rewritten table or a session with other
  * parquet settings infers again; no other `read.parquet` in the engine.
  */
class TablesSpec extends SparkSpec {

  private def tmpDir(): File = Files.createTempDirectory("graft-tables").toFile

  private def copyOf(table: String, dir: File): String = {
    val dst = new File(dir, s"$table.parquet")
    Files.copy(new File(s"$Sf0001/$table.parquet").toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
    dst.getPath
  }

  /** (result, Spark jobs `body` started on this thread). */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-${System.nanoTime()}"
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "table reader")
      val a = try body finally sc.clearJobGroup()
      drainListeners()
      (a, started.get)
    } finally sc.removeSparkListener(listener)
  }

  private def read(s: SparkSession, path: String): (DataFrame, Int) =
    jobsDuring(Tables.parquet(s, path))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("a second fresh session reads a known table without inferring it") {
    val dir = tmpDir()
    val single = copyOf("nation", dir)
    val written = new File(dir, "written.parquet").getPath
    spark.range(0, 200).selectExpr("id", "cast(id % 7 as string) as k", "id * 0.5 as v")
      .repartition(3).write.parquet(written)
    Seq("single file" -> single, "Spark-written directory" -> written).foreach { case (what, path) =>
      val (a, jobsA) = read(spark.newSession(), path)
      val (b, jobsB) = read(spark.newSession(), path)
      assert(jobsA >= 1, s"$what: the first read should infer the schema")
      assert(jobsB == 0, s"$what: the second read started $jobsB jobs")
      assert(b.schema == a.schema, what)
      assert(b.schema == spark.read.parquet(path).schema, what)
      assert(rows(b) == rows(a), what)
      assert(rows(b) == rows(spark.read.parquet(path)), what)
    }
  }

  test("a table rewritten at the same path is inferred again") {
    val path = new File(tmpDir(), "t.parquet").getPath
    spark.range(0, 50).selectExpr("id").write.parquet(path)
    val (a, _) = read(spark.newSession(), path)
    assert(a.schema.fieldNames.toSeq == Seq("id"))
    spark.range(0, 60).selectExpr("id", "cast(id as string) as s").write.mode("overwrite").parquet(path)
    val (b, jobsB) = read(spark.newSession(), path)
    assert(jobsB >= 1, "the rewritten table was not inferred again")
    assert(b.schema.fieldNames.toSeq == Seq("id", "s"))
    assert(b.count() == 60)
  }

  test("sessions with different parquet settings do not share a schema") {
    val events = copyOf("events", tmpDir())
    val a = spark.newSession()
    val (dfA, jobsA) = read(a, events)
    assert(jobsA >= 1)
    assert(a.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val b = spark.newSession()
    b.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val (dfB, jobsB) = read(b, events)
    assert(jobsB >= 1, "a session with another nanosAsLong reused the schema")
    assert(dfB.schema == b.read.parquet(events).schema)
    // a setting that does change the inferred type of `ts`
    val c = spark.newSession()
    c.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled",
      (!a.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled").toBoolean).toString)
    val (dfC, jobsC) = read(c, events)
    assert(jobsC >= 1)
    assert(dfC.schema("ts").dataType != dfA.schema("ts").dataType)
    assert(dfC.schema == c.read.parquet(events).schema)
    // and the first session's entry is still served
    val (dfA2, jobsA2) = read(spark.newSession(), events)
    assert(jobsA2 == 0 && dfA2.schema == dfA.schema)
  }

  test("no read.parquet in the engine outside the table reader") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    val direct = """\bread\s*\.\s*(parquet\s*\(|format\s*\(\s*"parquet")""".r
    def files(d: File): Seq[File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val reader = new File(root, "graft/ext/Tables.scala").getCanonicalFile
    val offenders = files(root).filter(_.getCanonicalFile != reader).flatMap { f =>
      val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      direct.findAllMatchIn(text).map { m =>
        s"${f.getPath}:${text.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }
    assert(offenders.isEmpty, s"read parquet through graft.ext.Tables.parquet: ${offenders.mkString(", ")}")
  }
}
