package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture (one JVM-wide session — getOrCreate
  * reuses it across suites, keeping `sbt test` fast).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    // graft_db / graft_dot and the fuse rule — the same surface Verify
    // and Bench register (getOrCreate may reuse a session built without
    // the extensions config)
    graft.plans.GraftExtensions.register(s)
    s
  }

  val Sf0001 = "/root/testdata/sf0.001"

  /** Returns once every listener has been told of every job started so
    * far: the listener bus delivers events in order, so once a later
    * marker job's end has been seen, every earlier event has been too.
    */
  def drainListeners(): Unit = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
    val sc = spark.sparkContext
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    sc.addSparkListener(listener)
    try {
      val marker = sc.parallelize(Seq(1), 1).countAsync()
      scala.concurrent.Await.result(marker, scala.concurrent.duration.Duration(60, "s"))
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!marker.jobIds.forall(ended.contains) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marker.jobIds.forall(ended.contains), "listener bus did not drain")
    } finally sc.removeSparkListener(listener)
  }
}
