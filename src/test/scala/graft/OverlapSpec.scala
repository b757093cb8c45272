package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.api.{Engine, ProcessedImage}
import graft.geom.{Geom, Warp}
import graft.meta.SafeMeta
import graft.model._

/** `Engine.overlapped` and the two pipelines that run through it:
  * `processMultiband`'s bands and `processDirectory`'s products run side
  * by side, at most two at a time, with outputs byte-identical to the
  * same work done one pipeline after the other.
  */
class OverlapSpec extends SparkSpec {

  private implicit val ec: ExecutionContext = ExecutionContext.global

  private def tmpDir = Files.createTempDirectory("graft-overlap").toString

  private def bytes(p: String): Array[Byte] = Files.readAllBytes(Paths.get(p))

  test("overlapped runs at most 2 items at once and returns results in input order") {
    val n = 5
    val started = Array.fill(n)(new CountDownLatch(1))
    val gate = Array.fill(n)(new CountDownLatch(1))
    val inFlight = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    val call = Future {
      Engine.overlapped(0 until n) { i =>
        peak.accumulateAndGet(inFlight.incrementAndGet(), (a: Int, b: Int) => math.max(a, b))
        started(i).countDown()
        gate(i).await()
        inFlight.decrementAndGet()
        i * 10
      }
    }
    def await(l: CountDownLatch) = assert(l.await(30, TimeUnit.SECONDS))
    await(started(0)); await(started(1))
    assert(!started(2).await(200, TimeUnit.MILLISECONDS), "a third item started with two in flight")
    // finish out of input order: 1, then 2, then 0, 3 and 4
    gate(1).countDown(); await(started(2))
    assert(!started(3).await(200, TimeUnit.MILLISECONDS))
    gate(2).countDown(); await(started(3))
    gate(0).countDown(); await(started(4))
    gate(3).countDown(); gate(4).countDown()
    assert(Await.result(call, 30.seconds) == Seq(0, 10, 20, 30, 40))
    assert(peak.get == 2)
  }

  test("overlapped rethrows the first failure in input order after every started item ends") {
    val started1 = new CountDownLatch(1)
    val gate1 = new CountDownLatch(1)
    val finished1 = new AtomicBoolean(false)
    val ran = new AtomicInteger(0)
    val call = Future {
      Engine.overlapped(0 until 4) { i =>
        ran.incrementAndGet()
        i match {
          case 0 =>
            assert(started1.await(30, TimeUnit.SECONDS))
            throw new IllegalStateException("item 0")
          case 1 =>
            started1.countDown()
            gate1.await()
            finished1.set(true)
            throw new IllegalArgumentException("item 1")
          case _ => i
        }
      }
    }
    Thread.sleep(300)
    assert(!call.isCompleted, "returned while item 1 was still running")
    gate1.countDown()
    val e = intercept[IllegalStateException](Await.result(call, 30.seconds))
    assert(e.getMessage == "item 0")
    assert(finished1.get)
    assert(ran.get == 2, "no item starts after a failure")
  }

  test("overlapped lanes inherit the caller's Spark local properties as they are at the call") {
    val sc = spark.sparkContext
    val key = "graft.overlap.spec"
    // both items in flight at once, so each has a lane of its own (a
    // lane's later items would see its own change)
    def seen(): Seq[String] = {
      val both = new CountDownLatch(2)
      Engine.overlapped(0 until 2) { i =>
        both.countDown()
        assert(both.await(30, TimeUnit.SECONDS))
        val v = sc.getLocalProperty(key)
        sc.setLocalProperty(key, s"lane-$i")
        v
      }
    }
    sc.setJobGroup("overlap-group", "overlap spec", interruptOnCancel = false)
    try {
      sc.setLocalProperty(key, "first")
      assert(seen().forall(_ == "first"))
      assert(sc.getLocalProperty(key) == "first", "a lane's change leaked to the caller")
      sc.setLocalProperty(key, "second")
      assert(seen().forall(_ == "second"), "lanes carried a stale snapshot")
      assert(Engine.overlapped(0 until 2)(_ => sc.getLocalProperty("spark.jobGroup.id"))
        .forall(_ == "overlap-group"))
    } finally {
      sc.setLocalProperty(key, null)
      sc.clearJobGroup()
    }
  }

  test("multiband synRGB JPEG equals the per-band reference, with the bands' jobs overlapped") {
    val rows = 512; val cols = 512
    val meta = SafeMeta(productType = Some("GRD"), crs = Some("EPSG:32632"),
      geotransform = Some(Array(730000.0, 10.0, 0.0, 5000000.0, 0.0, -10.0)))
    val params = ProcessingParams(polarization = Polarization.Multiband,
      format = OutputFormat.Jpeg, bitDepth = BitDepth.U8, autoscale = AutoscaleStrategy.Tamed,
      targetSize = Some(256), pad = true, targetCrs = Some("EPSG:32633"))
    val dir = tmpDir
    val id = "S1A_IW_GRDH_1SDV_overlap"

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.time)
    }
    drainListeners()
    spark.sparkContext.addSparkListener(listener)
    val out = s"$dir/request.jpg"
    try {
      Engine.processToPath(spark, id, rows, cols, out, params, meta)
      drainListeners()
    } finally spark.sparkContext.removeSparkListener(listener)

    // the request replayed band after band through the public calls
    val nw = Warp.nativePlan(meta.crs, "EPSG:32633", meta.geotransform, rows, cols,
      params.resampleAlg, params.targetSize).get
    val effMeta = meta.copy(crs = Some(nw.dstCrs), geotransform = Some(nw.dstGt.toArray),
      lines = Some(nw.dstRows), samples = Some(nw.dstCols))
    def band(name: String, copol: Boolean) = {
      val raw = Engine.warpTiles(Engine.loadPolarization(spark, id, name, rows, cols), nw).persist()
      try {
        val tiles = Engine.toDbTiles(raw)
        val p = Engine.tileStats(tiles).percentiles
        val low = if (copol) math.min(p("p02"), p("p05")) else p("p05")
        val q = Engine.quantizeTiles(tiles, low, p("p99"), 1.0, 255.0)
        val (resized, w, h) = Engine.collectResized(q, nw.dstRows, nw.dstCols, params.targetSize, 255)
        Geom.padAndRescaleGt(resized, w, h, nw.dstCols, nw.dstRows, params.pad, effMeta.geotransform)
      } finally raw.unpersist()
    }
    val (b1, fw, fh, gt) = band("vv", copol = true)
    val (b2, _, _, _) = band("vh", copol = false)
    val ref = s"$dir/reference.jpg"
    Engine.saveImage(ref, ProcessedImage(fw, fh, BitDepth.U8, None,
      Some(Engine.composeSynRgbSuppressed(b1, b2)), gt), params, effMeta, "MULTIBAND(VV, VH)")

    assert(fw == 256 && fh == 256)
    assert(bytes(out).sameElements(bytes(ref)), "JPEG bytes differ from the per-band reference")
    assert(bytes(s"$out.json").sameElements(bytes(s"$ref.json")), "sidecar differs")

    val (start, end) = (starts.asScala.toMap, ends.asScala.toMap)
    // each band's 4 jobs and drainListeners' marker
    assert(start.size >= 9 && start.keySet == end.keySet, s"${start.size} jobs seen")
    // most jobs running at one job's start
    val peak = start.values.map(t => start.keys.count(k => start(k) <= t && end(k) > t)).max
    assert(peak >= 2, "the two bands' jobs never ran at the same time")
  }

  test("a mixed batch keeps its counts and error order; each TIFF equals a single-product run") {
    val params = ProcessingParams(autoscale = AutoscaleStrategy.Standard,
      format = OutputFormat.Tiff, bitDepth = BitDepth.U16)
    // ok3 and ok4 span several tiles and partitions each; their sizes
    // differ, so their pixels do
    val products = Seq(("S1A_IW_GRDH_1SDV_ok1", 96, 128), ("bad_rows", -5, 50),
      ("S1A_IW_SLC__1SDV_slc", 64, 64), ("S1A_IW_GRDH_1SDV_ok2", 80, 60),
      ("S1A_IW_GRDH_1SDV_ok3", 700, 530), ("bad_cols", 40, -3), ("empty", 0, 10),
      ("S1A_IW_GRDH_1SDV_ok4", 530, 700))
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    val dir = tmpDir
    val report = Engine.processDirectory(spark, products, dir, params)
    assert(report.processed == 4)
    assert(report.skipped == 2, "the SLC product and the empty one")
    assert(report.errors.map(_._1) == Seq("bad_rows", "bad_cols"))
    assert(spark.sparkContext.getPersistentRDDs.keySet == cached, "a product left a cache behind")

    val single = tmpDir
    products.filter(_._1.contains("_GRDH_")).foreach { case (id, rows, cols) =>
      Engine.processToPath(spark, id, rows, cols, s"$single/$id.tiff", params,
        SafeMeta(productType = SafeMeta.productTypeFromId(id)))
      assert(bytes(s"$dir/$id.tiff").sameElements(bytes(s"$single/$id.tiff")), id)
    }
    assert(!Files.exists(Paths.get(s"$dir/S1A_IW_SLC__1SDV_slc.tiff")))
  }
}
