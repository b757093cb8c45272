package graft

import org.apache.spark.storage.StorageLevel

import graft.api.{DbTile, Engine}

/** A band pipeline's dB cache is deserialized, so every pass gets the
  * same `db` arrays: no kernel may write into one (the rule in
  * [[graft.api.Kernels]]'s Scaladoc).
  */
class KernelsCacheSpec extends SparkSpec {

  test("no kernel writes into a cached tile: moments, histogram, quantize and CLAHE leave every db array as it was") {
    val ts = 16
    val (rows, cols) = (64, 48)
    val tiles = for (tr <- 0 until rows / ts; tc <- 0 until cols / ts) yield {
      val rnd = new scala.util.Random(tr * 31 + tc)
      // valid dB values, a few below the valid floor and a NaN per tile
      val db = Array.fill(ts * ts)(if (rnd.nextInt(10) == 0) -200.0 else -30.0 + 35.0 * rnd.nextDouble())
      db(rnd.nextInt(db.length)) = Double.NaN
      DbTile(tr, tc, ts, ts, db)
    }
    val bits = tiles.map(t => ((t.tile_row, t.tile_col), t.db.map(java.lang.Double.doubleToRawLongBits))).toMap
    val cached = spark.sparkContext.parallelize(tiles, 3).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val st = Engine.dbStats(cached)
      assert(spark.sparkContext.getRDDStorageInfo.find(_.id == cached.id)
        .exists(i => i.numCachedPartitions == 3 && i.memSize > 0), "the moments pass did not cache the tiles")
      val p = st.percentiles
      assert(Engine.quantizedDb(cached, p("p02"), p("p98"), 0.7, 65535.0).count() == tiles.size)
      assert(Engine.rescaledU8(Engine.quantizedDb(cached, p("p02"), p("p98"), 1.0, 65535.0)).count() == tiles.size)
      assert(Engine.claheDb(cached, rows, cols, p("p02"), p("p98"), 255.0, ts).count() == tiles.size)
      // read in the executors, where the cached objects themselves live
      val changed = cached.filter { t =>
        val want = bits((t.tile_row, t.tile_col))
        !t.db.indices.forall(i => java.lang.Double.doubleToRawLongBits(t.db(i)) == want(i))
      }.map(t => (t.tile_row, t.tile_col)).collect()
      assert(changed.isEmpty, s"tiles written into: ${changed.mkString(", ")}")
    } finally cached.unpersist()
  }
}
