package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.storage.StorageLevel

import graft.ext.SessionMemo
import graft.ext.SessionMemo.PersistRecorded

/** Pins the SessionMemo contract: nested builds on the ONE shared map
  * are safe (a `computeIfAbsent` throws "Recursive update" — or silently
  * drops the inner entry — whenever a nested build's key hashes into the
  * outer key's reserved bin; Graph and Dedup builds nest two and three
  * deep); a concurrent first-build race publishes exactly one value and
  * the loser releases only its own persists; every hit re-arms the
  * persists its build left after a `clearCache`; the memo holds one
  * session; and registry code persists only through the memo.
  */
class SessionMemoSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("nested builds never throw and both levels memoize") {
    val outer = SessionMemo.get[String](spark, "smtest:outer") {
      val inner = SessionMemo.get[String](spark, "smtest:inner") { "inner-v" }
      "outer-" + inner
    }
    assert(outer == "outer-inner-v")
    // the inner entry was PUBLISHED, not dropped: a second get must not
    // re-run the build
    val again = SessionMemo.get[String](spark, "smtest:inner") {
      throw new IllegalStateException("inner entry was dropped and rebuilt")
    }
    assert(again == "inner-v")
    // sweep many key pairs so some inner keys land in the outer key's
    // hash bin — the exact geometry the old computeIfAbsent crashed on
    (0 until 256).foreach { i =>
      val v = SessionMemo.get[String](spark, s"smtest:o$i") {
        SessionMemo.get[String](spark, s"smtest:i$i") { i.toString }
      }
      assert(v == i.toString)
    }
  }

  test("concurrent first-build race publishes exactly one value") {
    val results = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val barrier = new java.util.concurrent.CyclicBarrier(8)
    val threads = (0 until 8).map { _ =>
      new Thread(() => {
        barrier.await()
        results.add(SessionMemo.get[AnyRef](spark, "smtest:race") { new Object })
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    // duplicate CONSTRUCTION under the race is benign (values are pure),
    // but every caller must observe the same published value
    assert(results.asScala.toSet.size == 1)
  }

  test("a hit re-arms the persists its build left, nested ones included, not released ones") {
    val inner = SessionMemo.get[DataFrame](spark, "smtest:rearm-inner") {
      spark.range(0, 1000).selectExpr("id % 17 AS k", "id AS v").persistRecorded()
    }
    def outer() = SessionMemo.get[(DataFrame, DataFrame, DataFrame)](spark, "smtest:rearm-outer") {
      val in = SessionMemo.get[DataFrame](spark, "smtest:rearm-inner") {
        throw new IllegalStateException("inner entry was rebuilt")
      }
      val own = in.groupBy("k").agg(sum("v").as("s")).persistRecorded()
      val released = spark.range(0, 500).selectExpr("id * 3 AS w").persistRecorded()
      released.count()
      released.unpersist(blocking = true)
      (own, released, own.join(in, "k"))
    }
    val (own, released, q) = outer()
    val rows = q.collect().map(_.toString).sorted.toSeq
    spark.catalog.clearCache()
    assert(inner.storageLevel == StorageLevel.NONE && own.storageLevel == StorageLevel.NONE)

    val (_, _, q2) = outer()
    assert(q2 eq q)
    assert(inner.storageLevel != StorageLevel.NONE, "the nested entry's persist was not re-armed")
    assert(own.storageLevel != StorageLevel.NONE, "the build's own persist was not re-armed")
    assert(released.storageLevel == StorageLevel.NONE, "a relation the build released was re-armed")
    // a fresh action over the memoized plan reads both caches
    val fresh = q2.select(q2.columns.toIndexedSeq.map(col): _*)
    assert(fresh.collect().map(_.toString).sorted.toSeq == rows)
    val scanned = collect(fresh.queryExecution.executedPlan) {
      case scan: InMemoryTableScanExec => scan.output.map(_.name).toSet
    }.toSet
    assert(scanned == Set(Set("k", "s"), Set("k", "v")), s"cached scans: $scanned")
    spark.catalog.clearCache()
  }

  test("a race loser does not unpersist the winner's relations") {
    val inner = SessionMemo.get[DataFrame](spark, "smtest:race-inner") {
      spark.range(0, 300).selectExpr("id AS a").persistRecorded()
    }
    // both builds materialize their relations, then this thread notes
    // the cached RDDs, then both publish: one of them loses
    val built = new CyclicBarrier(3)
    val noted = new CyclicBarrier(3)
    val results = new ConcurrentLinkedQueue[(DataFrame, DataFrame)]()
    val threads = (0 until 2).map { _ =>
      new Thread(() => {
        results.add(SessionMemo.get[(DataFrame, DataFrame)](spark, "smtest:race-outer") {
          val in = SessionMemo.get[DataFrame](spark, "smtest:race-inner") {
            throw new IllegalStateException("inner entry was rebuilt")
          }
          val own = in.selectExpr("a * 2 AS b").persistRecorded()
          own.count()
          built.await(60, TimeUnit.SECONDS)
          noted.await(60, TimeUnit.SECONDS)
          (in, own)
        })
      })
    }
    threads.foreach(_.start())
    built.await(60, TimeUnit.SECONDS)
    val cached = spark.sparkContext.getPersistentRDDs.keySet.toSet
    noted.await(60, TimeUnit.SECONDS)
    threads.foreach(_.join())
    assert(results.size == 2 && results.asScala.toSet.size == 1)
    assert(cached.size >= 2, s"cached RDDs: $cached")
    val dropped = cached -- spark.sparkContext.getPersistentRDDs.keySet
    assert(dropped.isEmpty, s"the loser unpersisted the winner's cached RDDs $dropped")
    assert(inner.storageLevel != StorageLevel.NONE)
    spark.catalog.clearCache()
  }

  test("fresh sessions evict the previous session's entries and their persists") {
    spark.catalog.clearCache()
    val kcore = SparkEntry.queries("g7_kcore")
    // g7 persists lineage-truncated rounds, which are never plan-equal
    // across builds: a memo that kept every session would keep them all
    val persisted = (1 to 4).map { _ =>
      val s = spark.newSession()
      kcore(s, Sf0001).collect()
      val (held, keys) = SessionMemo.heldEntries
      assert(held eq s, "the memo holds another session than the last one")
      assert(keys.contains(s"registry:g7_kcore:$Sf0001"))
      spark.sparkContext.getPersistentRDDs.size
    }
    assert(persisted.head > 0)
    assert(persisted.forall(_ == persisted.head), s"persisted RDDs per round: $persisted")
    spark.catalog.clearCache()
  }

  test("g6 owns none of the edge persists; the other graph entries keep re-arming them") {
    spark.catalog.clearCache()
    val s = spark.newSession()
    val graph = Seq("g1_pagerank", "g2_degree_hist", "g3_triangles", "g4_link_prediction",
      "g5_communities", "g6_components", "g7_kcore")
    graph.foreach(q => SparkEntry.queries(q)(s, Sf0001))
    // the edge entry owns its nested half-pair persist too
    val edges = SessionMemo.persistsOf(s"graph-edges:$Sf0001")
    assert(edges.size == 3, s"half pairs, edges and deg: $edges")
    def owned(q: String) = SessionMemo.persistsOf(s"registry:$q:$Sf0001")
    assert(owned("g6_components").nonEmpty, "g6 owns its labels")
    assert(!owned("g6_components").exists(p => edges.exists(_ eq p)), "g6 owns an edge persist")
    def rearmedBy(q: String): Boolean = {
      spark.catalog.clearCache()
      assert(edges.forall(_.storageLevel == StorageLevel.NONE))
      SparkEntry.queries(q)(s, Sf0001)
      edges.forall(_.storageLevel != StorageLevel.NONE)
    }
    assert(!rearmedBy("g6_components"), "a g6 hit re-armed the edge persists")
    graph.filterNot(_ == "g6_components").foreach(q => assert(rearmedBy(q), s"a $q hit did not re-arm them"))
    // the labels still answer after their edges were dropped
    spark.catalog.clearCache()
    assert(SparkEntry.queries("g6_components")(s, Sf0001).collect().nonEmpty)
    spark.catalog.clearCache()
  }

  test("registry code persists only through SessionMemo") {
    val root = new File("src/main/scala/graft")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    val bare = """\.(persist\s*\(|cache\s*\(\s*\))""".r
    val exempt = Seq("api/Engine.scala", "ext/SessionMemo.scala")
      .map(p => new File(root, p).getCanonicalPath)
    def files(d: File): Seq[File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val offenders = files(root).filterNot(f => exempt.exists(f.getCanonicalPath.startsWith)).flatMap { f =>
      val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      bare.findAllMatchIn(text).map { m =>
        s"${f.getPath}:${text.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }
    assert(offenders.isEmpty, s"persist through SessionMemo's persistRecorded: ${offenders.mkString(", ")}")
  }
}
