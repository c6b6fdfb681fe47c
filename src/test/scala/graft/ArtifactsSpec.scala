package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Artifacts carries every reused derived artifact (table relations,
  * postings, signatures, candidate pairs, KPI grains, the LSH index,
  * measured counts), so its contract — build once per key,
  * MRU-bounded, evictions and race losers released — gets its own
  * spec. The LRU cases run on their own small store; a released frame
  * shows as a persisted frame whose storage level went back to NONE.
  */
class ArtifactsSpec extends AnyFunSuite {
  import TestSpark._

  private def frame(tag: Int): DataFrame = {
    import spark.implicits._
    Seq(tag).toDF("x")
  }
  private def persisted(tag: Int): DataFrame = frame(tag).persist(StorageLevel.MEMORY_ONLY)
  private def uncached(df: DataFrame): Boolean = df.storageLevel == StorageLevel.NONE

  test("second lookup returns the cached frame without rebuilding") {
    val cache = new Artifacts(bound = 2)
    var builds = 0
    def get() = cache(spark, "k1", "t") { builds += 1; frame(1) }
    val a = get()
    val b = get()
    assert(builds == 1)
    assert(a eq b, "cache must return the SAME frame instance")
  }

  test("bound evicts least-recently-USED entry and releases it") {
    val cache = new Artifacts(bound = 2)
    val f1 = cache(spark, "d1", "t")(persisted(11))
    val f2 = cache(spark, "d2", "t")(persisted(12))
    // touch d1 so d2 becomes the LRU entry
    cache(spark, "d1", "t")(fail("d1 must be cached"))
    val f3 = cache(spark, "d3", "t")(persisted(13))
    val evicted = Seq(f1, f2, f3).filter(uncached)
    assert(evicted.size == 1, "exactly one eviction at bound 2")
    // d1 was refreshed by the hit, so d2 must be the evicted one
    assert(evicted.head eq f2)
    // d1 and d3 still cached; d2 would rebuild
    cache(spark, "d1", "t")(fail("d1 must still be cached"))
    cache(spark, "d3", "t")(fail("d3 must still be cached"))
    var rebuilt = false
    cache(spark, "d2", "t") { rebuilt = true; frame(2) }
    assert(rebuilt, "evicted d2 must rebuild")
    cache.clear()
  }

  test("concurrent first callers: one frame wins, the loser is released") {
    val cacheR = new Artifacts(bound = 2)
    val gate = new java.util.concurrent.CountDownLatch(1)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val built = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]
    val fs = (1 to 4).map(i => Future {
      gate.await()
      cacheR(spark, "race", "t") { val f = persisted(20 + i); built.add(f); f }
    })
    gate.countDown()
    val results = fs.map(Await.result(_, 30.seconds))
    assert(results.toSet.size == 1, "every caller must see ONE winning frame")
    // losers (duplicate builds) must have been released, never leaked
    val winner = results.head
    assert(!uncached(winner))
    built.toArray(Array.empty[DataFrame]).filterNot(_ eq winner).foreach(l => assert(uncached(l)))
    cacheR.clear()
  }

  test("an evicted persisted frame is unpersisted") {
    val cache = new Artifacts(bound = 1)
    val p = cache(spark, "p1", "t")(persisted(31))
    assert(p.count() == 1 && !uncached(p))
    cache(spark, "p2", "t")(frame(32))
    assert(uncached(p), "the evicted persisted frame must be unpersisted")
  }

  test("an evicted localCheckpoint frame is left alone") {
    val cache = new Artifacts(bound = 1)
    def rddIds = spark.sparkContext.getPersistentRDDs.keySet
    val before = rddIds
    val ck = cache(spark, "c1", "t")(frame(41).localCheckpoint())
    val blocks = rddIds -- before
    assert(blocks.nonEmpty && uncached(ck))
    cache(spark, "c2", "t")(frame(42))
    assert(blocks.subsetOf(rddIds),
      "evicting a checkpoint frame must not unpersist its blocks")
    assert(ck.collect().map(_.getInt(0)).toSeq == Seq(41))
  }

  test("clear() also empties table reads and counts") {
    val dir = s"$sf/orders.parquet"
    val read = Tables.cachedRead(spark, dir)
    var counted = 0
    Artifacts(spark, sf, "ArtifactsSpec.count") { counted += 1; Long.box(7L) }
    assert(Tables.cachedRead(spark, dir) eq read)
    Artifacts.clear()
    assert(!(Tables.cachedRead(spark, dir) eq read), "table read must be re-resolved")
    Artifacts(spark, sf, "ArtifactsSpec.count") { counted += 1; Long.box(7L) }
    assert(counted == 2, "the count must be rebuilt")
  }

  test("builds and hits are counted") {
    val cache = new Artifacts(bound = 2)
    cache(spark, "n1", "t")(Long.box(1L))
    cache(spark, "n1", "t")(Long.box(1L))
    cache(spark, "n1", "t")(Long.box(1L))
    cache(spark, "n2", "t")(Long.box(2L))
    assert(cache.builds == 2 && cache.hits == 2)
    val (b0, h0) = (Artifacts.builds, Artifacts.hits)
    Artifacts(spark, sf, "ArtifactsSpec.counter")(Long.box(3L))
    Artifacts(spark, sf, "ArtifactsSpec.counter")(Long.box(3L))
    assert(Artifacts.builds - b0 == 1 && Artifacts.hits - h0 == 1)
  }
}
