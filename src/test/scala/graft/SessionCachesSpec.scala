package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The session-cache ledger: per-family breadth, one shared budget,
  * LRU eviction ACROSS families (the §15.18 fix — five families each
  * gating on their own view of the same budget could pin 5× it).
  */
class SessionCachesSpec extends SparkSpec {

  private def mk(k: Int, slices: Int = 2): DataFrame = {
    // distinct row or slice counts → distinct canonicalized plans
    // (identical plans would share one CacheManager entry)
    val df = spark.range(0, k * 1000L, 1, slices).toDF(s"id$k")
      .persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  private def pin(family: String, df: DataFrame): DataFrame =
    SessionCaches.cached(family, "k", maxLive = 4)(Seq(df)).head

  test("evicts least-recently-used across families once the sum crosses the budget") {
    SessionCaches.reset()
    val a = mk(1); val b = mk(2); val c = mk(3); val d = mk(2, slices = 3)
    val unit = SessionCaches.bytesOf(Seq(a))
    assert(unit > 0, "persisted frame must report measured cache bytes")
    val u2 = SessionCaches.bytesOf(Seq(b))
    val u3 = SessionCaches.bytesOf(Seq(c))
    // budget admits a+b+c minus a sliver: the third entry must evict
    // exactly the LRU entry (a), from a DIFFERENT family
    sys.props("graft.cacheLedger.budget") = (unit + u2 + u3 - 1).toString
    try {
      pin("famA", a); pin("famB", b)
      assert(SessionCaches.liveCount("famA") == 1)
      pin("famC", c)
      assert(SessionCaches.liveCount("famA") == 0,
        "cross-family LRU evicts the oldest")
      assert(a.storageLevel == StorageLevel.NONE, "eviction releases storage")
      // a hit returns the same frame without building, and re-orders:
      // famB becomes most-recent, so the next over-budget entry evicts
      // famC, not famB
      assert(SessionCaches.cached("famB", "k", maxLive = 4)(
        sys.error("must hit")).head eq b)
      pin("famD", d)
      assert(SessionCaches.liveCount("famC") == 0 &&
        SessionCaches.liveCount("famB") == 1 &&
        SessionCaches.liveCount("famD") == 1)
      assert(c.storageLevel == StorageLevel.NONE &&
        b.storageLevel != StorageLevel.NONE)
    } finally {
      sys.props.remove("graft.cacheLedger.budget")
      SessionCaches.reset()
      Seq(a, b, c, d).foreach(_.unpersist(false))
    }
  }

  test("family wiring: a released entry rebuilds on next use") {
    SessionCaches.reset()
    val docs = Tables(spark, sf).documents
    val s1 = graft.operators.Retrieval.cachedRarityStats(docs, "soak-test")
    val s2 = graft.operators.Retrieval.cachedRarityStats(docs, "soak-test")
    assert(s1 eq s2, "second call is a cache hit")
    assert(SessionCaches.liveCount("rarity") == 1)
    SessionCaches.reset() // global release path → family forgets too
    assert(SessionCaches.liveCount("rarity") == 0)
    val s3 = graft.operators.Retrieval.cachedRarityStats(docs, "soak-test")
    assert(!(s1 eq s3), "released entry must rebuild, not dangle")
    // and the rebuilt stats are identical rows
    assert(s1.orderBy("doc_id").collect().toSeq ==
      s3.orderBy("doc_id").collect().toSeq)
    SessionCaches.reset()
  }

  test("concurrent first calls: the first insert wins, the loser keeps the winner's storage") {
    SessionCaches.reset("race")
    // both builds finish before either inserts; equal plans share one
    // CacheManager entry, so discarding the loser must not unpersist it
    val bothBuilt = new java.util.concurrent.CountDownLatch(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val calls = try (1 to 2).map { _ =>
      pool.submit(new java.util.concurrent.Callable[DataFrame] {
        def call() = SessionCaches.cached("race", "k", maxLive = 1) {
          val df = mk(5)
          bothBuilt.countDown()
          bothBuilt.await(60, java.util.concurrent.TimeUnit.SECONDS)
          Seq(df)
        }.head
      })
    }.map(_.get()) finally pool.shutdown()
    val Seq(r1, r2) = calls
    assert(r1 eq r2, "both callers get the winner's frame")
    assert(SessionCaches.liveCount("race") == 1)
    assert(r1.storageLevel != StorageLevel.NONE)
    SessionCaches.reset("race")
    assert(r1.storageLevel == StorageLevel.NONE)
  }

  test("single-slot family: a second minhashLsh call releases the first call's pins") {
    SessionCaches.reset("minhash")
    val docs = Tables(spark, sf).documents
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    graft.operators.Dedup.minhashLsh(docs)
    val first = persisted -- before
    assert(first.nonEmpty, "the first call pins its signature and pair frames")
    assert(SessionCaches.liveCount("minhash") == 1)
    // a different corpus (different plans, so no shared cache entry)
    graft.operators.Dedup.minhashLsh(docs.filter(col("doc_id") % 2 === 0))
    assert((first & persisted).isEmpty,
      "the second call's pin unpersists the first call's frames")
    assert(SessionCaches.liveCount("minhash") == 1)
    SessionCaches.reset("minhash")
  }
}
