package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Corpus, LexIndex}
import graft.sources.StoreProtocol

/** The one session cache: build-once under concurrency, failed builds
  * not cached, the two lifetimes (scratch released, stores kept), store
  * invalidation by path prefix, and per-session isolation. */
class SessionCacheSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import SparkTest.Sf

  test("two threads missing one key run the build once") {
    val slot = SessionCache.store[String, Int]
    val builds = new AtomicInteger(0)
    val entered = new CountDownLatch(1)
    val proceed = new CountDownLatch(1)
    def build(): Int = {
      builds.incrementAndGet()
      entered.countDown()
      proceed.await(30, TimeUnit.SECONDS)
      42
    }
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    def caller() = new Thread(() => { got.add(slot(spark, "k")(build())); () })
    val first = caller()
    first.start()
    assert(entered.await(30, TimeUnit.SECONDS), "first build never started")
    val second = caller()
    second.start()
    // let the second caller reach the key before the first build ends
    val deadline = System.nanoTime() + 10000000000L
    while (second.getState == Thread.State.RUNNABLE &&
      System.nanoTime() < deadline) Thread.sleep(5)
    proceed.countDown()
    first.join(30000); second.join(30000)
    assert(got.toArray.toSeq == Seq(42, 42))
    assert(builds.get == 1, s"the build ran ${builds.get} times")
    assert(slot(spark, "k")(build()) == 42 && builds.get == 1)
  }

  test("a build that throws is not cached; the next call rebuilds") {
    val slot = SessionCache.store[String, Int]
    val builds = new AtomicInteger(0)
    val err = intercept[IllegalStateException] {
      slot(spark, "k") { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(err.getMessage == "boom")
    assert(slot(spark, "k") { builds.incrementAndGet(); 7 } == 7)
    assert(slot(spark, "k") { builds.incrementAndGet(); 8 } == 7)
    assert(builds.get == 2)
  }

  test("releaseScratch unpersists scratch entries and frees a BPE entry's cut") {
    import spark.implicits._
    val slot = SessionCache.scratch[String, org.apache.spark.sql.DataFrame](_.unpersist())
    val df = slot(spark, "k")(spark.range(10).toDF("x").persist())
    df.count()
    assert(df.storageLevel.useMemory)
    // a distributed BPE state whose dictionary pins a lineage cut: 80
    // distinct 10–14-char words over a 6-letter alphabet never exhaust
    // the merge material before the first cut
    val rng = new scala.util.Random(13)
    val words = (0 until 80).map { _ =>
      (0 until (10 + rng.nextInt(5))).map(_ => ('a' + rng.nextInt(6)).toChar).mkString
    }
    val docs = (1L to 120L).map { i =>
      (i, Seq.fill(5)(words(rng.nextInt(words.length))).mkString(" "), "s")
    }.toDF("doc_id", "text", "source")
    val (tab, dict, cut) = Corpus.bpeMemo(spark, ("spec", Corpus.BpeCutEvery)) {
      val (t, d0, dN, c) = Corpus.bpeTrainCore(docs, Corpus.BpeCutEvery,
        driverDictCap = 0L)
      val persisted = dN.persist()
      persisted.count()
      d0.unpersist()
      (t, persisted, c)
    }
    assert(tab.length == Corpus.BpeCutEvery)
    assert(cut.exists(spark.sparkContext.getPersistentRDDs.contains),
      s"the distributed trainer must pin its final cut: $cut")
    SessionCache.releaseScratch(spark)
    assert(!df.storageLevel.useMemory, "the scratch relation must be unpersisted")
    assert(!dict.storageLevel.useMemory, "the BPE dictionary must be unpersisted")
    assert(!cut.exists(spark.sparkContext.getPersistentRDDs.contains),
      "the BPE entry's lineage cut must be freed with it")
    // the entry is gone: the next call builds again
    assert(slot(spark, "k")(spark.range(3).toDF("x")).count() == 3)
  }

  test("releaseScratch leaves store entries in place") {
    val served = LexIndex.servedIndexPath(spark, Sf)
    StoreProtocol.hasParquet(spark, s"$served/tombstones")
    val misses0 = StoreProtocol.probeMisses.get
    SessionCache.releaseScratch(spark)
    assert(LexIndex.servedIndexPath(spark, Sf) == served,
      "the served lex store must survive a scratch release")
    StoreProtocol.hasParquet(spark, s"$served/tombstones")
    assert(StoreProtocol.probeMisses.get == misses0,
      "serve-path metadata must survive a scratch release")
  }

  test("invalidateStore drops the store and its subdirectories, not its siblings") {
    val computed = new AtomicInteger(0)
    def probe(path: String): Unit =
      StoreProtocol.cached(spark, path, "spec") { computed.incrementAndGet() }
    val paths = Seq("/a/b", "/a/b/x", "/a/bc")
    paths.foreach(probe)
    assert(computed.get == 3)
    StoreProtocol.invalidateStore("/a/b")
    paths.foreach(probe)
    assert(computed.get == 5, "only /a/b and /a/b/x must be re-probed")
  }

  test("a new session does not see another session's entries") {
    val slot = SessionCache.store[String, String]
    val other = spark.newSession()
    assert(slot(spark, "k")("first") == "first")
    assert(slot(other, "k")("second") == "second")
    assert(slot(spark, "k")("third") == "first")
  }

  test("no TrieMap under src/main/scala outside SessionCache.scala") {
    val offenders = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "SessionCache.scala" &&
        java.nio.file.Files.readString(p).contains("TrieMap"))
    assert(offenders.isEmpty, s"hand-rolled memos: ${offenders.mkString(", ")}")
  }
}
