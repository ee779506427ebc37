package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The train-once memo's contract (round-10): one fit per live key,
  * LRU-bounded, and — the round-9 ADVICE fix — fits run OUTSIDE the
  * map monitor, so concurrent different-key fits proceed in parallel
  * while same-key racers share one fit. */
class SessionCacheSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
  }

  override def afterAll(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  test("computes once per key, returns the memo afterwards") {
    val c = new SessionCache[Int]()
    val fits = new AtomicInteger
    def get(k: String) = c.getOrCompute(spark, k) { fits.incrementAndGet(); k.length }
    assert(get("aa") == 2 && get("aa") == 2 && get("bbb") == 3)
    assert(fits.get == 2, "second same-key access must hit the memo")
  }

  test("LRU eviction refits the oldest key only") {
    val c = new SessionCache[Int](maxEntries = 2)
    val fits = new AtomicInteger
    def get(k: String) = c.getOrCompute(spark, k) { fits.incrementAndGet() }
    get("a"); get("b"); get("a") // LRU order now: b, a
    get("c")                     // evicts b
    assert(fits.get == 3)
    get("a")                     // still memoized
    assert(fits.get == 3)
    get("b")                     // was evicted: refits
    assert(fits.get == 4)
  }

  test("same-key racers share ONE fit; different keys fit in parallel") {
    val c = new SessionCache[Int]()
    val fits = new AtomicInteger
    val slowEntered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = new Thread(() => c.getOrCompute(spark, "slow") {
      fits.incrementAndGet(); slowEntered.countDown()
      release.await(30, TimeUnit.SECONDS); 1
    })
    slow.start()
    assert(slowEntered.await(10, TimeUnit.SECONDS), "slow fit must start")
    // a DIFFERENT key must complete while the slow fit is still held
    // open — the round-9 ADVICE shape (fit under one global monitor)
    // would deadlock-or-serialize exactly here
    val fast = c.getOrCompute(spark, "fast") { fits.incrementAndGet(); 2 }
    assert(fast == 2, "different-key fit must not wait on the slow one")
    // a SAME-key racer blocks on the holder and then shares the result
    val racerGot = new AtomicInteger
    val racer = new Thread(() => racerGot.set(c.getOrCompute(spark, "slow") {
      fits.incrementAndGet(); -1
    }))
    racer.start()
    release.countDown()
    slow.join(30000); racer.join(30000)
    assert(racerGot.get == 1, "same-key racer must receive the shared fit")
    assert(fits.get == 2, s"exactly 2 fits (slow, fast; no racer refit): ${fits.get}")
  }

  test("clear() drops every memo") {
    val c = new SessionCache[Int]()
    val fits = new AtomicInteger
    c.getOrCompute(spark, "k") { fits.incrementAndGet() }
    c.clear()
    c.getOrCompute(spark, "k") { fits.incrementAndGet() }
    assert(fits.get == 2)
  }

  test("onEvict fires on LRU eviction; onClear fires only from clear()") {
    val ev = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val cl = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val c = new SessionCache[Int](maxEntries = 1,
      onEvict = v => { ev.add(v); () }, onClear = v => { cl.add(v); () })
    c.getOrCompute(spark, "a")(1)
    c.getOrCompute(spark, "b")(2) // evicts a
    assert(ev.toArray.toList == List(1), "LRU eviction must run onEvict")
    assert(cl.isEmpty, "onClear must NOT run on LRU eviction — releasing " +
      "a checkpoint under a possibly-live frame is the unsafe case")
    c.clear() // releases b through both hooks
    assert(ev.toArray.toList == List(1, 2))
    assert(cl.toArray.toList == List(2))
  }

  test("holder evicted mid-build is released by the builder (round-13 ADVICE)") {
    val ev = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val c = new SessionCache[Int](maxEntries = 1, onEvict = v => { ev.add(v); () })
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val t = new Thread(() => c.getOrCompute(spark, "slow") {
      entered.countDown(); release.await(30, TimeUnit.SECONDS); 7
    })
    t.start()
    assert(entered.await(10, TimeUnit.SECONDS), "slow fit must start")
    c.getOrCompute(spark, "other")(1) // evicts slow's UNFORCED holder
    assert(ev.isEmpty, "eviction pass must skip the unforced holder")
    release.countDown(); t.join(30000)
    assert(ev.toArray.toList == List(7),
      "the mid-build-evicted fit must release its own value on completion")
  }

  test("put seeds a key; a replaced value leaves through onEvict") {
    val ev = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val c = new SessionCache[Int](maxEntries = 2, onEvict = v => { ev.add(v); () })
    c.put(spark, "a", 1)
    assert(c.getOrCompute(spark, "a")(-1) == 1, "a seeded key must serve the seed")
    c.put(spark, "a", 2)
    assert(ev.toArray.toList == List(1), "the replaced value must run onEvict")
    c.put(spark, "b", 3)
    c.put(spark, "c", 4) // evicts a, the LRU head
    assert(c.keys(spark) == List("b", "c"))
    assert(ev.toArray.toList == List(1, 2))
  }
}
