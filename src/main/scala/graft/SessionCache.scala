package graft

import org.apache.spark.sql.SparkSession

/** Session-keyed train-once memo — the shared mechanics behind every
  * build-once stage (the DSIR weights, LM scores, ANN indexes, dedup
  * pairs et al.): at most
  * [[maxEntries]] live (session, key) entries, stopped sessions purged
  * on every access, LRU eviction.
  *
  * The fit itself runs OUTSIDE the map monitor: entries publish as
  * lazily-forced holders, so the monitor is held only for map
  * bookkeeping. Two threads racing the SAME key share one fit (the
  * holder's lazy val synchronizes on the holder alone), while fits for
  * different keys proceed in parallel — round-9 ADVICE flagged the
  * previous shape, which executed the full featurization scan and
  * driver collect while holding one global lock, serializing every
  * concurrent session through one fit. Stopped-session purging also
  * drops the strong SparkSession references the ADVICE noted.
  *
  * Two release hooks, split by safety (round-13 ADVICE: one hook
  * overstated what it could do):
  *
  *   - [[onEvict]] runs for every FORCED value leaving the cache — LRU
  *     eviction or [[clear]]. Safe only for releases that a still-held
  *     reference survives, i.e. `.persist()`'d frames: unpersisting one
  *     under a live consumer merely recomputes. It is a NO-OP for
  *     localCheckpoint-backed frames — `Dataset.unpersist` routes
  *     through the CacheManager, which has no entry for a checkpoint's
  *     LogicalRDD plan — so checkpoint storage must NOT be released
  *     here anyway: dropping the checkpoint RDD's blocks under a frame
  *     some caller still executes breaks that execution outright.
  *   - [[onClear]] runs ONLY from [[clear]] (after onEvict), where the
  *     caller asserts every consumer is done — the `clear*` hooks
  *     (the benchmark clears before every job). This is where
  *     checkpoint-backed caches release their storage via the
  *     underlying RDD (the Dedup.releaseCheckpoint pattern); LRU
  *     eviction stays drop-only for them, leaving mid-flight frames to
  *     the context cleaner.
  *
  * Unforced holders evict silently (nothing was built), and
  * stopped-session purges skip both hooks (their blocks died with the
  * context). Hooks run outside the map monitor, at most once per
  * holder. A holder evicted while its fit is mid-build is released by
  * the builder itself once the fit completes (the post-build re-check
  * below — round-13 ADVICE: the eviction pass saw forced=false and
  * skipped it, leaking the storage). The one tolerated residual: a
  * CHECKPOINT-backed holder evicted mid-build by clear() gets onEvict
  * but not onClear from the re-check (its storage falls to the context
  * cleaner) — releasing a checkpoint outside the clear window can't be
  * proven safe from here.
  */
final class SessionCache[V](val maxEntries: Int = 4,
    onEvict: V => Unit = (_: V) => (),
    onClear: V => Unit = (_: V) => ()) {
  private final class Holder(val stamp: String, build: () => V) {
    @volatile var forced = false
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    lazy val value: V = { val v = build(); forced = true; v }
  }

  private val m =
    scala.collection.mutable.LinkedHashMap[(SparkSession, String), Holder]()

  private def runHook(h: Holder, hook: V => Unit): Unit =
    try hook(h.value)
    catch { case scala.util.control.NonFatal(_) => () }

  /** At most one release per holder, however many paths race to it. */
  private def evictHook(h: Holder, clearing: Boolean = false): Unit =
    if (h.forced && h.released.compareAndSet(false, true)) {
      runHook(h, onEvict)
      if (clearing) runHook(h, onClear)
    }

  /** Map bookkeeping under the monitor: purge stopped sessions, map
    * (s, key) to `pick(previous holder)` as the most recent entry and
    * trim to the bound. The hooks of whatever left run after the
    * monitor is released. */
  private def touch(s: SparkSession, key: String)(pick: Option[Holder] => Holder)
      : Holder = {
    val evicted = List.newBuilder[Holder]
    val h = m.synchronized {
      m.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      val prev = m.remove((s, key))
      val hh = pick(prev)
      prev.filterNot(_ eq hh).foreach(evicted += _)
      m.put((s, key), hh)
      while (m.size > maxEntries) {
        evicted += m.head._2
        m.remove(m.head._1)
      }
      hh
    }
    evicted.result().foreach(evictHook(_))
    h
  }

  /** The value of (s, key), built on a miss. `stamp` fingerprints the
    * input the value was built from (e.g. [[Tables.fingerprint]]): an
    * entry stamped differently is stale, leaves through the eviction
    * path (its hooks run) and is rebuilt. */
  def getOrCompute(s: SparkSession, key: String, stamp: String = "")(build: => V): V = {
    // re-insert on hit = LRU order; a miss reserves the slot with an
    // unforced holder so a concurrent same-key caller joins this fit
    val h = touch(s, key)(_.filter(_.stamp == stamp).getOrElse(new Holder(stamp, () => build)))
    val v = h.value
    // evicted mid-build? the eviction pass saw forced=false and skipped
    // the hook — the builder releases its own orphaned value
    val stillMapped = m.synchronized(m.get((s, key)).contains(h))
    if (!stillMapped) evictHook(h)
    v
  }

  /** Seed (s, key) with an already-built value. A value it replaces
    * leaves through the eviction path (onEvict only). */
  def put(s: SparkSession, key: String, v: V): Unit = {
    val h = new Holder("", () => v)
    h.value
    touch(s, key)(_ => h)
    ()
  }

  /** Keys mapped for `s`, least recently used first — spec hook. */
  private[graft] def keys(s: SparkSession): Seq[String] =
    m.synchronized(m.keys.collect { case (sess, k) if sess eq s => k }.toList)

  def clear(): Unit = {
    val all = m.synchronized {
      val vs = m.values.toList
      m.clear()
      vs
    }
    all.foreach(evictHook(_, clearing = true))
  }
}
