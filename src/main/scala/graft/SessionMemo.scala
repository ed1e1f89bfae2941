package graft

import org.apache.spark.sql.SparkSession

/** Session-landed frame memo — THE retention contract for every frame or
  * value the engine lands once from a data dir (shingle groups, pairs,
  * k-means state, labels, co-purchase counts, BPE merges, CT profiles,
  * the WARC slice index) and for `io.Layout.landOnce`'s folders.
  *
  * Key: every landing is keyed on `io.Layout.landingKey` of its dir — the
  * canonical path, the (path, length, mtime) state of its files and the
  * checkpoint dir — so a table rewritten at the same path, or a
  * checkpoint dir set after a local-checkpoint landing, lands again
  * instead of serving the older build. Memos enter through [[getOrLand]],
  * which adds the session and a `part` for any build parameter beyond the
  * dir; `landOnce` adds the application id and the folder name instead,
  * because its folder outlives a session.
  *
  * Contract:
  *  - entries are CACHES of deterministic builds — dropping one costs a
  *    rebuild on next use, never correctness;
  *  - retention is bounded: a memo that reaches [[SessionMemos.MaxEntries]]
  *    keys is cleared wholesale before admitting the next entry (the
  *    harness hosts hold 1–2 keys per memo; the bound exists for
  *    long-lived multi-session hosts, where unbounded (session, dir)
  *    key growth — and the SparkSession strongly referenced from each
  *    key — was a leak);
  *  - a long-lived host should additionally call
  *    [[SessionMemos.clearAll]] when it stops a session, releasing the
  *    landed blocks' references immediately instead of at the cap.
  *
  * A memo constructed with a non-empty `name` reports each build's
  * wall-clock seconds to [[SessionMemos.drainBuildSecs]] (accumulated per
  * name across keys), which Bench folds into the artifact's `landings`
  * map — the warmup-absorbed cost of landing scored pairs / shingle
  * groups / labels / CT profiles is a NUMBER in the record, the same way
  * bucketed-table landings already are (r13 verdict task 8). A build
  * that calls another named memo's first build nests: the outer entry
  * includes the inner seconds (visibility, not double-charged wall time —
  * the artifact reader sums landings knowing outer ⊇ inner on first use).
  */
final class SessionMemo[K, V](name: String = "") {
  private val m = new java.util.concurrent.ConcurrentHashMap[K, V]()
  SessionMemos.register(this)

  /** The dir-keyed door (see the class doc): one entry per (session,
    * `io.Layout.landingKey(spark, dir)`, `part`). */
  def getOrLand(spark: SparkSession, dir: String, part: Any = ())(build: => V)(
      implicit asKey: SessionMemos.DirKey <:< K): V =
    getOrCompute(asKey((spark, io.Layout.landingKey(spark, dir), part)))(_ => build)

  def getOrCompute(k: K)(build: K => V): V = {
    if (m.size >= SessionMemos.MaxEntries && !m.containsKey(k)) m.clear()
    m.computeIfAbsent(k, key => {
      val t0 = System.nanoTime()
      val v = build(key)
      if (name.nonEmpty)
        SessionMemos.recordBuild(name, (System.nanoTime() - t0) / 1e9)
      v
    })
  }

  /** Point-in-time key set (weakly consistent, like the underlying map's
    * iterator) — for registries that enumerate what they vouch for
    * (Dist's sizedBroadcast approvals). */
  private[graft] def snapshotKeys: Set[K] = {
    val b = Set.newBuilder[K]
    m.keySet().forEach(k => b += k)
    b.result()
  }

  private[graft] def clear(): Unit = m.clear()
}

object SessionMemos {
  /** Max keys per memo before a wholesale clear — far above any
    * single-host working set (one key per landed dir state). */
  val MaxEntries = 64

  /** The key of the [[SessionMemo.getOrLand]] door. */
  type DirKey = (SparkSession, io.Layout.LandingKey, Any)

  private val all =
    new java.util.concurrent.CopyOnWriteArrayList[SessionMemo[_, _]]()

  private[graft] def register(memo: SessionMemo[_, _]): Unit = all.add(memo)

  /** Build seconds accumulated per memo NAME (see class doc) — drained by
    * Bench into the artifact's `landings` map as `memo_<name>` entries. */
  private val buildSecs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  private[graft] def recordBuild(name: String, secs: Double): Unit =
    buildSecs.merge(name, java.lang.Double.valueOf(secs),
      (a, b) => java.lang.Double.valueOf(a.doubleValue + b.doubleValue))

  def drainBuildSecs(): Map[String, Double] = {
    val out = scala.collection.mutable.Map[String, Double]()
    val it = buildSecs.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); out(e.getKey) = e.getValue.doubleValue }
    buildSecs.clear()
    out.toMap
  }

  /** Release every session-landed frame reference (see class contract).
    * Safe at any time: memos rebuild on demand. */
  def clearAll(): Unit = all.forEach(_.clear())
}
