package graft

/** Per-query CACHE attribution for the batch fit-once caches (VERDICT
  * r14 Missing #2 — the streamed queries got per-trigger work-vs-wait
  * attribution in round 14 through StreamingJobs.TriggerTiming; this is
  * the same discipline for the batch side's fitted-model and
  * materialized-relation caches: the BPE model/encoded-corpus pair, the
  * tf/lens forward index, the IVF/LSH fitted models, the hybrid fanout
  * gate's measured batch statistic).
  *
  * Every instrumented cache site routes through [[cachedOrFit]], which
  * records a HIT (the cached value served) or a FIT (the body ran —
  * model fitted, relation materialized or loaded from the store) with
  * its wall nanos, accumulated per label. Bench tags each query before
  * its repeats and emits `caches: {q: {hits, fits, fit_sec}}` into the
  * bench artifact, so a cross-round swing on a cache-backed query
  * classifies from the artifacts alone (tools/bench_diff.py's cold-fit
  * rule): identical (hits, fits) with flat fit_sec ⇒ the swing is host
  * load on identical work; a fits delta ⇒ one run paid a cold fit the
  * other did not. Lookups are keyed by [[BenchLabel]] (its label
  * contract applies). */
object FitTiming {
  // label -> (hits, fits, fitNanos)
  private val acc = scala.collection.concurrent.TrieMap
    .empty[String, (Long, Long, Long)]

  private def add(hits: Long, fits: Long, nanos: Long): Unit = {
    val l = BenchLabel.current
    val (h, f, n) = acc.getOrElse(l, (0L, 0L, 0L))
    acc.update(l, (h + hits, f + fits, n + nanos))
  }

  /** getOrElseUpdate with attribution: a present key records a hit, a
    * computed one records a fit with its wall nanos. The compute runs
    * under the map's own getOrElseUpdate, so racing callers still
    * resolve to one stored value (both may run the body, TrieMap
    * semantics — unchanged from the uninstrumented sites). */
  def cachedOrFit[K, V](cache: scala.collection.concurrent.TrieMap[K, V],
      key: K)(body: => V): V =
    cache.get(key) match {
      case Some(v) => add(1, 0, 0); v
      case None =>
        val t0 = System.nanoTime()
        val v = cache.getOrElseUpdate(key, body)
        add(0, 1, System.nanoTime() - t0)
        v
    }

  def snapshot: Map[String, (Long, Long, Long)] = acc.toMap
  def reset(): Unit = acc.clear()
}
