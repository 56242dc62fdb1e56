package graft

/** The one bench label: the name of the query whose work is being timed,
  * read by both per-query accumulators
  * ([[streaming.StreamingJobs.TriggerTiming]] for streamed triggers,
  * [[FitTiming]] for the fit-once caches).
  *
  * Label contract (ADVICE r14): ONLY the sequential measuring caller
  * (Bench) may set `current` — it runs queries one at a time and awaits
  * each one synchronously, so one volatile label is race-free there.
  * Any other caller must leave it alone: concurrent work (two streams in
  * one JVM, non-bench harnesses) all accumulates under whatever label is
  * current — "untagged" by default — and per-query attribution of
  * concurrent work would be meaningless anyway. Engine results never
  * depend on this bookkeeping; it feeds only the bench artifact. */
object BenchLabel {
  @volatile var current: String = "untagged"
}
