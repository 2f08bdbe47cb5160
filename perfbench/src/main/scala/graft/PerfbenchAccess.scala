package graft

/** The engine's between-query release of its materialized relations is
  * package-private; the benchmark calls it between ops, as `Bench` does. */
object PerfbenchAccess {
  def releaseMaterialized(): Unit = operators.Dedup.releaseMaterialized()
}
