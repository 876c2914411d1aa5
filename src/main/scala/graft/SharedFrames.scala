package graft

/** Registry of persistent-RDD ids that back SESSION-SCOPED shared
  * frames — materialized intermediates an operator family deliberately
  * shares across entry invocations within one process (the multimodal
  * decode is the first user). The per-entry sweep
  * ([[Harness.scoped]]) consults this registry GENERICALLY instead of
  * special-casing any entry family. Bench spares registered ids: a
  * timing run measures the suite as a production process runs it, one
  * shared decode, and every unregistered leak is still released.
  * Verify and ProbeJobs do NOT spare them: their sweep releases shared
  * frames too, so every gated entry recomputes its standalone form
  * under the oracle and every probed rep pays its own cost (the
  * owner's liveness check then rebuilds on next use). Nothing here
  * persists across JVM runs. */
object SharedFrames {
  private val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  def register(id: Int): Unit = { ids.add(id); () }
  def unregister(id: Int): Unit = { ids.remove(id); () }
  def contains(id: Int): Boolean = ids.contains(id)
}
