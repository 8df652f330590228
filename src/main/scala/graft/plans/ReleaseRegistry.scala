package graft.plans

import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.control.NonFatal

/** Session-scoped registry of release hooks for state that operators pin
  * (persisted frames, localCheckpoint blocks, broadcasts) on behalf of the
  * plans they return.
  *
  * Why it exists: many operators MUST materialize intermediate state behind
  * the plan they hand back — iterative label/rank tables, trained codebooks,
  * sketch register tables, range-partitioned prefix-sum inputs. The returned
  * `DataFrame` reads that state, so the operator has no safe unpersist point
  * of its own; before this registry each invocation stranded its pinned
  * frames for the session lifetime. One-shot jobs never notice; a long-lived
  * service session (the 100 TB posture — and the bench harness, which runs
  * every query 5x in one JVM) accumulates hundreds of pinned frames and the
  * executors' storage memory slowly becomes a graveyard (measured:
  * `dedup_resolve` run times grew 12.5 → 31 → 48 s across three invocations
  * in one session before this existed).
  *
  * Contract: operators never register here themselves; [[Pins]] does,
  * at plan-construction time, for every pin it hands off (one-shot pins,
  * a scope's [[Pins.Scope.keep]] and the checkpoints behind a
  * [[Pins.Scope.handOff]]). The session host drains AFTER materializing
  * the results of the current batch of work (`Bench`/`Verify` drain after
  * every sink write; services drain at request boundaries). Two tiers:
  *
  *  - [[register]] — SAFE hooks: running them unpersists cached frames whose
  *    lineage stays intact, so a later re-read of the returned plan is slow
  *    but correct.
  *  - [[registerInvalidating]] — hooks that free checkpoint blocks. A
  *    checkpoint's blocks ARE the data (lineage is truncated), so after
  *    running these the plans that read them CANNOT be re-executed — the
  *    caller must be done with every outstanding result, or re-invoke the
  *    builder. `drain(full = false)` leaves this tier queued.
  *
  * Hooks must be idempotent (unpersist already is). A hook that throws a
  * non-fatal exception is reported on stderr with its label and the drain
  * goes on with the rest; a fatal error propagates, with the hooks not yet
  * run still queued. Queue, not map: the same logical operator invoked
  * twice registers twice, and both invocations' state must release.
  */
object ReleaseRegistry {
  final case class Hook(label: String, invalidating: Boolean, run: () => Unit)

  private val hooks = new ConcurrentLinkedQueue[Hook]()

  /** Register a safe release hook (frame stays recomputable after). */
  def register(label: String)(run: () => Unit): Unit =
    hooks.add(Hook(label, invalidating = false, run))

  /** Register a hook that frees checkpoint blocks — after it runs, plans
    * reading that checkpoint are permanently invalid (re-invoke the
    * builder instead of re-reading the frame).
    */
  def registerInvalidating(label: String)(run: () => Unit): Unit =
    hooks.add(Hook(label, invalidating = true, run))

  /** Number of queued hooks (soak tests assert this returns to 0). */
  def pending: Int = hooks.size

  /** Labels of queued hooks, registration order (diagnostics). */
  def pendingLabels: Seq[String] = {
    val b = Seq.newBuilder[String]
    hooks.forEach(h => b += h.label)
    b.result()
  }

  /** Run and remove queued hooks; returns how many ran. `full = false`
    * runs only the safe tier and leaves invalidating hooks queued (for a
    * host that wants to trim cache pressure while keeping outstanding
    * checkpoint-backed results readable).
    */
  def drain(full: Boolean = true): Int = {
    var ran = 0
    val requeue = List.newBuilder[Hook]
    try {
      var h = hooks.poll()
      while (h != null) {
        if (h.invalidating && !full) requeue += h
        else {
          try h.run() catch {
            case NonFatal(t) => Console.err.println(
              s"ReleaseRegistry: release hook '${h.label}' failed: " +
                s"${t.getClass.getName}: ${t.getMessage}")
          }
          ran += 1
        }
        h = hooks.poll()
      }
    } finally requeue.result().foreach(hooks.add) // skipped hooks, in order
    ran
  }
}
