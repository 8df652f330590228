package graft.plans

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.CheckpointHandle

/** The one pin-and-release helper: every frame an operator persists or
  * lineage-truncates is pinned here, and this module decides how and when
  * it is freed. Operators never persist, truncate or queue a release on
  * [[ReleaseRegistry]] themselves.
  *
  * Two forms:
  *
  *  - One-shot pins ([[materialize]], [[materializeWith]], [[persist]]): a
  *    frame the returned plan reads, pinned behind a barrier (or lazily),
  *    with its release queued on the registry's safe tier. A barrier that
  *    throws unpersists the frame before the exception propagates, so a
  *    failed build queues nothing and pins nothing.
  *  - Scopes ([[scope]]): the iterative loops and temporary pins. A
  *    [[Scope]] tracks every frame it persists or truncates and frees a
  *    superseded generation by the means its kind needs (`unpersist` for a
  *    persisted frame, the checkpoint handle for a truncated one). When
  *    the body throws, everything tracked is freed. On normal exit the
  *    frames not handed off are freed; handed-off frames go to the
  *    registry ([[Scope.keep]]) or back to the caller as hooks
  *    ([[Scope.handOff]]).
  *
  * The paper's engine cannot strand per-round state because its
  * intermediates are files; here a pin is freed only by whoever holds its
  * release, so every pin is always held: by its scope, by the registry,
  * or by a hook the caller got back.
  */
object Pins {

  /** Persist `df`, count it as the materialization barrier and queue its
    * release on the registry's safe tier under `label`.
    */
  def materialize(label: String, df: DataFrame): (DataFrame, Long) =
    materializeWith(label, df)(_.count())

  /** [[materialize]] with a caller-chosen barrier (an aggregate that both
    * materializes the frame and yields the scalars the caller needs).
    */
  def materializeWith[A](label: String, df: DataFrame)(
      barrier: DataFrame => A): (DataFrame, A) = {
    val p = df.persist()
    val a = try barrier(p) catch {
      case NonFatal(t) => p.unpersist(blocking = false); throw t
    }
    queue(label)(() => p.unpersist(blocking = false))
    (p, a)
  }

  /** Persist `df` lazily (its first read materializes it) and queue its
    * release on the registry's safe tier under `label`.
    */
  def persist(label: String, df: DataFrame): DataFrame = {
    val p = df.persist()
    queue(label)(() => p.unpersist(blocking = false))
    p
  }

  /** Queue a release hook a `*Releasable` builder returned on the
    * registry's safe tier (the plain-`DataFrame` conveniences).
    */
  def queue(label: String)(hook: () => Unit): Unit =
    ReleaseRegistry.register(label)(hook)

  /** Run `body` with a fresh [[Scope]]. When the body throws, every frame
    * the scope still tracks, or handed off as a hook, is freed before the
    * exception propagates: no caller holds a hook for a failed build. On
    * normal exit the frames the body neither released nor handed off are
    * freed. Deferred hooks run on both paths.
    */
  def scope[A](body: Scope => A): A = {
    val s = new Scope
    val out = try body(s) catch {
      case NonFatal(t) =>
        try s.close(failed = true) catch { case NonFatal(c) => t.addSuppressed(c) }
        throw t
    }
    s.close(failed = false)
    out
  }

  /** A pinned frame and whether it is a checkpoint (truncated lineage:
    * its blocks are the data) or a plain persisted frame.
    */
  private final case class Pin(df: DataFrame, checkpoint: Boolean) {
    def free(): Unit =
      if (checkpoint) CheckpointHandle.release(df) else df.unpersist(blocking = false)
  }

  /** The pins of one loop or one temporary computation; see [[scope]]. */
  final class Scope private[Pins] {
    private val live = ArrayBuffer.empty[Pin]
    private val hooked = ArrayBuffer.empty[Pin]
    private val deferred = ArrayBuffer.empty[() => Unit]

    private def track(df: DataFrame, checkpoint: Boolean): DataFrame = {
      live += Pin(df, checkpoint)
      df
    }

    private def untrack(df: DataFrame): Option[Pin] = {
      val i = live.indexWhere(_.df eq df)
      if (i < 0) None else Some(live.remove(i))
    }

    /** Persist `df` lazily; tracked until released or handed off. */
    def persist(df: DataFrame): DataFrame = track(df.persist(), checkpoint = false)

    /** Persist `df` and count it as the materialization barrier. */
    def materialize(df: DataFrame): (DataFrame, Long) = {
      val p = persist(df)
      (p, p.count())
    }

    /** Eagerly truncate `df`'s lineage ([[Checkpoints.truncate]]). */
    def truncate(df: DataFrame): DataFrame =
      track(Checkpoints.truncate(df), checkpoint = true)

    /** Free a superseded generation now, by the means its kind needs. A
      * frame this scope does not track (never pinned here, or already
      * released) is left alone, so releasing twice is harmless.
      */
    def release(df: DataFrame): Unit = untrack(df).foreach(_.free())

    /** Run `hook` when the scope exits, normally or not (the release hook
      * of a nested builder whose result this scope consumes).
      */
    def defer(hook: () => Unit): Unit = deferred += hook

    /** Hand `dfs` off to the registry under `label`: a persisted frame to
      * the safe tier, a checkpoint to the invalidating tier.
      */
    def keep(label: String, dfs: DataFrame*): Unit =
      dfs.flatMap(untrack).foreach { p =>
        if (p.checkpoint) ReleaseRegistry.registerInvalidating(label)(() => p.free())
        else ReleaseRegistry.register(label)(() => p.free())
      }

    /** Hand `dfs` off to the caller as `(release, releaseAll)`: `release`
      * frees the persisted frames (safe: their lineage stays intact);
      * `releaseAll` frees the checkpoints too, after which plans reading
      * them cannot run. The checkpoints are also queued on the registry's
      * invalidating tier under `label`, so a host that drains never
      * carries them even when the caller only ever calls `release`.
      */
    def handOff(label: String, dfs: DataFrame*): (() => Unit, () => Unit) = {
      val pins = dfs.flatMap(untrack)
      hooked ++= pins
      val (checkpoints, persisted) = pins.partition(_.checkpoint)
      checkpoints.foreach(p => ReleaseRegistry.registerInvalidating(label)(() => p.free()))
      val release: () => Unit = () => persisted.foreach(_.free())
      (release, () => { release(); checkpoints.foreach(_.free()) })
    }

    private[Pins] def close(failed: Boolean): Unit = {
      try (if (failed) live ++ hooked else live).foreach(_.free())
      finally deferred.foreach(_())
    }
  }
}
