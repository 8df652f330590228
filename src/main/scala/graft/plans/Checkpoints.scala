package graft.plans

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.CheckpointHandle

/** Lineage truncation for the iterative operators (rank loops, label
  * propagation, k-core peeling), with a durability knob.
  *
  * Default: eager `localCheckpoint` — fast (copies the already-cached
  * blocks executor-locally) but the blocks die with an executor, so on a
  * real cluster a lost executor kills the whole iteration (the truncated
  * lineage cannot recompute). The reference engine never has this failure
  * mode: its per-round intermediates are disk files by construction
  * (`/root/reference/src/file_distributor/iwriter.hh:139-241`, replayed on
  * fetch by `fileserver.hh:3057-3086`).
  *
  * Setting [[Checkpoints.DirKey]] (`graft.checkpoint.dir`) on the session
  * conf routes truncation through RELIABLE `Dataset.checkpoint()` instead:
  * each round's frame is written to the configured Hadoop-FS directory
  * (HDFS/S3 on a cluster), so executor loss costs one re-read, not the
  * run. The trade is an extra distributed write per round — worth it
  * exactly when rounds are expensive enough that replaying them is worse,
  * i.e. at the 100 TB north star.
  */
object Checkpoints {

  /** Session-conf key: a writable Hadoop-FS directory URI. When set (and
    * non-empty), [[truncate]] uses reliable checkpoints under it; unset,
    * truncation is executor-local. Runtime-settable
    * (`spark.conf.set(...)`) — each truncate call re-reads it.
    */
  val DirKey = "graft.checkpoint.dir"

  // last dir routed to SparkContext.setCheckpointDir — setCheckpointDir
  // mints a fresh UUID subdir per call, so only re-set on actual change
  private val lastDir = new AtomicReference[String](null)

  /** The configured reliable-checkpoint dir, if any. */
  def reliableDir(spark: SparkSession): Option[String] =
    spark.conf.getOption(DirKey).filter(_.nonEmpty)

  /** Eagerly materialize `df` with truncated lineage: reliable
    * `checkpoint()` when [[DirKey]] is set, `localCheckpoint` otherwise.
    * Either way the result is a constant-depth `LogicalRDD` plan.
    * Operators reach this only through [[Pins.Scope.truncate]], which
    * tracks the result as a checkpoint pin: the scope frees a superseded
    * generation by its handle (a no-op for the reliable form, whose data
    * is checkpoint FILES cleaned with the SparkContext), and hands the
    * final one to the registry's invalidating tier or to the caller. A
    * materialization that fails leaves no RDD of its own persisted
    * ([[org.apache.spark.sql.graft.CheckpointHandle.releasingOnFailure]]).
    */
  def truncate(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    CheckpointHandle.releasingOnFailure(spark.sparkContext) {
      reliableDir(spark) match {
        case Some(dir) =>
          if (lastDir.getAndSet(dir) != dir)
            spark.sparkContext.setCheckpointDir(dir)
          df.checkpoint()
        case None => df.localCheckpoint(eager = true)
      }
    }
  }
}
