package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Holds pins until `release()`: a [[Pin]], or a handle built of pins. */
trait Pinned {
  def release(): Unit
}

/** A frame that reads the frames `pins` hold: release them once `frame`
  * has been consumed (earlier, its plan recomputes or, past a checkpoint,
  * fails). */
final case class Held(frame: DataFrame, pins: Pinned*) extends Pinned {
  def release(): Unit = Pin.release(pins: _*)
}

/** One pinned frame. `release()` frees exactly what pinning it took and
  * nothing `frame` was derived from; call it once nothing reads `frame`.
  */
final class Pin private (val frame: DataFrame, free: () => Unit)
    extends Pinned {
  def release(): Unit = free()

  /** `body` over the pinned frame, released once it returns or throws. */
  def use[A](body: DataFrame => A): A = try body(frame) finally release()
}

/** The one place graft pins and releases frames. */
object Pin {

  /** Cache `df` at MEMORY_AND_DISK, filled by its first action. A plan
    * already cached (by the caller, or by an equal frame) is used as it
    * is and never evicted: persist is a no-op on the owner's entry, so
    * unpersisting here would drop it.
    */
  def cache(df: DataFrame): Pin =
    if (df.storageLevel != StorageLevel.NONE) new Pin(df, () => ())
    else new Pin(df.persist(StorageLevel.MEMORY_AND_DISK),
      () => df.unpersist())

  /** `df.localCheckpoint(eager)`: eager runs one job now, lazy fills on
    * the first action. The release frees the checkpoint's blocks, which
    * `Dataset.unpersist` never does; unreleased, they are freed when the
    * plan is garbage-collected (so a checkpoint handed back needs none).
    */
  def checkpoint(df: DataFrame, eager: Boolean): Pin = {
    val cp = df.localCheckpoint(eager)
    new Pin(cp, () => cp.queryExecution.analyzed.collect {
      case r: LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false)))
  }

  def release(held: Pinned*): Unit = held.foreach(_.release())
}
