package graft.intel

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

import scala.reflect.ClassTag

/** Executor-shared handle for compiled lookup structures (IntelDb arrays,
  * clean-turn screens) carried by Catalyst expressions.
  *
  * Embedding the structure directly in the expression ships it inside the
  * serialized task binary, so EVERY TASK deserializes the full compiled db
  * — measured 2.1 s/task for a 100k-glob database (the same 200k
  * lookups took 136 s at 64 partitions vs 2.5 s at 4). At 10^12-turn scale
  * with millions of tasks that per-task tax dominates all real work. The
  * reference's process model is "load the .mxy once, mmap it everywhere"
  * (bin/match_processor); the Spark analog is a Broadcast: one
  * deserialization per EXECUTOR, cached by the BlockManager, fetched
  * torrent-style instead of from the driver per task.
  *
  * `auto` broadcasts when a session is active (every pipeline/driver
  * path); the inline fallback keeps expression construction working in
  * sessionless unit tests — there the value rides the task binary exactly
  * as before, which is correct albeit per-task (local JVM, cheap).
  */
final class BcHandle[T] private (
    private val inline: T,
    private val bc: Broadcast[T]
) extends Serializable {
  @inline def get: T = if (bc != null) bc.value else inline
}

object BcHandle {
  def auto[T: ClassTag](v: T): BcHandle[T] =
    SparkSession.getActiveSession match {
      case Some(s) if !s.sparkContext.isStopped =>
        new BcHandle(null.asInstanceOf[T], s.sparkContext.broadcast(v))
      case _ => new BcHandle(v, null)
    }

  /** Always-inline form (tests that assert serialization shape). */
  def inline[T](v: T): BcHandle[T] = new BcHandle(v, null)
}
