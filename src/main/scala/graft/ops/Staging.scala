package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.{DataFrame, SaveMode}

/** The one place an intermediate frame is materialized and freed.
  *
  * Lifecycle: an operator [[stage]]s a frame that several consumers
  * re-read, then frees it with [[release]] (that stage) or [[releaseDeep]]
  * (every stage a derived frame reads) once nothing lazy still needs it.
  * A stage that escapes inside an operator's lazy result is freed by the
  * caller with `releaseDeep(result)` (in the default mode the
  * ContextCleaner also frees it once the result is unreachable; a durable
  * table left unreleased stays until its directory is deleted).
  *
  * The mechanism is chosen per session by `spark.graft.staging.dir`
  * (`--conf`, `SparkSession.conf.set`, or a `-Dspark.graft.staging.dir`
  * JVM property):
  *  - unset (default): `localCheckpoint` — one eager in-memory
  *    materialization with truncated lineage. Release unpersists its
  *    blocks (`Dataset.unpersist` cannot: the LogicalRDD pins them). Not
  *    fault-tolerant: a lost executor loses the blocks, and the job.
  *  - set: a parquet table `<dir>/<pid>-<seq>-<name>` written and read
  *    back at that path, durable across executor
  *    loss at the cost of one table write per stage. Release deletes the
  *    table; Staging deletes only tables it wrote itself.
  *
  * Either way a stage is a leaf of every plan that reads it, so
  * [[releaseDeep]] never walks into a stage's own lineage.
  */
private[graft] object Staging {

  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Durable tables written by [[stage]] and not yet deleted. */
  private val tables = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  /** Materialize `df` once for multi-consumer reuse. `name` labels the
    * durable table; uniqueness comes from pid + a process-wide sequence.
    */
  def stage(df: DataFrame, name: String): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.staging.dir")
      .filter(_.nonEmpty) match {
      case None => df.localCheckpoint()
      case Some(dir) =>
        val table =
          s"$dir/${ProcessHandle.current().pid()}-${seq.incrementAndGet()}-$name"
        df.write.mode(SaveMode.ErrorIfExists).parquet(table)
        val staged = df.sparkSession.read.parquet(table)
        tableRoots(staged.queryExecution.analyzed).foreach(tables.add)
        staged
    }

  /** Free `df` if it is itself a stage; no-op for any other frame, even
    * one derived from a stage.
    */
  def release(df: DataFrame): Unit = free(df, df.queryExecution.analyzed)

  /** Free every stage `df`'s plan reads — for callers holding only a frame
    * derived from stages. Only safe once nothing lazy still needs them.
    */
  def releaseDeep(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach(free(df, _))

  private def tableRoots(plan: LogicalPlan): Seq[Path] = plan match {
    case r: LogicalRelation => r.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths
      case _ => Nil
    }
    case _ => Nil
  }

  private def free(df: DataFrame, node: LogicalPlan): Unit = node match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
      tableRoots(node).filter(tables.remove).foreach { p =>
        p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
  }
}
