package graft.ops

import org.apache.spark.sql.DataFrame

/** One policy for "cut lineage and pin this frame", shared by every
  * iterative/incremental op (connected components, PageRank, stable ids,
  * the incremental-dedup loops).
  *
  * Default is `localCheckpoint()`: executor-memory blocks — fastest, and
  * fine single-node. But local blocks DIE WITH AN EXECUTOR, and the
  * incremental ops build a commit-then-return contract on the pinned
  * frame — on a 1000-executor cluster, losing one mid-loop kills the
  * job or (worse) recomputes a frame the state commit already observed.
  * Setting the runtime conf `graft.checkpoint.dir` switches every
  * consulting op to RELIABLE `checkpoint()` against that path, with no
  * signature churn:
  *
  * {{{ spark.conf.set(Materialize.ConfKey, "hdfs://…/graft-ckpt") }}}
  */
object Materialize {
  /** Runtime-conf key: when set (non-empty), reliable checkpoints go to
    * this directory; when absent, `localCheckpoint()` is used. */
  val ConfKey = "graft.checkpoint.dir"

  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(ConfKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        spark.sparkContext.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }
  }
}
