package graft

import org.apache.spark.sql.DataFrame

/** The engine's one way to land an intermediate: materialize it eagerly
  * with its lineage truncated. Iterative operators (connected-components
  * contraction, Lloyd rounds, BFS / PageRank / HITS frontiers, crawl
  * waves) land per-round state so the composed plan stays flat instead of
  * growing until Catalyst analysis dominates; a shared input read by
  * several branches lands once so its upstream runs once.
  *
  * The durability tier is a deployment decision, taken from Spark's own
  * checkpoint dir (`spark.checkpoint.dir`, or `sc.setCheckpointDir`):
  *
  *  - no dir (local[*]): `localCheckpoint` — blocks live in executor
  *    storage. Fast; on a cluster an executor loss deletes them and the
  *    job that reads them dies.
  *  - a dir (HDFS / object storage): reliable `checkpoint` — the data is
  *    written there and task retries re-read it after any executor loss.
  *
  * Engine code never sets the dir: it is SparkContext-global, so one
  * operator setting it would silently switch every other one. */
object Land {
  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)
}
