package graft.streaming

import org.apache.spark.sql.SparkSession

/** Session-conf hygiene for the three state-store settings graft touches.
  * Spark resolves the state-store provider (and the RocksDB auxiliary
  * knobs) from the SESSION conf at query start, so choosing a provider
  * means mutating session state before the query starts. No engine
  * builder does that; the choosers are `api.Pipeline` (its
  * `state_store_provider` field, RocksDB by default for window pipelines)
  * and the env knobs of a few bounded catalog entries.
  *
  * The contract: a bounded run that sets a provider wraps the set, the
  * build and the run in [[withSaved]], which restores ALL THREE keys —
  * set or unset — to their entry values, so later streaming queries in
  * the session keep their own provider. Long-lived product paths
  * (api.Pipeline specs) cannot restore (the query outlives the call) and
  * instead document the session-level effect.
  */
object StateStoreConf {
  val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
  val TrackRowsKey =
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
  val Keys: Seq[String] = Seq(ProviderKey, ChangelogKey, TrackRowsKey)

  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  val HdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  def snapshot(spark: SparkSession): Seq[(String, Option[String])] =
    Keys.map(k => k -> spark.conf.getOption(k))

  def restore(spark: SparkSession, saved: Seq[(String, Option[String])]): Unit =
    saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }

  /** Runs `f`, then restores the three state-store confs to their values on
    * entry — whatever `f` set. `f` must both START and DRAIN/STOP any
    * streaming query that depends on them:
    * the confs are consulted at query start, so restoring while a query
    * `f` launched is still running would be a different bug. */
  def withSaved[T](spark: SparkSession)(f: => T): T = {
    val saved = snapshot(spark)
    try f finally restore(spark, saved)
  }

  /** RocksDB provider + the two measured fast-commit knobs: changelog
    * checkpointing (commit the per-batch delta, snapshot in background)
    * and trackTotalNumberOfRows=false (exact per-store row counts cost a
    * get per put/delete and the engines never read them). */
  def setRocksDb(spark: SparkSession): Unit = {
    spark.conf.set(ProviderKey, RocksDbProvider)
    spark.conf.set(ChangelogKey, "true")
    spark.conf.set(TrackRowsKey, "false")
  }
}
