package graft

import org.apache.spark.sql.SparkSession

package object streaming {
  /** Spark's conf naming the CheckpointFileManager implementation. */
  final val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Spark's per-session artifact isolation (default true). */
  final val ArtifactIsolationKey = "spark.sql.artifact.isolation.enabled"

  /** Graft's streaming defaults for `spark`, each set only if the user has
    * not set its key (setting it is the opt-out); every graft streaming
    * builder calls this.
    *  - Checkpoints go through [[LocalCheckpointFileManager]].
    *  - Artifact isolation is off. With it on, each query's cloned session
    *    gets its own executor classloader, and `CodeGenerator` caches per
    *    classloader, so every fresh query (a restart, an `AvailableNow`
    *    drain) compiled its classes again. With it off, jars added by
    *    `SparkSession.addArtifact` do not reach the query's tasks.
    * Unset is told by `getAll`: `getOption` reports the default `"true"`.
    */
  def install(spark: SparkSession): Unit = {
    val set = spark.conf.getAll
    if (!set.contains(CheckpointManagerKey))
      spark.conf.set(CheckpointManagerKey, classOf[LocalCheckpointFileManager].getName)
    if (!set.contains(ArtifactIsolationKey)) spark.conf.set(ArtifactIsolationKey, "false")
  }
}
