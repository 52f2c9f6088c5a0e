package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.FileFormat
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation

package object streaming {
  /** Spark's conf naming the CheckpointFileManager implementation. */
  final val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Spark's per-session artifact isolation (default true). */
  final val ArtifactIsolationKey = "spark.sql.artifact.isolation.enabled"

  /** Spark's path count above which a file listing runs as a Spark job (default 32). */
  final val ListingThresholdKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** Graft's streaming defaults for the session of `input`, each set only if
    * the user has not set its key (setting it is the opt-out); every graft
    * streaming builder calls this with its input DataFrames.
    *  - Checkpoints go through [[LocalCheckpointFileManager]].
    *  - Artifact isolation is off. With it on, each query's cloned session
    *    gets its own executor classloader, and `CodeGenerator` caches per
    *    classloader, so every fresh query (a restart, an `AvailableNow`
    *    drain) compiled its classes again. With it off, jars added by
    *    `SparkSession.addArtifact` do not reach the query's tasks.
    *  - File listings stay on the driver, but only when the inputs read at
    *    least one file stream and every file stream path is `file:`. Each
    *    micro-batch re-lists its files, and above 32 files Spark ran that as
    *    a separate Spark job of one task per file (~300 ms for a 40-file
    *    batch, against ~15 ms on the driver). Object stores keep Spark's
    *    threshold: they were not measured.
    * Unset is told by `getAll`: `getOption` reports the default `"true"`.
    */
  def install(input: DataFrame, more: DataFrame*): Unit = {
    val spark = input.sparkSession
    val set   = spark.conf.getAll
    if (!set.contains(CheckpointManagerKey))
      spark.conf.set(CheckpointManagerKey, classOf[LocalCheckpointFileManager].getName)
    if (!set.contains(ArtifactIsolationKey)) spark.conf.set(ArtifactIsolationKey, "false")
    if (!set.contains(ListingThresholdKey) && fileStreamsAreLocal(input +: more))
      spark.conf.set(ListingThresholdKey, Int.MaxValue.toString)
  }

  /** True when `inputs` read at least one file stream source and every such
    * source's path is `file:` (scheme-less paths resolve against the
    * source's `fs.defaultFS`).
    */
  private def fileStreamsAreLocal(inputs: Seq[DataFrame]): Boolean = {
    val fileSources = inputs.flatMap(_.queryExecution.analyzed.collect {
      case r: StreamingRelation if classOf[FileFormat].isAssignableFrom(r.dataSource.providingClass) =>
        r.dataSource
    })
    val state = inputs.head.sparkSession.sessionState
    fileSources.nonEmpty && fileSources.forall { ds =>
      val conf  = state.newHadoopConfWithOptions(ds.options)
      val paths = ds.paths ++ CaseInsensitiveMap(ds.options).get("path")
      paths.nonEmpty && paths.forall(p => LocalCheckpointFileManager.isFileScheme(new Path(p), conf))
    }
  }
}
