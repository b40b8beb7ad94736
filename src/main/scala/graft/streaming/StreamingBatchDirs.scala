package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession

/** Shared predicate for the merge-on-read streaming trees
  * ([[StreamingHeavyHitters]] / [[StreamingCardStats]] /
  * [[StreamingVectorIndex]]): has any `batch=<id>` partition committed
  * under `path`? Readers use this instead of catching
  * `AnalysisException` from the read — a broad catch would also swallow
  * schema conflicts and corrupt trees, turning real failures into a
  * silent empty result.
  */
private[streaming] object StreamingBatchDirs {
  def exists(spark: SparkSession, dir: String): Boolean = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(path) && fs.listStatus(path).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("batch="))
  }

  /** The committed batch ids under `path`, ascending — empty when the
    * tree does not exist yet. Foreign `batch=<non-numeric>` names are
    * skipped, not a crash (the [[graft.operators.Compaction]] batchId
    * contract). Used by the takedown path to rewrite exactly the
    * affected partitions.
    */
  def list(spark: SparkSession, dir: String): Seq[Long] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(_.isDirectory)
      .flatMap(s => {
        val n = s.getPath.getName
        if (n.startsWith("batch=")) n.stripPrefix("batch=").toLongOption
        else None
      })
      .sorted
  }
}
