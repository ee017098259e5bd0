package graft.analytics

import org.apache.spark.sql.SparkSession

/** Scratch directories for operators that round-trip data through files
  * (io01's jsonl interchange, the streaming parquet drain, …).
  *
  * The one rule: the directory must live on the SESSION'S configured
  * filesystem, not in a driver-local `java.nio` temp dir — a local path
  * only works in local mode, while on a cluster executors write through
  * the session's Hadoop conf and a driver-local dir either reads back
  * partial data (defaultFS=file, executors on other machines) or leaks
  * the staged files (defaultFS=hdfs, the java.nio delete misses them).
  * Same fix st05/w09 got in r9; this helper makes it one definition
  * (r10 review: the recipe was being re-derived per call site).
  */
object StagingDir {

  /** Run `body` with a fresh directory on the session's filesystem
    * (under `hadoop.tmp.dir`, falling back to `java.io.tmpdir` in local
    * mode), recursively deleted through the FS API in a finally —
    * callers must materialize anything derived from the staged files
    * (localCheckpoint / collect) before returning. */
  private[graft] def withStagingDir[T](s: SparkSession, prefix: String)(
      body: org.apache.hadoop.fs.Path => T): T = {
    val hconf = s.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(
      hconf.get("hadoop.tmp.dir", System.getProperty("java.io.tmpdir")),
      prefix + "-" + java.util.UUID.randomUUID())
    val fs = dir.getFileSystem(hconf)
    fs.mkdirs(dir)
    try body(dir)
    finally fs.delete(dir, true)
  }
}
