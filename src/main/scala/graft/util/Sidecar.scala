package graft.util

import org.apache.spark.sql.SparkSession

/** The ONE home for tiny-JSON artifact sidecars (`params.json`,
  * `codebook.json`, `tokenizer.json`, ...) every persisted index writes
  * next to its parquet parts. Previously each write/load pair hand-rolled
  * the same hadoop create/read plumbing and the same `"key":N` regex
  * extractor — four drifting copies; format fixes now land once here.
  *
  * All IO goes through the session's `hadoopConfiguration`, never a fresh
  * `Configuration()`: the sidecar must resolve the SAME filesystem (S3A
  * credentials, HDFS settings supplied via `spark.hadoop.*`) as the
  * adjacent parquet write.
  */
object Sidecar {

  /** Write `json` to `path`, overwriting. */
  def write(spark: SparkSession, path: String, json: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(json.getBytes("UTF-8"))
    finally out.close()
  }

  /** Read the sidecar at `path` as UTF-8 (loud if missing/unreadable). */
  def read(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
  }

  /** First integer field `key` in `json`; `where` names the artifact in
    * the failure message (e.g. the sidecar path). Throws
    * IllegalArgumentException — the malformed-artifact convention every
    * load surface shares (loadTokenizer's unknown-family guard).
    */
  def num(json: String, key: String, where: String): Long =
    s""""$key":(-?\\d+)""".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(s"no numeric field '$key' in $where"))
      .group(1).toLong

  /** First string field `key` in `json` (same failure contract). */
  def str(json: String, key: String, where: String): String =
    s""""$key":"([^"]+)"""".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(s"no string field '$key' in $where"))
      .group(1)
}
