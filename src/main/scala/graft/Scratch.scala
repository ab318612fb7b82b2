package graft

import java.io.File

/** Spark on-disk scratch measurement — the `spark-` / `blockmgr-`
  * trees (shuffle files, block-manager spill, checkpoint blocks) under
  * the deployment's scratch roots. ONE helper shared by the Bench
  * protocol sampler and Retrieval's inter-batch GC gate (round-17
  * verdict minor #6: the two walkers had drifted into copies; round-17
  * advice medium: both assumed java.io.tmpdir, so a deployment with
  * `spark.local.dir` / SPARK_LOCAL_DIRS pointing elsewhere — standard
  * on real clusters — measured ~0 forever and silently disabled the
  * round-14 disk-wall protection in exactly the regime it exists for).
  */
object Scratch {

  private def size(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.iterator.map(size).sum).getOrElse(0L)

  /** Scratch roots, in Spark's own precedence for local dirs
    * (`Utils.getConfiguredLocalDirs`): every path in SPARK_LOCAL_DIRS
    * (env, comma-separated), else `spark.local.dir`, else
    * java.io.tmpdir. Spark ignores `spark.local.dir` when the env var
    * is set, so the walk must too.
    */
  def roots(conf: org.apache.spark.SparkConf,
            env: Map[String, String] = sys.env): Seq[File] = {
    val dirs = env.get("SPARK_LOCAL_DIRS")
      .orElse(conf.getOption("spark.local.dir"))
      .getOrElse(System.getProperty("java.io.tmpdir", "/tmp"))
    dirs.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map(new File(_))
  }

  /** (bytes held in the `spark-` / `blockmgr-` trees, any scratch root
    * exists). `found = false` means the walk cannot see this
    * deployment's scratch at all — e.g. cluster mode, where shuffle
    * scratch lives on the executors' disks — and a caller gating
    * CLEANUP on occupancy must treat it as "assume occupied" (fail
    * toward cleaning), not as "empty". A root that exists but holds no
    * tree yet is found and empty.
    */
  def bytesAndFound(conf: org.apache.spark.SparkConf,
                    env: Map[String, String] = sys.env): (Long, Boolean) = {
    val dirs = roots(conf, env).filter(_.isDirectory)
    val trees = dirs
      .flatMap(r => Option(r.listFiles).map(_.toSeq).getOrElse(Nil))
      .filter(f => f.getName.startsWith("spark-") ||
        f.getName.startsWith("blockmgr-"))
    (trees.iterator.map(size).sum, dirs.nonEmpty)
  }

  def bytes(conf: org.apache.spark.SparkConf): Long = bytesAndFound(conf)._1
}
