package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

class ScratchSpec extends AnyFunSuite {

  test("scratch roots follow Spark's local-dir precedence: " +
      "SPARK_LOCAL_DIRS, then spark.local.dir, then java.io.tmpdir") {
    val withConf = new SparkConf(false).set("spark.local.dir", "/conf/a,/conf/b")
    val env = Map("SPARK_LOCAL_DIRS" -> "/env/a, /env/b")
    assert(Scratch.roots(withConf, env) == Seq(new File("/env/a"), new File("/env/b")),
      "Spark ignores spark.local.dir when SPARK_LOCAL_DIRS is set")
    assert(Scratch.roots(withConf, Map.empty) ==
      Seq(new File("/conf/a"), new File("/conf/b")))
    assert(Scratch.roots(new SparkConf(false), Map.empty) ==
      Seq(new File(System.getProperty("java.io.tmpdir"))))
  }

  test("an existing root with no spark-/blockmgr- tree is found and empty; " +
      "a missing root is not found") {
    val dir = Files.createTempDirectory("scratch-spec").toFile
    try {
      val conf = new SparkConf(false).set("spark.local.dir", dir.getPath)
      assert(Scratch.bytesAndFound(conf, Map.empty) == ((0L, true)))
      dir.delete()
      assert(Scratch.bytesAndFound(conf, Map.empty) == ((0L, false)))
    } finally dir.delete()
  }
}
