package graft

import java.io.File
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
}
