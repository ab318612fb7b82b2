package graft
package catalog

import org.scalatest.funsuite.AnyFunSuite

/** The catalog registry's shape, checked without a SparkSession: builds
  * are never invoked, only names and oracle texts are read.
  */
class CatalogRegistrySpec extends AnyFunSuite {

  private val rowsOnly =
    Set("x03p_minhash_lsh_prod", "x04p_simhash_prod", "x20_cosine_ivf")

  test("every catalog name is registered once") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.size == names.size)
  }

  test("the queries are exactly the oracle keys plus the three rows-only entries") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet ++ rowsOnly)
    assert((SparkEntry.oracleSql.keySet & rowsOnly).isEmpty)
    assert(Registry.all.filter(_.oracle == RowsOnly).map(_.name).toSet == rowsOnly)
  }

  test("every oracle SQL text is non-empty") {
    val empty = SparkEntry.oracleSql.collect { case (k, v) if v.trim.isEmpty => k }
    assert(empty.isEmpty, s"empty oracle SQL: $empty")
  }

  test("a name registered twice makes the registry throw, naming the key") {
    val build: (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame = (s, _) => s.emptyDataFrame
    val e = intercept[IllegalArgumentException](Registry.of(Seq(
      Entry("q01_iot_clean", build, Sql("SELECT 1")),
      Entry("x20_cosine_ivf", build, RowsOnly),
      Entry("q01_iot_clean", build, Sql("SELECT 2")))))
    assert(e.getMessage.contains("q01_iot_clean"))
    assert(!e.getMessage.contains("x20_cosine_ivf"))
  }
}
