package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How one catalog query's result is checked. */
sealed trait Oracle

/** The ANSI twin DuckDB runs on the same parquet tables. Column names and
  * types are aligned on both sides (aliased identically; counts as
  * BIGINT, ratios rounded the same way) because the compare hashes
  * values per sorted column name.
  */
final case class Sql(text: String) extends Oracle

/** No ANSI twin exists (engine-internal hashes, float-sum-order k-means):
  * only the weaker rows-only check applies.
  */
case object RowsOnly extends Oracle

/** One named catalog query: its Spark build over a data dir, and its check. */
final case class Entry(name: String,
                       build: (SparkSession, String) => DataFrame,
                       oracle: Oracle)

/** The one registration point of the query catalog.
  *
  * Every entry is one operator family from SURVEY.md §2 (or a north-star
  * extension from BASELINE.json) expressed Spark-first, registered once in
  * its family object together with its oracle, the knobs it reads and the
  * oracle CTE builders it shares with its siblings. A new query goes into
  * its family's `entries` as `Entry(name, build, Sql(...))`, or with
  * `RowsOnly` when no ANSI twin can replay it.
  *
  * After the round-5 portable-hash work the rows-only entries are x20's
  * k-means (float-sum order) and the production-hash twins x03p/x04p;
  * everything else, including the LSH/minhash/simhash candidate sets and
  * the harness-observable STREAMING queries (x51/x52), is hash-compared.
  */
private[graft] object Registry {

  /** `entries` unchanged, after checking that no name is registered twice. */
  def of(entries: Seq[Entry]): Seq[Entry] = {
    val dups = entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(dups.isEmpty,
      s"catalog names registered more than once: ${dups.toSeq.sorted.mkString(", ")}")
    entries
  }

  lazy val all: Seq[Entry] = of(
    ReferenceEtlQueries.entries ++ NearDupQueries.entries ++
      SimilarityQueries.entries ++ TextQueries.entries ++
      CurationQueries.entries)
}
