package graft
package catalog

import java.sql.{Connection, DriverManager, ResultSet}
import org.apache.spark.sql.functions._
import graft.neardup.NearDup
import graft.ops.Sampling
import graft.text.{Pii, TextAnalysis}
import Shared._

/** Each generated DuckDB twin in `Shared` runs in an in-memory DuckDB
  * next to the Spark column it mirrors, on edge-case texts, and the two
  * must agree value for value. Lists are compared as lists: DuckDB's
  * `array_to_string([])` is NULL where Spark's `mkString` gives "".
  */
class SqlTwinSpec extends SparkSpec {
  import spark.implicits._

  private val texts: Seq[String] = Seq(
    // empty, whitespace-only, tabs and newlines, mixed case
    "", "   ", "\t\n  \r\n", "Hello World", "  MiXeD\tCase\nLines  ",
    "a  b \t c\n\nd", "\tlead tab", "trail newline\n", "THE The the",
    // vertical tab and form feed: Java's \s matches both, RE2's only \f
    "a\u000Bb", "\u000Bvt lead\u000B", "form\ffeed x\u000B\f\r\ny",
    // fewer than 5 tokens, exactly 5, punctuation-heavy
    "one two three four", "one two three four five",
    "Hi!!! ... ,,, ;;; ::: ??? ok ok ok ok", "a, b. c! d? e; f: g",
    "well. this, is! fine? yes; now: ok and more words here",
    // stopword ties: en > de > fr > es, und on zero hits
    "the der le el", "der le el", "le el", "el", "und und the",
    "les la et des", "los y las una el", "xyz qrs", "das das le le",
    // repeated bigrams
    "a b a b a b", "x y z", "ok ok", "ok ok ok ok ok ok", "go",
    // every PII pattern, an IP-like digit run inside an email
    "mail john.doe@example.com now", "ip 192.168.1.10 here",
    "call +1-555-0100 now", "user10.0.0.1@mail.example.com",
    "reach a1@b2.io or +44-20-7946-0958 from 10.20.30.40",
    "not an ip 1.2.3 nor 12345.1.1.1 nor +12", "tel +1-555-12345678901 x")

  private lazy val df = texts.zipWithIndex
    .map { case (t, i) => (i.toLong * 4999L, t) }.toDF("doc_id", "text")

  private lazy val duck: Connection = {
    Class.forName("org.duckdb.DuckDBDriver")
    val c = DriverManager.getConnection("jdbc:duckdb:")
    c.createStatement().execute(
      "CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    val ins = c.prepareStatement("INSERT INTO documents VALUES (?, ?)")
    df.collect().foreach { r =>
      ins.setLong(1, r.getLong(0)); ins.setString(2, r.getString(1))
      ins.executeUpdate()
    }
    c
  }

  override def afterAll(): Unit = {
    try duck.close() finally super.afterAll()
  }

  /** One value per doc, in doc_id order, from each engine. */
  private def spark1(c: org.apache.spark.sql.Column): Seq[Any] =
    df.select(col("doc_id"), c).orderBy("doc_id").collect().toSeq
      .map(r => norm(r.get(1)))

  private def duck1(expr: String, from: String = "documents"): Seq[Any] = {
    val rs = duck.createStatement().executeQuery(
      s"SELECT doc_id, $expr FROM $from ORDER BY doc_id")
    val out = Iterator.continually(rs).takeWhile(_.next()).map(r => duckValue(r)).toVector
    rs.close()
    out
  }

  private def duckValue(rs: ResultSet): Any = rs.getObject(2) match {
    case a: java.sql.Array => a.getArray.asInstanceOf[Array[AnyRef]].toSeq.map(norm)
    case v => norm(v)
  }

  private def norm(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.toSeq.map(norm)
    case i: Int => i.toLong
    case i: java.lang.Integer => i.longValue
    case l: java.lang.Long => l.longValue
    case b: java.lang.Boolean => b.booleanValue
    case other => other
  }

  private def assertTwin(what: String, sparkVals: Seq[Any], duckVals: Seq[Any]): Unit = {
    assert(sparkVals.size == texts.size && duckVals.size == texts.size, what)
    val diffs = texts.indices.filter(i => sparkVals(i) != duckVals(i)).map(i =>
      s"${texts(i).replace("\n", "\\n").replace("\t", "\\t")}: " +
        s"spark=${sparkVals(i)} duck=${duckVals(i)}")
    assert(diffs.isEmpty, s"$what twin differs on:\n${diffs.mkString("\n")}")
  }

  /** `documents` with the token list `toks`, the counts the quality
    * bucket reads, and the word 2- and 3-grams.
    */
  private val signals =
    s"""(SELECT doc_id, text, toks, n_chars, n_punct,
       |   ${wordGramsSql("toks", 2)} AS g2,
       |   ${wordGramsSql("toks", 3)} AS g3,
       |   ${langHitsSql("toks")}
       | FROM (SELECT doc_id, text, $tokensSql AS toks,
       |         length(text) AS n_chars, $punctCountSql AS n_punct
       |       FROM documents))""".stripMargin

  test("the tokenizer twin splits like TextAnalysis.tokens") {
    assertTwin("tokens", spark1(TextAnalysis.tokens(col("text"))),
      duck1("toks", signals))
  }

  test("the stopword hits and language-ID twins pick the same language") {
    val l = TextAnalysis.langId(df, "doc_id", "text").orderBy("doc_id").collect().toSeq
    for ((lang, i) <- TextAnalysis.stopWords.map(_._1).zipWithIndex)
      assertTwin(s"${lang}_hits", l.map(r => norm(r.get(i + 1))),
        duck1(s"${lang}_hits", signals))
    assertTwin("pred_lang", l.map(_.getAs[String]("pred_lang")),
      duck1(predLangSql, signals))
    assertTwin("pred_lang column", spark1(TextAnalysis.predLangCol(col("text"))),
      duck1(predLangSql, signals))
  }

  test("the quality-bucket twin buckets like qualityBucketCol") {
    assertTwin("quality_bucket", spark1(TextAnalysis.qualityBucketCol(col("text"))),
      duck1(qualityBucketSql("len(toks)"), signals))
    assertTwin("stopword_ratio",
      TextAnalysis.quality(df, "doc_id", "text").orderBy("doc_id").collect().toSeq
        .map(_.getAs[Double]("stopword_ratio")),
      duck1(s"round(${stopHitsSql("toks", TextAnalysis.allStopWords)}::DOUBLE" +
        " / greatest(len(toks), 1), 4)", signals))
  }

  test("the fingerprint twin hashes like fingerprintCol") {
    assertTwin("fingerprint", spark1(TextAnalysis.fingerprintCol(col("text"))),
      duck1(fingerprintSql))
  }

  test("the BPE token count twin counts like tokenCounts") {
    assertTwin("bpe_tokens",
      TextAnalysis.tokenCounts(df, "doc_id", "text").orderBy("doc_id").collect().toSeq
        .map(r => norm(r.getAs[Any]("bpe_tokens"))),
      duck1(s"len(regexp_extract_all(text, '${TextAnalysis.bpeTokenRe}'))"))
  }

  test("the word-gram and repetition twins match wordGramsCol and repetitiveFromGrams") {
    for ((n, g) <- Seq(2 -> "g2", 3 -> "g3")) {
      assertTwin(s"word $n-grams", spark1(TextAnalysis.wordGramsCol(col("text"), n)),
        duck1(g, signals))
    }
    val n = TextAnalysis.repetitionN
    assertTwin("repetitive", spark1(TextAnalysis.repetitiveFromGrams(
        TextAnalysis.wordGramsCol(col("text"), n))),
      duck1(repetitiveSql(s"g$n"), signals))
  }

  test("the PII twins inject and redact like piiText and Pii.redactedCol") {
    assertTwin("redacted", spark1(Pii.redactedCol(col("text"))),
      duck1(redactSql("text")))
    assertTwin("pii suffix", spark1(piiText), duck1(piiTextSql))
    assertTwin("redacted pii suffix", spark1(Pii.redactedCol(piiText)),
      duck1(redactSql(piiTextSql)))
    val counts = Pii.redact(df, "doc_id", "text").orderBy("doc_id").collect().toSeq
    for ((c, re) <- Seq("n_emails" -> Pii.emailRe, "n_ips" -> Pii.ipRe,
                        "n_phones" -> Pii.phoneRe))
      assertTwin(c, counts.map(r => norm(r.getAs[Any](c))),
        duck1(s"len(regexp_extract_all(text, '$re'))::BIGINT"))
  }

  /** Every row of a DuckDB query, each column normalized. */
  private def duckRows(sql: String): Seq[Seq[Any]] = {
    val rs = duck.createStatement().executeQuery(sql)
    val n = rs.getMetaData.getColumnCount
    val out = Iterator.continually(rs).takeWhile(_.next())
      .map(r => (1 to n).map(i => norm(r.getObject(i)))).toVector
    rs.close()
    out
  }

  test("the hash-bucket twin spreads like Sampling.hashBucket") {
    // negative keys, zero, Long's ends, and ScaleGen's id lattice
    // orig + copy * 10^8
    val keys = Seq(Long.MinValue, -1000000008L, -1000000007L, -4999L, -1L, 0L,
      1L, 4999L, 1000000006L, 1000000007L, Long.MaxValue) ++
      (for (orig <- Seq(0L, 7L, 4999L); copy <- Seq(1L, 9L, 99L))
        yield orig + copy * 100000000L)
    duck.createStatement().execute("CREATE TABLE keys (k BIGINT)")
    duck.createStatement().execute(
      s"INSERT INTO keys VALUES ${keys.map(k => s"($k)").mkString(", ")}")
    val kdf = keys.toDF("k")
    for (b <- Seq(1, 100, 1000003, 999999937)) {
      val sparkVals = kdf.select(col("k"), Sampling.hashBucket(col("k"), b))
        .orderBy("k").collect().toSeq.map(r => Seq(r.getLong(0), r.getLong(1)))
      val duckVals = duckRows(s"SELECT k, ${hashBucketSql("k", b)} FROM keys ORDER BY k")
      assert(duckVals == sparkVals, s"buckets = $b")
      assert(sparkVals.forall { case Seq(_, h: Long) => h >= 0 && h < b }, s"buckets = $b")
    }
  }

  test("the Jaccard twin scores pairs like NearDup.jaccardPairsOver") {
    // doc 1 shares 2 of 4 distinct shingles with docs 2 and 4, 1 of 4
    // with doc 3; doc 4 repeats doc 2's set; doc 5 shares nothing
    val sh = Seq(1L -> "a", 1L -> "b", 1L -> "c", 2L -> "a", 2L -> "b", 2L -> "d",
      3L -> "c", 3L -> "x", 4L -> "a", 4L -> "b", 4L -> "d", 5L -> "z")
    duck.createStatement().execute("CREATE TABLE sh (doc_id BIGINT, shingle VARCHAR)")
    duck.createStatement().execute(
      s"INSERT INTO sh VALUES ${sh.map { case (d, g) => s"($d, '$g')" }.mkString(", ")}")
    for (threshold <- Seq(0.0, 0.5, 0.75)) {
      val sparkVals = NearDup.jaccardPairsOver(sh.toDF("id", "shingle"), threshold)
        .orderBy("doc_a", "doc_b").collect().toSeq
        .map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      val duckVals = duckRows(
        s"""WITH ${NearDupQueries.jaccardCtes(NearDupQueries.exactInterSql, threshold)}
           |SELECT doc_a, doc_b, n_common, jaccard FROM p
           |ORDER BY doc_a, doc_b""".stripMargin)
      assert(sparkVals.nonEmpty && duckVals == sparkVals, s"threshold = $threshold")
    }
  }

  test("the edge cases exercise every branch the twins generate") {
    val r = df.select(TextAnalysis.qualityBucketCol(col("text")).as("q"),
        TextAnalysis.predLangCol(col("text")).as("l"),
        TextAnalysis.repetitiveFromGrams(
          TextAnalysis.wordGramsCol(col("text"), TextAnalysis.repetitionN)).as("r"),
        (Pii.redactedCol(col("text")) =!= col("text")).as("pii"))
      .collect()
    assert(r.map(_.getString(0)).toSet == Set("too_short", "punct_heavy", "ok"))
    assert(r.map(_.getString(1)).toSet ==
      (TextAnalysis.undLang +: TextAnalysis.stopWords.map(_._1)).toSet)
    assert(r.map(_.getBoolean(2)).toSet == Set(true, false))
    assert(r.count(_.getBoolean(3)) >= 5)
  }
}
