package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Tables.parquet` reads the schema from one footer on the driver: it
  * must give exactly the schema Spark's inference gives (types,
  * nullability, field metadata), start no Spark job on a flat layout,
  * and take Spark's own path — inference job, exceptions and all —
  * wherever one footer might not be the whole answer.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("tables-spec").toString

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // jobs are tagged by a local property on the submitting thread; the
  // listener bus delivers in order, so once the sentinel job's start
  // has arrived every job `body` started has been seen
  private val tagKey = "graft.tables.spec.tag"
  private val jobTags = new ConcurrentHashMap[Int, String]()
  private lazy val listening: Unit =
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(tagKey)))
          .foreach(jobTags.put(js.jobId, _))
    })

  private def jobsDuring(body: => Any): Int = {
    listening
    val tag = java.util.UUID.randomUUID().toString
    val sc = spark.sparkContext
    sc.setLocalProperty(tagKey, tag)
    try scala.util.Try(body)
    finally sc.setLocalProperty(tagKey, s"$tag-sentinel")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(tagKey, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!jobTags.containsValue(s"$tag-sentinel") && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(jobTags.containsValue(s"$tag-sentinel"), "sentinel job never seen")
    jobTags.values().toArray.count(_ == tag)
  }

  /** The schema, or the exception class where the read refuses. */
  private def outcome(df: => DataFrame): Either[Class[_], StructType] =
    try Right(df.schema) catch { case e: Exception => Left(e.getClass) }

  /** StructField equality covers name, type, nullability and metadata. */
  private def assertSameSchema(path: String): Unit = {
    val expected = outcome(spark.read.parquet(path))
    assert(expected.isRight, s"inference refused $path: $expected")
    assert(outcome(Tables.parquet(spark, path)) == expected)
  }

  /** A parquet file written by parquet-hadoop itself: no Spark row
    * metadata in the footer, so the schema comes out of the converter
    * and its session flags, as for the pyarrow-written testdata.
    */
  private def writeRaw(file: String, schema: String)(rows: SimpleGroupFactory => Seq[org.apache.parquet.example.data.Group]): Unit = {
    val mt = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new Path(file)).withType(mt)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try rows(new SimpleGroupFactory(mt)).foreach(w.write) finally w.close()
  }

  private val rawSchema =
    """message raw {
      |  optional int64 ntz (TIMESTAMP(MICROS,false));
      |  optional int64 utc (TIMESTAMP(MICROS,true));
      |  optional binary bin;
      |  optional binary str (STRING);
      |  optional int96 legacy_ts;
      |  required int64 price (DECIMAL(12,2));
      |  optional fixed_len_byte_array(9) big (DECIMAL(20,4));
      |  optional group s {
      |    required int32 a;
      |    optional group tags (LIST) { repeated group list { optional binary element (STRING); } }
      |  }
      |  optional group m (MAP) {
      |    repeated group key_value { required binary key (STRING); optional double value; }
      |  }
      |}""".stripMargin

  test("footer schema equals inference on a converter-read file under every flag it takes") {
    val file = tmp() + "/raw.parquet"
    writeRaw(file, rawSchema)(_ => Nil)
    assertSameSchema(file)
    // int96AsTimestamp=false makes both paths refuse the INT96 column
    for (conf <- Seq(
        "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
        "spark.sql.parquet.binaryAsString" -> "true",
        "spark.sql.parquet.int96AsTimestamp" -> "false")) {
      withConf(conf) {
        assert(outcome(Tables.parquet(spark, file)) == outcome(spark.read.parquet(file)), conf)
      }
    }
    val s = Tables.parquet(spark, file).schema
    assert(s("ntz").dataType == TimestampNTZType)
    assert(s("price").dataType == DecimalType(12, 2))
    assert(s("m").dataType.isInstanceOf[MapType])
    // the testdata tables (pyarrow-written, NTZ-marked timestamps)
    Seq("orders", "events", "documents").foreach(t => assertSameSchema(s"$sfDir/$t.parquet"))
  }

  test("footer schema equals inference on Spark-written nested, decimal and metadata columns") {
    val dir = tmp() + "/nested"
    val md = new MetadataBuilder().putString("comment", "kept").build()
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "k", "v")
      .select(col("id"), lit(7).as("lit_not_null"),
        struct(col("k"), array(col("k"), lit("z")).as("arr")).as("s"),
        map(col("k"), col("v")).as("m"),
        col("v").cast(DecimalType(10, 3)).as("dec", md),
        to_timestamp(lit("2024-01-01 00:00:00")).cast(TimestampNTZType).as("ntz"))
      .write.parquet(dir)
    assertSameSchema(dir)
    assert(Tables.parquet(spark, dir).schema("dec").metadata == md)
  }

  test("a directory of several Append-written part files reads the first footer, as inference does") {
    val dir = tmp() + "/appended"
    // each append adds a column, so a different footer would show
    Seq((1, "a")).toDF("k", "v").write.parquet(dir)
    Seq((2, "b", 1.0)).toDF("k", "v", "w").write.mode(SaveMode.Append).parquet(dir)
    Seq((3, "c", 2.0, 9L)).toDF("k", "v", "w", "x").write.mode(SaveMode.Append).parquet(dir)
    assert(new java.io.File(dir).list().count(_.startsWith("part-")) >= 3)
    assertSameSchema(dir)
    assert(Tables.parquet(spark, dir).count() == 3)
  }

  test("Tables.events reads the TIMESTAMP(NANOS) layout through the footer, without the conf leaking") {
    val d = tmp()
    writeRaw(d + "/events.parquet",
      """message e {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional double value;
        |}""".stripMargin)(f => Seq(
        f.newGroup().append("event_id", 1L).append("ts", 1704067200123456789L)
          .append("value", 2.5)))
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    withConf(key -> "true") { assertSameSchema(d + "/events.parquet") }
    val before = spark.conf.getOption(key)
    val ev = Tables.events(spark, d)
    assert(spark.conf.getOption(key) == before, "the legacy conf must not outlive the read")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.select(unix_micros(col("ts"))).head().getLong(0) == 1704067200123456L)
    // outside the conf window both paths refuse the nanos column alike
    val e1 = intercept[Exception](spark.read.parquet(d + "/events.parquet").schema)
    val e2 = intercept[Exception](Tables.parquet(spark, d + "/events.parquet").schema)
    assert(e1.getClass == e2.getClass && e1.getMessage == e2.getMessage)
  }

  test("Tables.table on a flat directory starts no Spark job") {
    val d = tmp()
    Seq((1, "a"), (2, "b")).toDF("k", "v").repartition(2).write.parquet(d + "/t.parquet")
    assert(jobsDuring(Tables.table(spark, d, "t").schema) == 0)
    assert(jobsDuring(Tables.orders(spark, sfDir).schema) == 0)
    // the inference it replaces does start one — the probe can see it
    assert(jobsDuring(spark.read.parquet(d + "/t.parquet").schema) >= 1)
  }

  test("every layout or setting one footer cannot answer takes Spark's inference") {
    def sparkPath(path: String): Unit = {
      assert(jobsDuring(Tables.parquet(spark, path)) >= 1, s"no inference job for $path")
      assertSameSchema(path)
    }
    val root = tmp()
    // partitioned layout
    Seq((1, "a", 1), (2, "b", 2)).toDF("k", "v", "p")
      .write.partitionBy("p").parquet(root + "/parted")
    sparkPath(root + "/parted")
    assert(Tables.parquet(spark, root + "/parted").schema.fieldNames.contains("p"))
    // a summary file (with a schema of its own, which inference prefers)
    Seq((1, "a")).toDF("k", "v").write.parquet(root + "/summary")
    Seq((1, "a", true)).toDF("k", "v", "extra").coalesce(1).write.parquet(root + "/other")
    val otherPart = new java.io.File(root + "/other").listFiles().find(_.getName.startsWith("part-")).get
    Files.copy(otherPart.toPath, Paths.get(root, "summary", "_common_metadata"))
    sparkPath(root + "/summary")
    assert(Tables.parquet(spark, root + "/summary").schema.fieldNames.contains("extra"))
    // mergeSchema
    Seq((1, "a")).toDF("k", "v").write.parquet(root + "/merge")
    Seq((2, 2.0)).toDF("k", "w").write.mode(SaveMode.Append).parquet(root + "/merge")
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      sparkPath(root + "/merge")
      assert(Tables.parquet(spark, root + "/merge").schema.fieldNames.toSet == Set("k", "v", "w"))
    }
    // a glob
    sparkPath(root + "/merge/part-*")
    // a corrupt first data file: both paths fail alike
    Seq((1, "a")).toDF("k", "v").write.parquet(root + "/corrupt")
    Files.write(Paths.get(root, "corrupt", "a-first.parquet"), "not parquet".getBytes)
    assert(jobsDuring(Tables.parquet(spark, root + "/corrupt")) >= 1)
    val c1 = intercept[Exception](spark.read.parquet(root + "/corrupt"))
    val c2 = intercept[Exception](Tables.parquet(spark, root + "/corrupt"))
    assert(c1.getClass == c2.getClass)
    // a missing path and an empty directory: Spark's exception, verbatim
    for (p <- Seq(root + "/missing", Files.createDirectory(Paths.get(root, "empty")).toString)) {
      val e1 = intercept[Exception](spark.read.parquet(p))
      val e2 = intercept[Exception](Tables.parquet(spark, p))
      assert(e1.getClass == e2.getClass, p)
      assert(e1.getMessage == e2.getMessage, p)
    }
  }
}
