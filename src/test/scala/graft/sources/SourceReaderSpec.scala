package graft.sources

import graft.SparkSpec
import graft.core.SparkSource
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** SourceReader format coverage (S4 parquet / S6 csv / json; S5 avro is
  * format-passthrough and needs the external spark-avro jar, asserted as
  * a clean failure) + timestamp-field validation + extensions session.
  */
class SourceReaderSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = Files.createTempDirectory("src_fmt").toString
  private lazy val base = Seq(
    ("a", "2024-01-01 10:00:00", 1.5),
    ("b", "2024-01-02 11:00:00", 2.5)
  ).toDF("key", "event_ts", "value")
    .select(col("key"), to_timestamp(col("event_ts")).as("event_ts"), col("value"))

  test("parquet source reads with schema") {
    base.write.mode("overwrite").parquet(s"$dir/p")
    val df = SourceReader.read(spark,
      SparkSource("p", s"$dir/p", "parquet", "event_ts"))
    assert(df.count() === 2)
    assert(df.schema("event_ts").dataType.typeName === "timestamp")
  }

  test("csv source reads with header (reference S6 idiom)") {
    base.withColumn("event_ts", col("event_ts").cast("string"))
      .write.mode("overwrite").option("header", "true").csv(s"$dir/c")
    val df = SourceReader.read(spark,
      SparkSource("c", s"$dir/c", "csv", "event_ts"))
    assert(df.count() === 2)
    assert(df.columns.toSeq === Seq("key", "event_ts", "value"))
  }

  test("parquet source reads through a non-local URI scheme (S8)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[graft.core.MockFs].getName)
    base.write.mode("overwrite").parquet(s"$dir/mockp")
    val df = SourceReader.read(spark,
      SparkSource("mockp", s"mockfs://$dir/mockp", "parquet", "event_ts"))
    assert(df.count() === 2)
    assert(df.schema("event_ts").dataType.typeName === "timestamp")
  }

  test("json source reads") {
    base.write.mode("overwrite").json(s"$dir/j")
    val df = SourceReader.read(spark,
      SparkSource("j", s"$dir/j", "json", "event_ts"))
    assert(df.count() === 2)
  }

  test("missing timestamp_field fails eagerly with a named error") {
    base.write.mode("overwrite").parquet(s"$dir/p2")
    val e = intercept[IllegalArgumentException] {
      SourceReader.read(spark, SparkSource("p2", s"$dir/p2", "parquet", "nope"))
    }
    assert(e.getMessage.contains("timestamp_field 'nope'"))
  }

  test("missing created_timestamp_column fails eagerly") {
    base.write.mode("overwrite").parquet(s"$dir/p3")
    val e = intercept[IllegalArgumentException] {
      SourceReader.read(spark,
        SparkSource("p3", s"$dir/p3", "parquet", "event_ts", Some("missing_created")))
    }
    assert(e.getMessage.contains("created_timestamp_column"))
  }

  test("avro capture files read via the built-in AvroReader (S5)") {
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericDatumWriter, GenericRecordBuilder}
    val schema: Schema = SchemaBuilder.record("Capture").fields()
      .requiredString("event_ts")
      .requiredString("body")
      .optionalDouble("temp")
      .endRecord()
    val avroDir = new java.io.File(s"$dir/avro"); avroDir.mkdirs()
    val w = new DataFileWriter(new GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema))
    w.create(schema, new java.io.File(avroDir, "part-0.avro"))
    w.append(new GenericRecordBuilder(schema)
      .set("event_ts", "2024-01-01 10:00:00").set("body", "{\"x\":1}")
      .set("temp", 21.5).build())
    w.append(new GenericRecordBuilder(schema)
      .set("event_ts", "2024-01-01 11:00:00").set("body", "{\"x\":2}")
      .set("temp", null).build())
    w.close()
    val df = SourceReader.read(spark,
      SparkSource("cap", s"$dir/avro/*.avro", "avro", "event_ts"))
    assert(df.columns.toSeq === Seq("event_ts", "body", "temp"))
    assert(df.count() === 2)
    val rows = df.orderBy("event_ts").collect()
    assert(rows(0).getDouble(2) === 21.5)
    assert(rows(1).isNullAt(2))
  }

  test("NTZ timestamp bounds filter correctly, normalize to LTZ, and reach PushedFilters") {
    // the r8 testdata regeneration made events.ts plain timestamp[us]
    // (TIMESTAMP_NTZ); the bound must land on the raw NTZ column (cast on
    // the literal side only) so row-group stats still see it
    base.withColumn("event_ts",
        col("event_ts").cast(org.apache.spark.sql.types.TimestampNTZType))
      .write.mode("overwrite").parquet(s"$dir/ntz")
    val src = SparkSource("ntz", s"$dir/ntz", "parquet", "event_ts",
      options = Map(SourceReader.NanosColumnsOption -> "event_ts"))
    val upper = java.sql.Timestamp.valueOf("2024-01-01 23:59:59")
    val df = SourceReader.read(spark, src, None, Some(upper))
    assert(df.schema("event_ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("a"))
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("PushedFilters: [IsNotNull(event_ts), LessThanOrEqual(event_ts"),
      s"ts bound did not reach the parquet scan:\n$formatted")
  }

  test("GraftExtensions registers custom SQL functions") {
    // simulate an extensions-enabled session via direct injection
    graft.functions.functions.registerAll(spark)
    val got = spark.sql("SELECT rolling_hash('abc') AS h, " +
      "dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
      "normalized_md5('  A  b ') AS m").head()
    assert(got.getLong(0) === "abc".getBytes("UTF-8")
      .foldLeft(0L)((h, b) => h * 31L + (b & 0xffL)))
    assert(got.getDouble(1) === 11.0)
    assert(got.getString(2) ===
      org.apache.commons.codec.digest.DigestUtils.md5Hex("a b"))
    // round-7 additions reach SQL through the same surface
    val more = spark.sql("SELECT q_grams_occ('abab', 2) AS g, " +
      "quantize_i8(array(1.0d, -1.0d)) AS q").head()
    assert(more.getSeq[String](0).size === 3)
    assert(more.getSeq[Int](1) === Seq(127, -127))
    // every name in the one function table resolves, and the three not
    // evaluated above build and evaluate from SQL too
    graft.functions.functions.sqlFunctions.foreach { case (name, _) =>
      assert(spark.catalog.functionExists(name), s"$name is not registered")
    }
    val rest = spark.sql("SELECT simhash64(array('a', 'b')) AS s, " +
      "nfc_normalize('e\u0301') AS n, " +
      "interleave_bits(CAST(1 AS BIGINT), CAST(2 AS BIGINT)) AS z").head()
    assert(rest.getLong(0) === graft.functions.SimHash64.evalImpl(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(
        org.apache.spark.unsafe.types.UTF8String.fromString("a"),
        org.apache.spark.unsafe.types.UTF8String.fromString("b")))))
    assert(rest.getString(1) === "\u00e9")
    assert(rest.getLong(2) === 9L)
    // the extensions injector itself covers the full set without error
    new graft.GraftExtensions()
      .apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("literal-arg SQL functions build and evaluate (word_shingles, minhash_sigs)") {
    graft.functions.functions.registerAll(spark)
    val row = spark.sql(
      "SELECT minhash_sigs('a b c d', 3) AS mh, " +
        "word_shingles('a b c d', 3) AS ws").head()
    assert(row.getSeq[String](0).size === 8)
    assert(row.getSeq[String](1) === Seq("a b c", "b c d"))
    // non-literal n must fail loudly, not silently misparse
    intercept[Exception](
      spark.sql("SELECT word_shingles('a b c', CAST(rand() * 3 AS INT))").head())
  }
}
