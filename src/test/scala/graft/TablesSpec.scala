package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** [[Tables.read]] resolves a table's schema once per file fingerprint:
  * an unchanged file reads back without a Spark job, a rewritten one is
  * inferred again, and a schema inferred under one `nanosAsLong`
  * setting is never served under the other.
  */
class TablesSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("a second read of an unchanged table submits no job and returns the same schema") {
    import spark.implicits._
    val d = tmpDir("graft_tables_same")
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v").write.parquet(s"$d/t.parquet")
    val (first, inferJobs) = jobsOf(Tables(spark, d, "t"))
    assert(inferJobs >= 1, "the first read infers the schema with a footer job")
    val (second, jobs) = jobsOf(Tables(spark, d, "t"))
    assert(jobs == 0, "an unchanged file must resolve from the memo")
    assert(second.schema == first.schema)
    assert(rows(second) == rows(first))
  }

  test("a table rewritten with another schema is inferred again") {
    import spark.implicits._
    val d = tmpDir("graft_tables_rewrite")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(s"$d/t.parquet")
    assert(Tables(spark, d, "t").columns.toSeq == Seq("id", "name"))
    Seq((3L, "c", 30.0)).toDF("id", "label", "v")
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    val (df, jobs) = jobsOf(Tables(spark, d, "t"))
    assert(jobs >= 1, "a changed fingerprint must infer again")
    assert(df.columns.toSeq == Seq("id", "label", "v"))
    assert(rows(df) == Seq("3|c|30.0"))
    assert(jobsOf(Tables(spark, d, "t"))._2 == 0, "the new schema is memoised in turn")
  }

  test("the memo is keyed on nanosAsLong: Tables.events normalises ts whatever read came before") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // the legacy vintage: ts annotated TIMESTAMP(NANOS), which Spark only
    // reads (as int64) under the legacy conf
    val d = tmpDir("graft_tables_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$d/events.parquet")).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()

    val saved = spark.conf.getOption(Tables.NanosAsLong)
    try {
      spark.conf.set(Tables.NanosAsLong, "false")
      intercept[AnalysisException](Tables(spark, d, "events"))
      val ev = Tables.events(spark, d)
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.select(unix_micros(col("ts"))).head().getLong(0) == 1700000000123456L)
      // the int64 schema inferred under the conf serves plain reads
      // under the conf, and never a read without it
      val (plain, jobs) = jobsOf(Tables(spark, d, "events"))
      assert(jobs == 0 && plain.schema("ts").dataType == LongType)
      spark.conf.set(Tables.NanosAsLong, "false")
      intercept[AnalysisException](Tables(spark, d, "events"))
      assert(Tables.events(spark, d).schema("ts").dataType == TimestampType)
    } finally saved match {
      case Some(v) => spark.conf.set(Tables.NanosAsLong, v)
      case None => spark.conf.unset(Tables.NanosAsLong)
    }
  }
}
