package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The per-snapshot schema memo behind `Tables.t`: a repeat read of an
  * unchanged table starts no Spark job, while a rewritten directory or a
  * flipped inference setting is never served the stale schema, and every
  * read still yields a fresh relation (self-joins resolve, the events
  * `ts` normalization still applies).
  */
class TableSchemaMemoSpec extends SparkSpec {

  import spark.implicits._

  /** Spark jobs started while `body` runs (listener bus drained on both
    * sides, so late deliveries cannot leak across the window).
    */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Write one parquet file with the raw Parquet writer, so the footer
    * carries no Spark schema and inference reads the physical types
    * (the case the inference settings act on).
    */
  private def writeRaw(file: String, messageType: String)(
      rows: org.apache.parquet.example.data.simple.SimpleGroupFactory =>
        Seq[org.apache.parquet.example.data.Group]): Unit = {
    val schema =
      org.apache.parquet.schema.MessageTypeParser.parseMessageType(messageType)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema)
      .build()
    try rows(new org.apache.parquet.example.data.simple.SimpleGroupFactory(
      schema)).foreach(w.write)
    finally w.close()
  }

  test("a repeat Tables.t of an unchanged table starts zero Spark jobs " +
      "and yields the inferred schema") {
    val dir = tmpDir("graft-schemamemo")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .coalesce(1).write.parquet(s"$dir/docs.parquet")
    var first: org.apache.spark.sql.DataFrame = null
    val cold = jobsDuring { first = Tables.t(spark, dir, "docs") }
    assert(cold >= 1, "the first read must pay inference (counter sanity)")
    var second: org.apache.spark.sql.DataFrame = null
    val warm = jobsDuring { second = Tables.t(spark, dir, "docs") }
    assert(warm === 0, s"a memo hit must start no job, started $warm")
    assert(second.schema === first.schema)
    assert(second.schema === spark.read.parquet(s"$dir/docs.parquet").schema)
    assert(second.orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b")))
  }

  test("rewriting the table directory with a different schema is picked " +
      "up on the next call") {
    val dir = tmpDir("graft-schemamemo-rewrite")
    Seq(1L, 2L).toDF("id").coalesce(1).write.parquet(s"$dir/docs.parquet")
    assert(Tables.t(spark, dir, "docs").columns.toSeq === Seq("id"))
    Tables.t(spark, dir, "docs") // memo hit on the first snapshot
    Seq((3L, "x")).toDF("id", "extra")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/docs.parquet")
    val after = Tables.t(spark, dir, "docs")
    assert(after.columns.toSeq === Seq("id", "extra"))
    assert(after.as[(Long, String)].collect().toSeq === Seq((3L, "x")))
  }

  test("flipping spark.sql.parquet.binaryAsString is not served the " +
      "stale schema") {
    val dir = tmpDir("graft-schemamemo-binary")
    writeRaw(s"$dir/raw.parquet/part-0.parquet",
      "message m { required binary b; }")(f =>
      Seq(f.newGroup().append("b", "hello")))
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.t(spark, dir, "raw").schema("b").dataType === BinaryType)
      assert(Tables.t(spark, dir, "raw").schema("b").dataType === BinaryType)
      spark.conf.set(key, "true")
      val asString = Tables.t(spark, dir, "raw")
      assert(asString.schema("b").dataType === StringType)
      assert(asString.as[String].collect().toSeq === Seq("hello"))
      spark.conf.set(key, "false")
      assert(Tables.t(spark, dir, "raw").schema("b").dataType === BinaryType)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("memo-hit reads still self-join and still normalize a nanos ts") {
    val dir = tmpDir("graft-schemamemo-events")
    // ts as TIMESTAMP(NANOS), the testdata events encoding
    val tsMicros = Seq(1700000000000000L, 1700000060000000L)
    writeRaw(s"$dir/events.parquet/part-0.parquet",
      "message m { required int64 event_id; required int64 user_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")(f =>
      tsMicros.zipWithIndex.map { case (us, i) =>
        f.newGroup().append("event_id", i.toLong)
          .append("user_id", 7L).append("ts", us * 1000L)
      })
    val a = Tables.t(spark, dir, "events")
    val b = Tables.t(spark, dir, "events") // memo hit
    assert(b.schema("ts").dataType === TimestampType)
    assert(b.select(unix_micros(col("ts"))).as[Long].collect().sorted.toSeq
      === tsMicros)
    // each read is a fresh relation: no attribute id is shared
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) intersect ids(b)).isEmpty)
    val joined = a.join(b.filter(col("event_id") === 1L),
      a("user_id") === b("user_id") && a("ts") < b("ts"))
    assert(joined.select(a("event_id"), b("event_id")).as[(Long, Long)]
      .collect().toSeq === Seq((0L, 1L)))
  }
}
