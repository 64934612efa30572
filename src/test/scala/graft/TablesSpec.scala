package graft

import org.apache.spark.sql.functions._

/** Pins the events reader's timestamp-encoding dispatch (Tables.events)
  * and the resolution memo's contract (Tables.parquet): a warm load starts
  * no Spark job, and a rewrite or a changed parquet read setting is seen
  * with no invalidation call.
  *
  * The driver's generated `events.parquet` has shipped `ts` under two
  * physical encodings across rounds — nanosecond INT64 (reads as LongType
  * under `nanosAsLong`) and parquet TIMESTAMP(MICROS, adjustedToUTC=false)
  * (reads as TIMESTAMP_NTZ) — and the round-9 flip from the former to the
  * latter broke every events query at the scan until the reader learned to
  * dispatch on the scanned type. This spec writes the SAME logical rows
  * under both encodings and asserts Tables.events normalizes them to one
  * identical TimestampType column, so a future encoding change (back, or
  * to a third form) fails here with a readable diff instead of as an
  * analysis error inside twenty query plans.
  */
class TablesSpec extends SparkSpec {

  private def eventRows = Seq(
    (1L, 1704067200000000L, 10L, "view", 1.0, "{}"),     // 2024-01-01T00:00:00Z
    (2L, 1704067200123456L, 10L, "click", 2.0, "{}"),    // sub-second micros
    (3L, 1704153599999999L, 11L, "purchase", 3.0, "{}")) // end-of-day edge

  test("events normalizes nano-long and micro-timestamp encodings identically") {
    val s = spark
    import s.implicits._
    val nanoDir = tempDir("graft_ev_nano")
    val microDir = tempDir("graft_ev_micro")
    val df = eventRows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // old-style: ns INT64 (plain long column, like the pre-r9 testdata and
    // the fixtures other specs write)
    df.withColumn("ts", col("ts") * 1000L)
      .write.mode("overwrite").parquet(s"$nanoDir/events.parquet")
    // new-style: TIMESTAMP_NTZ column -> parquet TIMESTAMP(MICROS,
    // adjustedToUTC=false), the round-9 driver layout
    df.withColumn("ts", timestamp_micros(col("ts")).cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(s"$microDir/events.parquet")

    val fromNano = Tables.events(spark, nanoDir)
    val fromMicro = Tables.events(spark, microDir)
    assert(fromNano.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
    assert(fromNano.schema === fromMicro.schema,
      "both encodings must normalize to one schema")

    def rows(d: org.apache.spark.sql.DataFrame) = d
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .orderBy("event_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows(fromNano) === eventRows.map(e => (e._1, e._2)),
      "nano longs must divide to exact micros")
    assert(rows(fromNano) === rows(fromMicro),
      "the same logical instants must survive either encoding")
  }

  test("an already-zoned timestamp column passes through unchanged") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft_ev_tz")
    Seq((1L, 1704067200000000L, 10L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Tables.events(spark, dir)
    assert(got.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
    assert(got.select(unix_micros(col("ts"))).head().getLong(0) === 1704067200000000L)
  }

  /** Spark jobs `body` launches from this thread — scoped by
    * [[OwnJobs]], since the listener is session-global and sbt runs suites
    * in parallel.
    */
  private def jobsLaunchedBy(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    OwnJobs.observe(spark, new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })(body)
    jobs.get()
  }

  private def writeDocs(dir: String, extra: Boolean = false): Unit = {
    val base = spark.range(0, 200).selectExpr("id AS doc_id", "'en' AS lang",
      "concat('doc ', id) AS text")
    (if (extra) base.selectExpr("*", "length(text) AS n_chars") else base)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("a warm documents load starts no Spark job; the first load starts one") {
    val dir = tempDir("graft_tables_warm")
    writeDocs(dir)
    assert(jobsLaunchedBy(Tables.documents(spark, dir)) === 1,
      "the first load of a table version infers its schema in one job")
    assert(jobsLaunchedBy(Tables.documents(spark, dir)) === 0,
      "a warm load must resolve from the memo without a footer-inference job")
    assert(Tables.documents(spark, dir).count() === 200)
  }

  test("an overwrite at the same path is seen without any invalidation call") {
    val dir = tempDir("graft_tables_overwrite")
    writeDocs(dir)
    assert(!Tables.documents(spark, dir).columns.contains("n_chars"))
    writeDocs(dir, extra = true)
    val reread = Tables.documents(spark, dir)
    assert(reread.columns.contains("n_chars"),
      s"stale memo: the rewritten table's new column is missing from ${reread.columns.toSeq}")
    assert(reread.where("n_chars IS NULL").count() === 0)
  }

  test("a rewrite re-resolves in one job, re-inferring partition column types") {
    val dir = tempDir("graft_tables_partitioned")
    def write(cell: String): Unit = spark.range(0, 40).selectExpr("id AS vec_id", s"$cell AS cell")
      .write.partitionBy("cell").mode("overwrite").parquet(s"$dir/assignments.parquet")
    write("id % 4")
    assert(Tables.table(spark, dir, "assignments").schema("cell").dataType ===
      org.apache.spark.sql.types.IntegerType)
    write("concat('c', id % 4)")
    var reread: org.apache.spark.sql.DataFrame = null
    assert(jobsLaunchedBy { reread = Tables.table(spark, dir, "assignments") } === 1,
      "a rewritten table must infer its schema once, from the listing the load already made")
    assert(reread.schema("cell").dataType === org.apache.spark.sql.types.StringType,
      "partition column types must be inferred from the new directories, not the memo")
    assert(reread.where("cell = 'c1'").count() === 10)
  }

  test("a changed parquet read setting resolves the schema again") {
    // a child session: its SQL conf is its own, so toggling it cannot
    // change what the suites running beside this one read
    val s = spark.newSession()
    val dir = tempDir("graft_tables_binary")
    // written by parquet-hadoop directly: a Spark-written file carries its
    // Spark schema in the footer, which inference prefers over the parquet
    // types that binaryAsString reinterprets
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message blobs { required int64 doc_id; required binary payload; }")
    val hadoopConf = s.sparkContext.hadoopConfiguration
    val out = org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/blobs.parquet/part-0.parquet"), hadoopConf)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(out)
      .withType(schema).withConf(hadoopConf).build()
    val rows = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    try (0 until 3).foreach(i =>
      writer.write(rows.newGroup().append("doc_id", i.toLong).append("payload", s"b$i")))
    finally writer.close()
    val asBinary = Tables.table(s, dir, "blobs")
    assert(asBinary.schema("payload").dataType === org.apache.spark.sql.types.BinaryType)
    s.conf.set("spark.sql.parquet.binaryAsString", "true")
    val asString = Tables.table(s, dir, "blobs")
    assert(asString.schema("payload").dataType === org.apache.spark.sql.types.StringType,
      "the memo must key on the session's parquet read settings")
    assert(asString.orderBy("doc_id").collect().map(_.getString(1)).toSeq === Seq("b0", "b1", "b2"))
  }
}
