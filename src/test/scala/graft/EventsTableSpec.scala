package graft

import graft.ops.Layouts
import graft.sources.EventsTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The layout-adaptive events source: the generator has shipped
  * `ts` both as int64 nanos and as timestamp[us] across rounds, so
  * both branches of the sniff must read to identical micros — batch
  * and streaming, and a streaming restart must recover from its
  * checkpoint on the current layout.
  */
class EventsTableSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("EventsTableSpec")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private def tmp(prefix: String): java.io.File = tempDir(prefix).toFile

  test("batch read: int64-nanos layout truncates to the same micros as typed layout") {
    import spark.implicits._
    val nanos = 1700000000123456789L // 2023-11-14T22:13:20.123456789
    val longDir = new java.io.File(tmp("graft_ev_long"), "events.parquet")
    Seq((1L, nanos)).toDF("event_id", "ts")
      .write.parquet(longDir.getAbsolutePath)
    val tsDir = new java.io.File(tmp("graft_ev_ts"), "events.parquet")
    Seq((1L, nanos / 1000))
      .toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
      .write.parquet(tsDir.getAbsolutePath)

    val fromLong = EventsTable.read(spark, longDir.getAbsolutePath)
    val fromTs = EventsTable.read(spark, tsDir.getAbsolutePath)
    for (df <- Seq(fromLong, fromTs)) {
      assert(df.schema("ts").dataType == TimestampType)
      assert(df.select(unix_micros(col("ts"))).head().getLong(0) == nanos / 1000)
    }
  }

  test("q15/q28/q43 are layout-invariant across int64-nanos, micros and millis ts") {
    // r9 verdict next-5: the adaptive reader had exactly two exercised
    // layout branches; pin all three shapes the generator could
    // plausibly ship (raw int64 nanos, typed micros, typed millis)
    // from ONE canonical fixture and assert the real registered
    // queries — q15 tumbling window, q28 as-of join, q43 sliding
    // window — return identical rows on each. A fourth drift (e.g.
    // seconds, or a string ts) now fails these asserts loudly instead
    // of silently shifting query output.
    val nanosConf = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(nanosConf)
    // canonical events at millisecond precision (so the millis layout
    // is lossless and cross-layout equality is exact)
    val canonical = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", timestamp_millis(unix_millis(col("ts").cast(TimestampType))))
    val base = tmp("graft_ev_layouts")
    def dirOf(name: String) = new java.io.File(base, name).getAbsolutePath
    canonical.write.parquet(dirOf("micros") + "/events.parquet")
    canonical.withColumn("ts", unix_micros(col("ts")) * 1000)
      .write.parquet(dirOf("nanos") + "/events.parquet")
    val outTypeConf = "spark.sql.parquet.outputTimestampType"
    val prevOutType = spark.conf.getOption(outTypeConf)
    spark.conf.set(outTypeConf, "TIMESTAMP_MILLIS")
    try canonical.write.parquet(dirOf("millis") + "/events.parquet")
    finally prevOutType match {
      case Some(v) => spark.conf.set(outTypeConf, v)
      case None    => spark.conf.unset(outTypeConf)
    }

    // micros read must not leak the session-global nanos shim (r9 advice)
    EventsTable.read(spark, dirOf("micros") + "/events.parquet").count()
    assert(spark.conf.get(nanosConf, "false") != "true",
      "sniffSchema leaked nanosAsLong=true after a micros read")

    for (q <- Seq("q15_time_window", "q28_asof_join", "q43_sliding_window")) {
      val fn = SparkEntry.queries(q)
      val ref = fn(spark, dirOf("micros")).collect().toSeq
      assert(ref.nonEmpty, s"$q returned no rows on the micros layout")
      for (layout <- Seq("nanos", "millis")) {
        val got = fn(spark, dirOf(layout)).collect().toSeq
        assert(got == ref, s"$q differs between micros and $layout layouts")
      }
    }
  }

  test("FooterSchema opens tables and layouts with no Spark job and the inferred schema") {
    import org.apache.spark.sql.graft.FooterSchema
    import spark.implicits._
    val nanosConf = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(nanosConf)
    def same(path: String): Unit = {
      val (df, jobs) = SparkJobs.during(spark)(FooterSchema.read(spark, path))
      assert(jobs == 0, s"$path: $jobs jobs")
      assert(df.schema == spark.read.parquet(path).schema, path)
    }
    // the bundled tables, one file each
    val bundled = new java.io.File("perfbench/data/sf0.01")
    val tables = bundled.listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
    assert(tables.length >= 10)
    tables.foreach(same(_))
    // a directory written by Spark: several parts, _SUCCESS, .crc files
    val dirTable = new java.io.File(tmp("graft_fs_dir"), "t").getAbsolutePath
    spark.range(40).selectExpr("id", "cast(id as string) as s", "id * 0.5 as d")
      .repartition(3).write.parquet(dirTable)
    same(dirTable)
    assert(FooterSchema.of(spark, dirTable + "/absent").isEmpty)

    // the events layouts: the sniff leaves nanosAsLong on only for
    // int64 nanos, and its schema is what inference gives under it
    val events = tmp("graft_fs_events")
    val canonical = spark.read.parquet(new java.io.File(bundled, "events.parquet").getPath)
      .withColumn("ts", timestamp_millis(unix_millis(col("ts").cast(TimestampType))))
    def layout(name: String) = new java.io.File(events, name).getAbsolutePath
    canonical.write.parquet(layout("micros"))
    canonical.withColumn("ts", unix_micros(col("ts")) * 1000).write.parquet(layout("int64"))
    val outTypeConf = "spark.sql.parquet.outputTimestampType"
    spark.conf.set(outTypeConf, "TIMESTAMP_MILLIS")
    try canonical.write.parquet(layout("millis"))
    finally spark.conf.unset(outTypeConf)
    for (name <- Seq("micros", "millis", "int64")) {
      spark.conf.unset(nanosConf)
      val (df, jobs) = SparkJobs.during(spark)(EventsTable.read(spark, layout(name)))
      assert(jobs == 0, s"$name: $jobs jobs")
      assert(EventsTable.sniffSchema(spark, layout(name)) ==
        spark.read.parquet(layout(name)).schema, name)
      assert(df.schema("ts").dataType == TimestampType, name)
      if (name != "int64")
        assert(spark.conf.get(nanosConf, "false") != "true",
          s"sniffSchema leaked nanosAsLong=true after a $name read")
    }
    spark.conf.unset(nanosConf)

    // a partitionBy(cell) layout with per-batch increments, partitioned
    // inside: the base, one increment, and the basePath read over them
    val root = new java.io.File(tmp("graft_fs_cells"), "gen0").getAbsolutePath
    def rows(from: Long) = (from until from + 30L).map(i => (i, (i % 4).toInt, i * 1.5))
      .toDF("id", "cell", "v")
    rows(0L).write.partitionBy("cell").parquet(root)
    rows(100L).write.partitionBy("cell").parquet(Layouts.incrementDir(root, 0L))
    rows(200L).write.partitionBy("cell").parquet(Layouts.incrementDir(root, 1L))
    same(root)
    same(Layouts.incrementDir(root, 1L))
    val incs = s"$root/${Layouts.IncrementsDir}"
    val (all, jobs) = SparkJobs.during(spark)(Layouts.withIncrements(spark,
      FooterSchema.read(spark, root), root, Seq("id", "cell", "v"), None))
    assert(jobs == 0, s"base ∪ increments: $jobs jobs")
    val inferred = spark.read.option("basePath", incs)
      .parquet(Layouts.incrementDir(root, 0L), Layouts.incrementDir(root, 1L))
    assert(spark.read.option("basePath", incs)
      .schema(FooterSchema.of(spark, Layouts.incrementDir(root, 0L)).get)
      .parquet(Layouts.incrementDir(root, 0L), Layouts.incrementDir(root, 1L))
      .schema == inferred.schema)
    assert(all.as[(Long, Int, Double)].collect().sorted.toSeq ==
      (rows(0L).union(rows(100L)).union(rows(200L))).as[(Long, Int, Double)]
        .collect().sorted.toSeq)
  }

  test("streaming source adapts the layout and restarts from its checkpoint") {
    import spark.implicits._
    // current generator layout: typed micros timestamps
    def mkBatch(dir: java.io.File, name: String, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("event_id", "us")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
          lit("view").as("event_type"))
        .coalesce(1).write.mode("append").parquet(new java.io.File(dir, name).getParent)

    val srcDir = tmp("graft_ev_stream")
    val out = tmp("graft_ev_out").getAbsolutePath
    val ckpt = tmp("graft_ev_ckpt").getAbsolutePath
    val base = 1700000000000000L
    def runOnce(): Unit = {
      val q = EventsTable.readStream(spark, srcDir.getAbsolutePath)
        .select(col("event_id"), col("ts"))
        .dropDuplicates("event_id")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      q.stop()
    }

    mkBatch(srcDir, "b1.parquet", Seq(1L -> base, 2L -> (base + 1000), 1L -> base))
    runOnce()
    assert(spark.read.parquet(out).count() == 2)

    // backlog arrives while "down": a cross-batch duplicate plus fresh
    mkBatch(srcDir, "b2.parquet", Seq(2L -> (base + 1000), 3L -> (base + 2000)))
    runOnce()

    val got = spark.read.parquet(out)
    // exactly-once across the restart, dedup state recovered: ids 1..3 once
    assert(got.count() == 3, got.collect().mkString(", "))
    assert(got.schema("ts").dataType == TimestampType)
    assert(got.select(max(unix_micros(col("ts")))).head().getLong(0) == base + 2000)
  }

  test("stateful streaming runs on the RocksDB state store (the 100 TB provider)") {
    // the HDFS-backed default keeps state on the executor heap; a real
    // large-state deployment runs RocksDB. Same q46-shaped pipeline,
    // provider swapped — results must be identical.
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val srcDir = tmp("graft_ev_rocks")
      val base = 1700000000000000L
      Seq((1L, base, "view"), (2L, base + 60_000_000L, "purchase"),
        (3L, base + 7200_000_000L, "view"))
        .toDF("event_id", "us", "event_type")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
          col("event_type"), lit(7L).as("user_id"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(srcDir.getAbsolutePath)
      val joined = graft.streaming.StreamJoins.viewPurchaseJoin(spark, srcDir.getAbsolutePath)
      val q = joined.writeStream.format("memory").queryName("graft_rocks_sink")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      q.stop()
      val got = spark.table("graft_rocks_sink").collect()
      // exactly the one view->purchase pair inside the hour
      assert(got.length == 1 && got(0).getAs[Long]("view_id") == 1L
        && got(0).getAs[Long]("purchase_id") == 2L, got.mkString(", "))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
