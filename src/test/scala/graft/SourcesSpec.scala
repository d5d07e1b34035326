package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.FanPipeline
import graft.sources.{CsvSource, JsonlSink, ParquetSink, Tables}

/** Source/sink edge cases (FIXTURES §A4): permissive JSON drop semantics,
  * filter whitespace handling, missing-field behavior, sniffing CSV reads
  * at the distributed path, parquet round-trips.
  */
class SourcesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def tmpFile(suffix: String, content: String): String = {
    val p = Files.createTempFile("graft-src-", suffix)
    Files.writeString(p, content)
    p.toString
  }

  test("JSON scan drops malformed lines and non-object JSON") {
    val path = tmpFile(".json",
      """{"FanID":"F1","DeviceType":"Mobile","RaceID":"Cup 25"}
        |not json at all
        |[1,2,3]
        |42
        |{"FanID":"F2","DeviceType":"Other","RaceID":"x"}
        |{"FanID":"F3"}
        |""".stripMargin)
    val df = FanPipeline.readEvents(spark, path)
    assert(df.count() == 3) // F1, F2, F3 survive; 3 bad lines dropped
    // missing fields → null, row kept
    assert(df.filter(col("FanID") === "F3" && col("DeviceType").isNull).count() == 1)
  }

  test("device filter: whitespace-padded 'Other' dropped, missing kept") {
    val path = tmpFile(".json",
      """{"FanID":"F1","DeviceType":" Other "}
        |{"FanID":"F2","DeviceType":"OTHER"}
        |{"FanID":"F3"}
        |{"FanID":"F4","DeviceType":"Mobile"}
        |""".stripMargin)
    val kept = FanPipeline.readEvents(spark, path)
      .filter(FanPipeline.deviceFilter)
      .select(col("FanID")).collect().map(_.getString(0)).sorted
    // " Other " trimmed → dropped; "OTHER" ≠ "Other" (case-sensitive) → kept
    assert(kept.toSeq == Seq("F2", "F3", "F4"))
  }

  test("CsvSource sniffs non-comma delimiters on a distributed read") {
    for (d <- Seq(";", "|", "\t")) {
      val path = tmpFile(".csv", s"a${d}b${d}c\n1${d}2${d}3\n4${d}5${d}6\n")
      val df = CsvSource.read(spark, path)
      assert(df.columns.toSeq == Seq("a", "b", "c"), s"delimiter '$d'")
      assert(df.count() == 2)
    }
  }

  test("parquet sink round-trip preserves data, partitionBy prunes") {
    val out = Files.createTempDirectory("graft-pq-").toString
    val orders = Tables(spark, TestSpark.sf0001, "orders")
    ParquetSink.write(orders, out, partitionBy = Seq("o_orderstatus"))
    val back = ParquetSink.read(spark, out)
    assert(back.count() == orders.count())
    val statuses = back.select("o_orderstatus").distinct().count()
    assert(statuses == 3)
    // partition pruning visible in the plan: a status filter reads 1 dir
    val plan = back.filter(col("o_orderstatus") === "F")
      .queryExecution.executedPlan.toString
    assert(back.filter(col("o_orderstatus") === "F").count() ==
      orders.filter(col("o_orderstatus") === "F").count())
    assert(plan.contains("o_orderstatus"))
  }

  test("single-shard JSONL sink content is valid NDJSON with nulls kept") {
    import spark.implicits._
    val df = Seq(("a", Option(1L)), ("b", None)).toDF("k", "v")
    val out = Files.createTempDirectory("graft-jsonl-t-").toString
    graft.sources.JsonlSink.write(df, out, "t")
    val lines = Files.readAllLines(java.nio.file.Paths.get(out, "t-00000-of-00001.jsonl"))
    assert(lines.size() == 2)
    assert(lines.stream().anyMatch(_.contains("\"v\":null")))
  }

  /** What one writer over `df`'s partitions (`coalesce(1)`) emits: every
    * row's line, in partition order (the order `collect` returns).
    */
  private def singleWriterBytes(df: DataFrame, pythonStyle: Boolean): Array[Byte] = {
    val lines =
      if (pythonStyle) df.collect().map(JsonlSink.pythonJson(_, df.schema))
      else df.select(to_json(struct(df.columns.map(c => col(s"`$c`")): _*),
        Map("ignoreNullFields" -> "false"))).collect().map(_.getString(0))
    lines.map(_ + "\n").mkString.getBytes(UTF_8)
  }

  private def shardOf(out: String, prefix: String): Array[Byte] =
    Files.readAllBytes(Paths.get(out, s"$prefix-00000-of-00001.jsonl"))

  /** 16 partitions of 10 ids each; partitions 1, 4, 7, 10 and 13 are
    * empty, so part-00010 would sort before part-00002 by name.
    */
  private def gappy: DataFrame = spark.range(0, 160, 1, 16)
    .filter((col("id") / 10).cast("long") % 3 =!= 1)
    .select(col("id"),
      when(col("id") % 7 === 0, lit(null)).otherwise(concat(lit("fan-ü-"), col("id"))).as("name"))

  test("JSONL sink: shard is the single-writer byte stream over 16 partitions") {
    val df = gappy
    assert(df.rdd.getNumPartitions == 16)
    for (pythonStyle <- Seq(false, true)) {
      val out = Files.createTempDirectory("graft-sink-").toString
      JsonlSink.write(df, out, "t", pythonStyle)
      val got = shardOf(out, "t")
      assert(got.sameElements(singleWriterBytes(df, pythonStyle)), s"pythonStyle=$pythonStyle")
      val ids = new String(got, UTF_8).linesIterator
        .map(l => "\"id\": ?(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong).toSeq
      assert(ids == ids.sorted && ids.size == 110)
    }
  }

  test("JSONL sink: files split by maxRecordsPerFile join in counter order") {
    val key = "spark.sql.files.maxRecordsPerFile"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "1")
      val out = Files.createTempDirectory("graft-sink-").toString
      JsonlSink.write(gappy, out, "t")
      assert(shardOf(out, "t").sameElements(singleWriterBytes(gappy, pythonStyle = false)))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("JSONL sink: an empty DataFrame gives a 0-byte shard") {
    import spark.implicits._
    for (df <- Seq(Seq.empty[(String, Long)].toDF("k", "v"), gappy.filter(lit(false)))) {
      val out = Files.createTempDirectory("graft-sink-").toString
      JsonlSink.write(df, out, "t")
      assert(shardOf(out, "t").isEmpty)
    }
  }

  test("JSONL sink: a second write replaces the shard and leaves no temp dir") {
    import spark.implicits._
    def temps(): Set[Path] = scala.util.Using.resource(
      Files.list(Paths.get(System.getProperty("java.io.tmpdir"))))(
      _.iterator.asScala.filter(_.getFileName.toString.startsWith("graft-jsonl-")).toSet)
    val before = temps()
    val out = Files.createTempDirectory("graft-sink-").toString
    JsonlSink.write(gappy, out, "t")
    val second = Seq(("a", 1L)).toDF("k", "v")
    JsonlSink.write(second, out, "t")
    assert(shardOf(out, "t").sameElements(singleWriterBytes(second, pythonStyle = false)))
    assert(scala.util.Using.resource(Files.list(Paths.get(out)))(
      _.iterator.asScala.map(_.getFileName.toString).toList) == List("t-00000-of-00001.jsonl"))
    assert(temps() -- before == Set.empty)
  }

  test("fan pipeline: the shard write runs more than one task") {
    // a coalesce(1) or repartition(1) in front of the sink would be pushed
    // down through the whole narrow plan and run it as one task
    val in = Files.createTempDirectory("graft-fan-in-")
    for (f <- 0 until 4)
      Files.writeString(in.resolve(s"events-$f.json"), (0 until 50).map(i =>
        s"""{"FanID":"F$f-$i","RaceID":"Cup $i","DeviceType":"Mobile","ViewerLocationCountry":"Spain"}"""
      ).mkString("", "\n", "\n"))
    val csv = tmpFile(".csv",
      "Country,Capital,Continent,Official Language,Currency\nSpain,Madrid,Europe,Spanish,EUR\n")
    val out = Files.createTempDirectory("graft-sink-").toString

    val group = s"fan-write-${System.nanoTime()}"
    val marker = s"$group-marker"
    val jobGroups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stageJobs = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val jobTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    @volatile var markerDone = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobGroups.put(e.jobId, Option(e.properties.getProperty("spark.jobGroup.id")).getOrElse(""))
        e.stageIds.foreach(stageJobs.put(_, e.jobId))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageJobs.get(e.stageId)).foreach(j => jobTasks.merge(j, 1, (a: Int, b: Int) => a + b))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobGroups.get(e.jobId) == marker) markerDone = true
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "fan pipeline write")
      FanPipeline.run(spark, in.toString, csv, out, "fan")
      // listener events arrive in order: once the marker job's end is
      // seen, every event of the pipeline run has been seen
      sc.setJobGroup(marker, "listener marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markerDone && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerDone)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val writeJob = jobGroups.asScala.collect { case (j, g) if g == group => j }.max
    assert(jobTasks.getOrDefault(writeJob, 0) > 1)
    assert(new String(shardOf(out, "fan"), UTF_8).linesIterator.size == 200)
  }

  test("binaryFile ingestion: glob prunes at listing, metadata length is exact") {
    import org.apache.spark.sql.functions.col
    val rows = graft.sources.BinaryFiles.ingestDocs(spark, TestSpark.sf0001, docCap = 20)
      .collect()
    assert(rows.length == 20)
    // plant a non-matching file next to the staged .bin files; the glob
    // filter must exclude it at LISTING time (re-run sees the same 20)
    java.nio.file.Files.write(
      new java.io.File(graft.sources.BinaryFiles.stageFor(TestSpark.sf0001, 20),
        "decoy.tmp").toPath,
      "not media".getBytes("UTF-8"))
    val again = graft.sources.BinaryFiles.ingestDocs(spark, TestSpark.sf0001, docCap = 20)
    assert(again.count() == 20, "pathGlobFilter must prune the decoy at listing time")
    // staging is keyed by corpus too: a second source dir at the same cap
    // must not inherit the first corpus's staged files
    assert(graft.sources.BinaryFiles.stageFor("/root/testdata/sf0.01", 20).getAbsolutePath
      != graft.sources.BinaryFiles.stageFor(TestSpark.sf0001, 20).getAbsolutePath)
    val docs = graft.sources.Tables(spark, TestSpark.sf0001, "documents")
      .filter(col("doc_id") < 20).select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      assert(r.getInt(1) == docs(r.getLong(0)).getBytes("UTF-8").length,
        s"doc ${r.getLong(0)}: binaryFile length metadata wrong")
    }
  }
}
