package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, to_json}
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

import graft.{Bench, GraftSession, JsonText, SparkEntry}
import graft.pipeline.FanPipeline
import graft.sources.{CountryLut, JsonlSink}

/** One workload: a fixed list of operations, run in a closed loop. */
abstract class Workload {
  def ops: IndexedSeq[String]
  /** One timed operation. */
  def run(op: String): Unit
  /** The warm-up run of `op`; it also leaves the output that is checked. */
  def check(op: String): Unit = run(op)
  /** Extra attribution timings taken after the traced section. */
  def probes(): Map[String, Double] = Map.empty
}

/** The reference pipeline, called layer by layer as `FanPipeline.run` does. */
final class FanEtl(spark: SparkSession, glob: String, csv: String, outDir: String) extends Workload {
  val ops: IndexedSeq[String] = Vector("fan_pipeline")

  def run(op: String): Unit = Trace.span(op, "pipeline") {
    val lut = Trace.span("pipeline.lut_build", "pipeline")(CountryLut.df(spark, csv))
    val out = Trace.span("pipeline.plan", "pipeline")(
      FanPipeline.transform(FanPipeline.readEvents(spark, glob), lut))
    Trace.span("sources.jsonl_write", "sources")(JsonlSink.write(out, outDir, "result"))
  }

  /** Scan alone, then scan + transform, each forced through the noop sink. */
  override def probes(): Map[String, Double] = {
    def med(f: => Unit) = Main.median((1 to 3).map(_ => Main.timed(f)))
    val scan = med(Main.force(FanPipeline.readEvents(spark, glob)))
    val transform = med(Main.force(
      FanPipeline.transform(FanPipeline.readEvents(spark, glob), CountryLut.df(spark, csv))))
    Map("json_scan_s" -> scan, "transform_s" -> transform)
  }
}

/** Entries of the engine's query board (`SparkEntry.queries`). Each is
  * constructed (the query function runs, with whatever eager work it
  * does), then executed through the noop sink.
  */
final class Board(spark: SparkSession, tables: String, val ops: IndexedSeq[String],
    layer: String, verifyDir: String, corrupt: Set[(String, Int)]) extends Workload {
  private val fns = ops.map(op => op -> SparkEntry.queries(op)).toMap
  private val calls = mutable.Map.empty[String, Int].withDefaultValue(0)

  /** Call `op`'s query function. The benchmark's own tests name calls in
    * `corrupt` (`op` and its 1-based call number) whose result is emptied,
    * to show that the checked call is the one whose fault fails the run.
    */
  private def construct(op: String): DataFrame = {
    calls(op) += 1
    val df = fns(op)(spark, tables)
    if (corrupt((op, calls(op)))) df.limit(0) else df
  }

  def run(op: String): Unit = Trace.span(op, layer) {
    val df = Trace.span(s"$layer.construct", layer)(construct(op))
    Trace.span(s"$layer.execute", layer)(Main.force(df))
  }

  override def check(op: String): Unit =
    Main.flattenNested(construct(op)).coalesce(1).write.mode("overwrite")
      .parquet(s"$verifyDir/$op")

  /** The manifest files `tools/compare_oracle.py` reads next to the dumps. */
  def writeManifest(failures: collection.Map[String, String]): Unit = {
    import JsonText.{quote => q}
    def obj(kv: Iterable[(String, String)]) = kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.createDirectories(Paths.get(verifyDir))
    Files.writeString(Paths.get(s"$verifyDir/oracle_sql.json"), obj(SparkEntry.oracleSql.filter(kv => fns.contains(kv._1))))
    Files.writeString(Paths.get(s"$verifyDir/queries.json"), ops.sorted.map(q).mkString("[", ",", "]"))
    Files.writeString(Paths.get(s"$verifyDir/_failures.json"), obj(failures))
  }
}

/** Benchmark driver, launched by `perfbench/run.py`:
  *
  *   1. start the session (`GraftSession.tune(...).getOrCreate()`);
  *   2. two warm-up passes in the workload's own order; the second writes
  *      the outputs that are checked, so a fault that shows only once an
  *      operation has run before (a memo, a cache, state left by the
  *      first call) fails the run;
  *   3. timed section: seeded permutations of the workload's operations,
  *      whole passes until `--seconds` have elapsed;
  *   4. with `--trace 1`, a second timed section with spans and listeners
  *      on and a third without, then attribution probes and the
  *      calibration probe.
  *
  * Everything is written as one JSON document to `--out`.
  */
object Main {
  def timed(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }

  def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }

  def force(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Nested columns as JSON text, so the checker can sort the rows. */
  def flattenNested(df: DataFrame): DataFrame = df.select(df.schema.fields.toSeq.map { f =>
    f.dataType match {
      case _: StructType | _: MapType | _: ArrayType => to_json(col(s"`${f.name}`")).as(f.name)
      case _ => col(s"`${f.name}`")
    }
  }: _*)

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  /** Heap in use right after the most recent collection of each collector. */
  private def heapAfterGcBytes: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case b: com.sun.management.GarbageCollectorMXBean => Option(b.getLastGcInfo) }
    .flatten.map(_.getMemoryUsageAfterGc.asScala.collect {
      case (pool, u) if heapPools(pool) => u.getUsed
    }.sum).maxOption.getOrElse(0L)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val survey = a("workload") == "survey"
    val traced = a("trace") == "1" || survey
    val cores = a("cores").toInt
    val work = a("work")

    val builder = GraftSession.tune(SparkSession.builder().master(s"local[$cores]").appName("perfbench"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
    if (traced) builder
      .config("spark.sql.queryExecutionListeners", classOf[PlanPhaseListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamProgressListener].getName)
    var spark: SparkSession = null
    val sessionStart = timed { spark = builder.getOrCreate() }
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.register(spark)
    if (traced) Trace.install(spark.sparkContext)
    val sessionReady = Trace.nowUs

    val verifyDir = s"$work/verify"
    val corrupt = a.get("corrupt").toSet[String].flatMap(_.split(",")).map { c =>
      val Array(op, call) = c.split(":"); (op, call.toInt)
    }
    def board(ops: IndexedSeq[String], layer: String) = new Board(spark, a("tables"), ops, layer, verifyDir, corrupt)
    val w: Workload = a("workload") match {
      case "fan_etl" => new FanEtl(spark, a("fan-glob"), a("fan-csv"), s"$work/fan_out")
      case "ops_mix" => board(a("ops").split(",").toVector, "operators")
      case "stream_replay" => board(a("ops").split(",").toVector, "streaming")
      case "survey" =>
        val (stream, batch) = SparkEntry.queries.keys.toVector.sorted.partition(_.startsWith("q_stream"))
        board(batch ++ stream, "operators")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val failures = mutable.LinkedHashMap.empty[String, String]
    var heapPeak = 0L
    def attempt(section: String, pass: Int, op: String)(f: => Unit): Unit = {
      val t = System.nanoTime()
      val ok = try { f; true } catch {
        case e: Throwable =>
          failures.getOrElseUpdate(op, s"$section: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(400))
          false
      }
      ops += Map("op" -> op, "section" -> section, "pass" -> pass, "s" -> (System.nanoTime() - t) / 1e9, "ok" -> ok)
      heapPeak = heapPeak max heapAfterGcBytes
    }
    def order(salt: Int, pass: Int) = new scala.util.Random(seed * 1000003L + salt * 1009L + pass).shuffle(w.ops)

    def section(name: String, salt: Int): Unit = {
      val t0 = System.nanoTime()
      var pass = 0
      while (pass == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
        val p = pass
        val wall = timed(Trace.span("pass", "bench")(order(salt, p).foreach(op => attempt(name, p, op)(w.run(op)))))
        passes += Map("section" -> name, "pass" -> p, "s" -> wall)
        pass += 1
      }
    }
    def tracedRun(body: => Unit): Map[String, Any] = {
      Trace.enabled = true
      Trace.span("run", "bench")(body)
      Trace.enabled = false
      PerfbenchBus.drain(spark.sparkContext)
      Trace.records
    }

    val extra = mutable.LinkedHashMap.empty[String, Any]
    if (survey) {
      // every board query twice in board order, traced: first call, then warm
      extra("trace") = tracedRun(Seq("cold", "warm").zipWithIndex.foreach { case (name, p) =>
        val wall = timed(Trace.span("pass", "bench")(w.ops.foreach(op => attempt(name, p, op)(w.run(op)))))
        passes += Map("section" -> name, "pass" -> p, "s" -> wall)
      })
    } else {
      // warm-up in the workload's own order, the same in every run: the
      // first calls shape the JIT's profiles, so a seeded order here would
      // move the timed passes from run to run
      w.ops.foreach(op => attempt("warmup", 0, op)(w.run(op)))
      // a second pass, which writes the checked outputs: a repeat call takes
      // the paths the timed calls take (memoized results, tables the first
      // call set up), and the driver-side code keeps getting faster for
      // several calls of each operation (JIT), so the timed passes start
      // later on that curve
      w.ops.foreach(op => attempt("warmup", 1, op)(w.check(op)))
      w match { case b: Board => b.writeManifest(failures); case _ => }
      extra("warmup_end_us") = Trace.nowUs
      section("timed", 1)
      if (traced) {
        // untraced passes on both sides, so the tracing overhead is not
        // confused with the warm-up curve
        extra("trace") = tracedRun(section("traced", 2))
        section("after", 3)
        extra("probes") = w.probes()
        extra("calib_s") = (1 to 3).map(_ => timed(Bench.calibrationProbe(spark, a("tables"))))
      }
    }

    val out = Map[String, Any](
      "cores" -> cores, "session_start_s" -> sessionStart, "session_ready_us" -> sessionReady,
      "ops" -> ops.toSeq, "passes" -> passes.toSeq,
      "failures" -> failures.toMap, "heap_after_gc_peak_mb" -> heapPeak / 1048576.0) ++ extra
    Files.writeString(Paths.get(a("out")), Json.render(out))
    spark.stop()
  }
}

/** Minimal JSON rendering for the result document. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case s: String => JsonText.quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${JsonText.quote(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => JsonText.quote(other.toString)
  }
}
