package graft.sources

import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths}
import java.nio.file.StandardCopyOption.REPLACE_EXISTING
import java.nio.file.StandardOpenOption.{CREATE_NEW, READ, WRITE}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Single-shard JSON-Lines sink with Beam's shard naming
  * (`{prefix}-00000-of-00001.jsonl`, the reference `src/pipeline.py:292-296`,
  * `num_shards=1`).
  *
  * Rows are serialized with `to_json` over the full row struct with
  * `ignoreNullFields=false`, matching `json.dumps(..., ensure_ascii=False)`
  * (reference `src/pipeline.py:200`): raw UTF-8, nulls kept.
  *
  * The write stays parallel: every task serializes its own partition into
  * a part file, so the scan and whatever narrow plan feeds the sink run on
  * all cores. The driver then joins the part files into the one shard in
  * ascending (task partition, file counter) order — the order in which a
  * single writer over the same partitions (`coalesce(1)`) would emit the
  * rows, so the shard's bytes are the same. A `coalesce(1)` here would be
  * pushed down through the whole narrow plan and run it in one task.
  */
object JsonlSink {

  /** Render one value exactly as Python `json.dumps(v, ensure_ascii=False)`
    * would (`/root/reference/src/pipeline.py:200`): `", "` / `": "`
    * separators (the dumps default without `indent`), raw UTF-8 (only
    * `"`. `\` and control chars escaped, control chars as the named
    * escapes then `\u00XX`), keys in schema field order (= Python dict
    * insertion order). Opt-in byte-exact mode for the golden-parity
    * test; the default `to_json` path stays the production serializer
    * (codegen'd, no row-by-row JVM string building).
    *
    * Floats: the golden corpus carries none at top level (seconds
    * watched is integral); Python float repr (shortest round-trip,
    * `1e-07` style exponents) is NOT reproduced here — integral doubles
    * render `x.0` like Python, which covers every value the reference
    * emits.
    */
  private[graft] def pythonJson(value: Any, dt: DataType): String = (value, dt) match {
    case (null, _) => "null"
    case (b: Boolean, _) => if (b) "true" else "false"
    case (s: String, _) => pythonQuote(s)
    case (r: Row, st: StructType) =>
      st.fields.zipWithIndex.map { case (f, i) =>
        s"${pythonQuote(f.name)}: ${pythonJson(r.get(i), f.dataType)}"
      }.mkString("{", ", ", "}")
    case (seq: scala.collection.Seq[_], ArrayType(et, _)) =>
      seq.map(pythonJson(_, et)).mkString("[", ", ", "]")
    case (m: scala.collection.Map[_, _], MapType(_, vt, _)) =>
      m.map { case (k, v) => s"${pythonQuote(String.valueOf(k))}: ${pythonJson(v, vt)}" }
        .mkString("{", ", ", "}")
    case (d: Double, _) if d.isWhole && !d.isInfinite => s"${d.toLong}.0"
    case (f: Float, _) if f.isWhole && !f.isInfinite => s"${f.toLong}.0"
    case (v, _) => String.valueOf(v)
  }

  private def pythonQuote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Spark's part-file name: `part-{task partition}-{job id}-c{file counter}…`;
    * the counter grows when `maxRecordsPerFile` splits a task's output.
    */
  private val PartFile = """part-(\d+)-.*-c(\d+)\..*""".r

  /** @param pythonStyle reproduce Python `json.dumps` byte layout
    *   (golden-parity mode) instead of Spark's compact `to_json`.
    */
  def write(df: DataFrame, outputDir: String, prefix: String,
            pythonStyle: Boolean = false): String = {
    val tmp = Files.createTempDirectory("graft-jsonl-")
    try {
      val serialized =
        if (pythonStyle) {
          val schema = df.schema
          df.map(r => pythonJson(r, schema))(Encoders.STRING).toDF("value")
        } else df.select(
          to_json(struct(df.columns.map(c => col(s"`$c`")): _*),
            Map("ignoreNullFields" -> "false")).as("value"))
      val parts = tmp.resolve("parts")
      serialized.write.text(parts.toString)

      val ordered = Using.resource(Files.list(parts))(_.iterator.asScala.toList)
        .map(p => (p.getFileName.toString, p))
        .collect { case (PartFile(task, counter), p) => ((task.toInt, counter.toInt), p) }
        .sortBy(_._1).map(_._2)
      val staged = tmp.resolve("shard.jsonl")
      Using.resource(FileChannel.open(staged, CREATE_NEW, WRITE)) { out =>
        ordered.foreach { p =>
          Using.resource(FileChannel.open(p, READ)) { in =>
            val size = in.size()
            var pos = 0L
            while (pos < size) pos += in.transferTo(pos, size - pos, out)
          }
        }
      }
      Files.createDirectories(Paths.get(outputDir))
      val dest = Paths.get(outputDir, s"$prefix-00000-of-00001.jsonl")
      Files.move(staged, dest, REPLACE_EXISTING)
      dest.toString
    } finally {
      // walk closed — it holds fds
      Using.resource(Files.walk(tmp))(
        _.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p)))
    }
  }
}
