package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's JVM side: runs one workload in one closed-loop
  * client and writes raw measurements for perfbench/run.py, which
  * computes the metrics and checks every output against DuckDB.
  *
  *   Main --workload lake_search --seed 1 --seconds 20 --trace 0
  *        --data <generated inputs> --work <scratch dir> --out <dir>
  *
  * Files written to `--out`: ops.jsonl (one line per operation: class,
  * latency, result rows), oracle.jsonl (expected-answer SQL per query
  * and lake state), summary.json (set-up and end-of-run figures) and,
  * in a traced run, spans.jsonl with the Spark counters of each span.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, data: String, work: String, out: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      m.getOrElse("trace", "0") == "1", need("data"), need("work"),
      need("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.out))
    Files.createDirectories(Paths.get(a.work))
    System.setProperty("graft.index.dir", s"${a.work}/idx")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.limit.initialNumPartitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(a.out)
    rec.put("session_s", (System.nanoTime() - t0) / 1e9)
    val tr = new Tracer(spark.sparkContext, a.trace)
    val ctx = Ctx(spark, a, tr, rec)
    a.workload match {
      case "lake_search" => new LakeSearch(ctx).run()
      case "pipeline_batch" => new PipelineBatch(ctx).run()
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other'")
    }
    tr.enable(spark, false)
    // retained driver heap: everything the run left reachable
    System.gc(); Thread.sleep(200); System.gc()
    val rt = Runtime.getRuntime
    rec.put("driver_heap_mb", (rt.totalMemory - rt.freeMemory) / 1048576.0)
    rec.finish(tr)
    spark.stop()
  }
}

final case class Ctx(spark: SparkSession, a: Main.Args, tr: Tracer,
    rec: Recorder)

/** One operation's outcome: its result rows as JSON arrays (for the
  * checker) and its result row count.
  */
final case class Outcome(rows: Seq[String], n: Long)

object Outcome {
  def apply(rows: Seq[String]): Outcome = Outcome(rows, rows.size.toLong)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  /** A result cell. Doubles are written in Java's shortest round-trip
    * form so the checker compares the exact value.
    */
  def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def row(r: Row): String = r.toSeq.map(cell).mkString("[", ",", "]")

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Collects the raw measurements and writes them at exit. */
final class Recorder(out: String) {
  private val ops = ArrayBuffer.empty[String]
  private val oracle = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private val summary = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private var nextOp = 0L

  private val born = System.nanoTime()

  /** Progress line on stderr (run.py keeps it in jvm.log). */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.1fs] $msg")

  def put(k: String, v: Double): Unit = summary(k) = Json.num(v)
  def putStr(k: String, v: String): Unit = summary(k) = Json.str(v)

  /** Register the expected-answer SQL for `key` (once per key). `tables`
    * maps each view name the SQL reads to the parquet files behind it.
    */
  def expect(key: String, sql: => String,
      tables: Seq[(String, Seq[String])]): Unit =
    if (!oracle.contains(key)) oracle(key) = Json.obj(Seq(
      "key" -> Json.str(key), "sql" -> Json.str(sql),
      "tables" -> Json.obj(tables.map { case (t, fs) =>
        t -> fs.map(Json.str).mkString("[", ",", "]") })))

  def newOp(): Long = { nextOp += 1; nextOp }

  /** Time `body` as one operation. A thrown exception is recorded as a
    * failed operation, never as a fast success.
    */
  def time(op: Long, phase: String, cls: String, name: String,
      check: String, traced: Boolean, extra: Seq[(String, String)] = Nil)(
      body: => Outcome): Double = {
    val t = System.nanoTime()
    val res = try Right(body) catch {
      case e: Exception => Left(e.toString.take(300))
    }
    val ms = (System.nanoTime() - t) / 1e6
    ops += Json.obj(Seq(
      "op" -> op.toString, "phase" -> Json.str(phase),
      "cls" -> Json.str(cls), "name" -> Json.str(name),
      "check" -> Json.str(check), "traced" -> (if (traced) "1" else "0"),
      "ms" -> Json.num(ms)) ++ extra ++ (res match {
        case Right(o) => Seq("rows" -> o.rows.mkString("[", ",", "]"),
          "n" -> o.n.toString)
        case Left(err) => Seq("error" -> Json.str(err))
      }))
    ms
  }

  def finish(tr: Tracer): Unit = {
    def write(name: String, lines: Iterable[String]): Unit =
      Files.write(Paths.get(out, name),
        lines.map(_ + "\n").mkString.getBytes(StandardCharsets.UTF_8))
    write("ops.jsonl", ops)
    write("oracle.jsonl", oracle.values)
    if (tr.on) {
      tr.drain()
      write("spans.jsonl", SpanStats.lines(tr))
    }
    write("summary.json", Seq(Json.obj(summary.toSeq)))
  }
}

/** Per-span Spark counters, written one JSON line per span. */
object SpanStats {
  def lines(tr: Tracer): Seq[String] = {
    val spans = tr.spans.toSeq
    val byStart = spans.sortBy(_.startMs)
    // a job without the span property (submitted from a graft thread
    // pool) belongs to the innermost span open when it was submitted
    def byTime(ms: Long): Int = byStart.filter(s =>
      s.startMs <= ms && ms <= s.startMs + (s.endNs - s.startNs) / 1000000L)
      .sortBy(s => -s.startNs).headOption.map(_.id).getOrElse(-1)
    val jobsBySpan = tr.jobs.values().asScala.toSeq.groupBy(j =>
      if (j.span >= 0) j.span else byTime(j.submitMs))
    spans.map { s =>
      val js = jobsBySpan.getOrElse(s.id, Nil)
      val st = js.flatMap(_.stages).flatMap(id => Option(tr.stages.get(id)))
      def sum(f: StageRec => Long) = st.map(f).sum
      val metadataJobs = js.count { j =>
        val ss = j.stages.flatMap(id => Option(tr.stages.get(id)))
        ss.map(_.inputBytes).sum == 0 && ss.map(_.shuffleRead).sum == 0 &&
          ss.map(_.shuffleWrite).sum == 0
      }
      // wall time covered by this span's own jobs (overlaps merged)
      val jobMs = {
        val iv = js.filter(_.endMs > 0).map(j => (j.submitMs, j.endMs))
          .sortBy(_._1)
        var total = 0L
        var cur: Option[(Long, Long)] = None
        iv.foreach { case (a, b) => cur match {
          case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
          case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
          case None => cur = Some((a, b))
        } }
        total + cur.map { case (ca, cb) => cb - ca }.getOrElse(0L)
      }
      Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "op" -> s.op.toString,
        "start_ms" -> s.startMs.toString,
        "ms" -> Json.num((s.endNs - s.startNs) / 1e6),
        "jobs" -> js.size.toString,
        "stages" -> js.map(_.stages.size).sum.toString,
        "tasks" -> sum(_.tasks).toString,
        "exec_run_ms" -> sum(_.runMs).toString,
        "exec_cpu_ns" -> sum(_.cpuNs).toString,
        "input_bytes" -> sum(_.inputBytes).toString,
        "input_records" -> sum(_.inputRecords).toString,
        "shuffle_read_bytes" -> sum(_.shuffleRead).toString,
        "shuffle_write_bytes" -> sum(_.shuffleWrite).toString,
        "spill_bytes" -> sum(_.spill).toString,
        "metadata_jobs" -> metadataJobs.toString,
        "job_ms" -> jobMs.toString))
    } ++ tr.streamBatches.toSeq.map { case (name, ms) =>
      Json.obj(Seq("stream_batch" -> Json.str(name), "ms" -> ms.toString))
    }
  }
}
