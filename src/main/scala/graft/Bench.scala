package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // count() over limit() plans executes as CollectLimit, whose
      // default 1-partition first pass re-runs selective index probes
      // several times before finding enough rows — start at full width
      .config("spark.sql.limit.initialNumPartitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warmup pass: runs every query once untimed. This (a) JIT/codegen-
    // warms the JVM and (b) builds the cached index tables, so the
    // timed pass measures steady-state query latency — the same thing
    // the reference's harnesses time (search over pre-built indexes,
    // reference bench.py measures page fetch with the index in place).
    spark.range(1000000).selectExpr("sum(id)").collect()
    // SPARK_GRAFT_ONLY=q1,q2 isolates queries (warm single-query
    // re-measures, regression triage) without touching the full-suite
    // default
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    selected.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    // min of 2 timed runs: single-shot numbers at this scale are
    // dominated by GC/JIT luck of the shared JVM, not by the plans.
    // A query that THROWS must not be recorded as a fast success — a
    // near-instant failure would otherwise IMPROVE the reported total.
    val timed = selected.map { case (name, fn) =>
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        (ok, (System.nanoTime() - t0) / 1e9)
      }
      name -> (ts.forall(_._1), ts.map(_._2).min)
    }
    val failed = timed.collect { case (n, (false, _)) => n }.toSeq.sorted
    val results = timed.collect { case (n, (true, t)) => n -> t }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // locale-pinned: the f-interpolator honors the default locale, and a
    // comma-decimal locale would make the JSON line unparseable
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Full-precision per-query map for inspection (the stdout line below
    // must stay parseable from a bounded log tail, so it carries only the
    // slowest entries; this file always carries everything).
    val fullJson = results.toSeq.sortBy(-_._2)
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString(s"""{"total":${fmt(total)},"sf":"$sfDir","failed":[${
        failed.map("\"" + _ + "\"").mkString(",")}],"queries":{""", ",", "}}")
    // a filtered run must not clobber the full-suite artifact
    if (only.isEmpty)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_FULL.json"),
        fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: Throwable => () }
    // ONE machine-readable line. The harness that records this keeps only
    // a bounded tail of the build log, so the line must stay comfortably
    // under ~1.9 KB: include per-query timings greedily from slowest to
    // fastest until the budget is hit, and say how many were omitted.
    val sfName = new java.io.File(sfDir).getName
    val sorted = results.toSeq.sortBy(-_._2)
    val budget = 1600 // chars for the queries map body
    val picked = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    sorted.foreach { case (k, v) =>
      val e = s"\"" + k + "\":" + fmt(v)
      if (used + e.length + 1 <= budget) { picked += e; used += e.length + 1 }
    }
    val omitted = results.size - picked.size
    val qs = picked.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"omitted_fastest":$omitted,"queries":$qs,"sf":"$sfName"}"""
    println(line)
    // machine-parse fallback (additive): the SAME line as a bare file,
    // so a log pipeline that decorates stdout can still parse the bench
    // — a failed write deletes the file rather than leave a stale run's
    // line behind, and says so on stderr
    if (only.isEmpty) {
      val out = java.nio.file.Paths.get("BENCH_OUT.json")
      try java.nio.file.Files.write(out,
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch {
        case e: java.io.IOException =>
          val stale =
            try { java.nio.file.Files.deleteIfExists(out); "removed any stale copy" }
            catch { case d: java.io.IOException => s"stale copy NOT removed: $d" }
          System.err.println(s"[bench] WARNING: could not write $out ($e); $stale")
      }
    }
    spark.stop()
  }
}
