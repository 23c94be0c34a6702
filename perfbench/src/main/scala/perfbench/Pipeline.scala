package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** A fixed sequence of graft's pipeline operators (SparkEntry), each run
  * cold on a fresh input directory and index root.
  */
final class PipelineBatch(c: Ctx) extends Workload(c) {
  // minhash_lookup is left out to fit the run budget: the band-probe
  // lookup it times also runs inside streaming_index_search_minhash
  val Steps = Seq("dedup_minhash", "dedup_span", "knn_join_ivf",
    "dedup_semantic", "dsir_sample", "streaming_classifier",
    "streaming_index_search_minhash")
  private val tables = Seq("documents", "embeddings")

  /** What a pipeline user pays once before the steps: graft's SQL
    * functions registered, and the inputs staged and loaded.
    */
  private def setupOnce(r: Int): Unit = {
    graft.GraftExtensions.register(spark)
    val dir = stage(s"data_r$r", tables)
    tables.foreach(t => graft.Tables.load(spark, dir, t).count())
  }

  /** One pass of every step, on a fresh input directory and index root.
    * `traced(i)` says whether step i runs traced.
    */
  private def runPass(p: Int, deadline: Long, phase: String,
      traced: Int => Boolean): Unit = {
    val dir = stage(s"pass_p$p", tables)
    useIndexRoot(s"idx_p$p")
    Steps.zipWithIndex.foreach { case (step, i) =>
      if (System.nanoTime() < deadline) {
        tr.enable(spark, traced(i))
        val id = rec.newOp()
        rec.expect(step, graft.SparkEntry.oracleSql(step),
          tables.map(t => t -> Seq(s"${a.data}/$t.parquet")))
        var rows = Array.empty[Row]
        var schema: Option[StructType] = None
        rec.time(id, phase, "step", step, step, traced(i),
          Seq("pass" -> p.toString)) {
          tr(s"ops.step.$step", id) {
            val df = graft.SparkEntry.queries(step)(spark, dir)
            rows = df.collect()
            schema = Some(df.schema)
          }
          Outcome(Nil, rows.length.toLong)
        }
        // every counter of a traced step reaches the tracer before the
        // next step may turn the listener off
        if (traced(i)) tr.drain()
        // the output is checked against DuckDB by the runner
        schema.foreach { sc =>
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), sc)
            .coalesce(1).write.mode("overwrite")
            .parquet(s"${a.out}/steps/$phase.p$p.$step")
        }
      }
    }
  }

  def run(): Unit = {
    setup(3)(setupOnce)
    val docs = spark.read.parquet(s"${a.data}/documents.parquet").count()
    rec.put("input_docs", docs.toDouble)
    rec.put("data_bytes", tables.map(t =>
      Files.size(Paths.get(a.data, s"$t.parquet"))).sum.toDouble)
    val t0 = System.nanoTime()
    val deadline = t0 + a.seconds * 1000000000L
    // every step runs at least once. A traced run makes three complete
    // passes: a cold untraced one (not compared), then two in which the
    // steps alternate, each traced in one pass and untraced in the
    // other: the traced run is the later one for three steps and the
    // untraced run for four
    val complete = if (tr.on) 3 else 1
    var p = 0
    while (p < complete || (!tr.on && System.nanoTime() < deadline)) {
      val (phase, traced) =
        if (!tr.on) ("timed", (_: Int) => false)
        else if (p == 0) ("cold", (_: Int) => false)
        else ("timed", (i: Int) => (i + p) % 2 == 1)
      runPass(p, if (p < complete) Long.MaxValue else deadline, phase, traced)
      rec.log(s"pass $p done")
      p += 1
    }
    rec.put("window_s", (System.nanoTime() - t0) / 1e9)
    rec.put("passes", p)
    rec.put("index_bytes.all", bytesUnder(s"${a.work}/idx_p0"))
    tr.enable(spark, tr.on)
    layerProbes(s"${a.data}/documents.parquet",
      s"${a.data}/embeddings.parquet")
  }
}
