package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.api._
import graft.core.{IndexStore, Lake, Layout}
import graft.index._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** What the workloads share: the seeded panel, input staging, repeated
  * set-up and the traced run's kernel probes.
  */
abstract class Workload(c: Ctx) {
  protected val spark = c.spark
  protected val a = c.a
  protected val tr = c.tr
  protected val rec = c.rec

  /** (op, query, k) lines of the generated panel. */
  protected lazy val panel: IndexedSeq[(String, String, Int)] =
    Files.readAllLines(Paths.get(a.data, "panel.tsv")).asScala
      .filter(_.nonEmpty).map { l =>
        val Array(op, q, k) = l.split("\t", -1)
        (op, q, k.toInt)
      }.toIndexedSeq

  /** A fresh input directory holding links to the generated tables:
    * graft keys its split lakes and index caches by this directory, so
    * each copy starts cold.
    */
  protected def stage(name: String, tables: Seq[String]): String = {
    val dir = Paths.get(a.work, name)
    Files.createDirectories(dir)
    tables.foreach { t =>
      val dst = dir.resolve(s"$t.parquet")
      if (!Files.exists(dst))
        Files.createLink(dst, Paths.get(a.data, s"$t.parquet"))
    }
    dir.toString
  }

  /** A fresh copy (links) of the generated lake directory `sub`. */
  protected def stageLake(name: String, sub: String): String = {
    val dir = Paths.get(a.work, name, sub)
    Files.createDirectories(dir)
    scala.util.Using.resource(Files.list(Paths.get(a.data, "lake", sub))) {
      _.iterator().asScala.foreach(f =>
        Files.createLink(dir.resolve(f.getFileName), f))
    }
    dir.toString
  }

  protected def useIndexRoot(name: String): Unit =
    System.setProperty("graft.index.dir", s"${a.work}/$name")

  /** Run `setupOnce` `reps` times, each on fresh directories, and
    * record the median. The last set-up's lake is the one measured.
    */
  protected def setup(reps: Int)(setupOnce: Int => Unit): Unit = {
    val ts = (0 until reps).map { r =>
      val t = System.nanoTime()
      setupOnce(r)
      val dt = (System.nanoTime() - t) / 1e9
      rec.log(f"set-up $r: $dt%.2f s")
      dt
    }
    rec.put("setup_reps", reps)
    rec.put("setup_once_s", median(ts))
    rec.putStr("setup_each_s", ts.mkString(","))
  }

  protected def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  protected def rows(df: DataFrame): Outcome =
    Outcome(df.collect().toSeq.map(Json.row))

  /** Bytes of every file under `p` (0 when absent). */
  protected def bytesUnder(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala.filter(f => Files.isRegularFile(f))
        .map(f => Files.size(f)).sum
    }
  }

  protected def sqlStr(s: String): String = s.replace("'", "''")

  /** Layer probes of the traced run: per-row cost of the codegen
    * kernels (graft.functions) and of the tokenizer (graft.text) over
    * this workload's own inputs, scaled up to `minRows` rows.
    */
  protected def layerProbes(docsFile: String, embFile: String): Unit =
    if (tr.recording) {
      val minRows = 20000L
      def scaled(df: DataFrame): DataFrame = {
        val n = df.count()
        val reps = math.max(1L, minRows / math.max(1L, n))
        spark.range(reps).crossJoin(df).drop("id").cache()
      }
      def perRow(name: String, df: DataFrame, expr: Column): Unit = {
        val n = df.count()
        tr(name) { df.select(max(xxhash64(expr))).collect() }
        rec.put(s"$name.rows", n.toDouble)
      }
      val docs = scaled(spark.read.parquet(docsFile).select("doc_id", "text"))
      val tokens = graft.text.Text.RegexTokenizer.tokenize(col("text"))
      perRow("text.tokenize", docs, size(tokens))
      // a two-class token -> per-class score model, the shape the
      // classifier passes
      val nbModel = typedLit(Map("spark" -> Seq(3L, 1L), "merge" -> Seq(1L, 4L),
        "vector" -> Seq(2L, 2L), "table" -> Seq(5L, 1L)))
      perRow("functions.nb_score_pack", docs,
        graft.GraftExtensions.nbScorePack(spark, tokens, nbModel, 2))
      docs.unpersist()
      val emb = scaled(spark.read.parquet(embFile).select(
        col("vec_id"), col("embedding").cast("array<double>").as("v")))
      val q = typedLit(Seq.tabulate(64)(i => math.sin(i + 1.0)))
      // 16 integer hyperplanes, the shape of the LSH signature kernel's
      // coefficient matrix
      val coefs = typedLit(Seq.tabulate(16, 64)((b, j) =>
        ((b * 64 + j) * 7919L % 2001L) - 1000L))
      val vq = transform(col("v"), x => round(x * 1000).cast("long"))
      val signs = graft.GraftExtensions.signPack(spark, col("v"))
      perRow("functions.cosine_sim", emb,
        graft.GraftExtensions.cosineSim(spark, col("v"), q))
      perRow("functions.sign_pack", emb, signs)
      perRow("functions.hamming_dist", emb, graft.GraftExtensions.hammingDist(
        spark, signs, graft.GraftExtensions.signPack(spark, reverse(col("v")))))
      perRow("functions.lsh_sig_pack", emb,
        graft.GraftExtensions.lshSig(spark, vq, coefs))
      emb.unpersist()
    }

  def run(): Unit
}

/** Search over a lake built once in set-up: the text and key kinds,
  * the facade and the SQL surface, one client in a closed loop.
  */
final class LakeSearch(c: Ctx) extends Workload(c) {
  private val bm25 = Bm25Kind("doc_id")
  // rows per bin-packed index group in the traced maintenance probe:
  // two groups, so compact() has one merge to do per kind
  private val GroupRows = 1000L
  // queries per pass (one cycle of the panel's eight op kinds), warm-up
  // passes (each over its own slice at the head of the panel), and timed
  // searches per second of --seconds. Both counts are fixed, so every run
  // times the same number of searches at the same JIT warmth, whatever
  // the program's speed: search p50 drifts down over the first four
  // passes, and a stop-when-steady rule ended warm-up after three passes
  // in some runs and five in others.
  private val PassOps = 8
  private val WarmupPasses = 5
  private val TimedPerSecond = 4
  private var docPrefix = ""
  private var custPrefix = ""
  private lazy val docs = GraftLake(spark, docPrefix)
  private lazy val cust = GraftLake(spark, custPrefix)

  /** (lake, kind, column) of every index the lake carries. */
  private def indexes: Seq[(GraftLake, IndexKind, String)] = Seq(
    (docs, bm25, "text"), (docs, NgramKind, "text"),
    (docs, FuzzyKind, "text"), (cust, KeyKind, "c_name"))

  /** Index every kind over the lake's files. */
  private def setupOnce(r: Int): Unit = {
    docPrefix = stageLake(s"data_r$r", "documents")
    custPrefix = stageLake(s"data_r$r", "customer")
    useIndexRoot(s"idx_r$r")
    val d = GraftLake(spark, docPrefix)
    tr("api.index.bm25") { d.index(bm25, "text") }
    tr("api.index.ngram") { d.index(NgramKind, "text") }
    tr("api.index.fuzzy") { d.index(FuzzyKind, "text") }
    tr("api.index.key") { GraftLake(spark, custPrefix).index(KeyKind, "c_name") }
  }

  /** Traced run: the maintenance loop on a second copy of the documents
    * lake. Index in two bin-packed groups, merge them (compact), vacuum
    * the superseded index files.
    */
  private def maintenanceProbe(): Unit = {
    val l = GraftLake(spark, stageLake("data_maint", "documents"))
    Seq(bm25, NgramKind).foreach { k =>
      tr(s"api.index.${k.name}") { l.index(k, "text", binpackRows = GroupRows) }
    }
    Seq(bm25, NgramKind).foreach { k =>
      tr(s"api.compact.${k.name}") { l.compact(k, "text") }
    }
    tr("api.vacuum") { l.vacuum(0L) }
  }

  /** Traced run: the set-up's per-layer twins. Splitting a table into
    * lake files, footer scan, routing accounting, and standalone builds
    * and merges without the facade.
    */
  private def setupProbes(): Unit = {
    // the split a lake built from one table file would need
    val single = stage("data_split", Seq("documents"))
    tr("core.split") { Lake.ensureSplit(spark, single, "documents", "doc_id", 8) }
    val files = Lake.listFiles(docPrefix)
    tr("core.layout_scan") { Layout.scan(spark, files).collect() }
    indexes.foreach { case (l, k, col) =>
      val row = tr("api.explain") { l.explainSearch(k, col).collect() }
      rec.put(s"covering_indexes.${k.name}",
        row.head.getAs[Long]("covering_indexes").toDouble)
    }
    // the two kinds the maintenance loop compacts, built standalone on
    // both halves of the files and merged (the traced run's time limit
    // leaves no room for all four)
    val d = s"${a.work}/direct"
    val halves = Seq(files.take(files.size / 2), files.drop(files.size / 2))
    Seq[(String, (Seq[String], String) => Unit, (String, String, String) => Unit)](
      ("bm25", Bm25Index.build(spark, _, "text", "doc_id", _),
        Bm25Index.merge(spark, _, _, _)),
      ("ngram", NgramIndex.build(spark, _, "text", _),
        NgramIndex.merge(spark, _, _, _))
    ).foreach { case (k, build, merge) =>
      halves.zipWithIndex.foreach { case (h, i) =>
        tr(s"index.build.$k") { build(h, s"$d/$k$i") }
      }
      tr(s"index.merge.$k") { merge(s"$d/${k}0", s"$d/${k}1", s"$d/$k") }
    }
  }

  private def indexPath(prefix: String, kind: String): String =
    IndexStore.metadataRowsCached(spark, prefix)
      .find(_.indexType == kind).map(_.indexFile)
      .getOrElse(throw new IllegalStateException(s"no $kind index"))

  private def expectDocs(key: String, sql: => String): Unit =
    rec.expect(key, sql, Seq("documents" -> Lake.listFiles(docPrefix)))

  /** The fuzzy-search oracle shape of graft's own fuzzy entries. */
  private def fuzzySql(q: String, k: Int) = {
    val tok = graft.text.Text.RegexTokenizer
    val preds = tok.tokenizeQuery(q).map(sqlStr).map(t =>
      s"len(list_filter(toks, t -> levenshtein(t, '$t') <= " +
        s"${FuzzyIndex.MaxDist})) > 0").mkString(" AND ")
    s"SELECT doc_id FROM (SELECT doc_id, ${tok.oracleListExpr("text")} " +
      s"AS toks FROM documents) x WHERE $preds ORDER BY doc_id LIMIT $k"
  }

  private def classOf(op: String): String = op match {
    case "bm25" | "sql_rank" => "ranked"
    case _ => "filter"
  }

  /** Register the expected answer of one panel query; returns its key. */
  private def oracleKey(op: String, q: String, k: Int): String = op match {
    case "bm25" | "sql_rank" =>
      expectDocs(s"bm25|$q|$k",
        Bm25Index.oracleSql("documents", "text", "doc_id", q, k))
      s"bm25|$q|$k"
    case "fuzzy" =>
      expectDocs(s"fuzzy|$q|$k", fuzzySql(q, k))
      s"fuzzy|$q|$k"
    case "key" =>
      rec.expect(s"key|$q|$k", s"SELECT c_custkey FROM customer WHERE " +
        s"c_name = '${sqlStr(q)}' ORDER BY c_custkey LIMIT $k",
        Seq("customer" -> Lake.listFiles(custPrefix)))
      s"key|$q|$k"
    case _ =>
      expectDocs(s"contains|$q|$k", "SELECT doc_id FROM documents WHERE " +
        s"contains(lower(text), '${sqlStr(q.toLowerCase)}') " +
        s"ORDER BY doc_id LIMIT $k")
      s"contains|$q|$k"
  }

  /** One panel operation through the public surface. */
  private def search(op: String, q: String, k: Int, id: Long): Outcome = {
    // SQL: planning (where the table functions and the prune rule
    // route) and execution are separate spans
    def sql(name: String, text: String): Outcome = tr(s"plans.$name", id) {
      val df = tr("plans.plan") { spark.sql(text) }
      tr("plans.exec") { rows(df) }
    }
    op match {
      case "bm25" => rows(tr("api.search.bm25", id) {
        docs.search(bm25, "text", q, k).select("doc_id", "score")
      })
      case "ngram" => rows(tr("api.search.ngram", id) {
        docs.search(NgramKind, "text", q, k, Seq("doc_id")).select("doc_id")
      })
      case "fuzzy" => rows(tr("api.search.fuzzy", id) {
        docs.search(FuzzyKind, "text", q, k, Seq("doc_id")).select("doc_id")
      })
      case "key" => rows(tr("api.search.key", id) {
        cust.search(KeyKind, "c_name", q, k, Seq("c_custkey"))
          .select("c_custkey")
      })
      case "smart" => rows(tr("api.smart_search", id) {
        docs.smartSearch("text", q, k, Seq("doc_id")).select("doc_id")
      })
      case "sql_rank" => sql("sql_rank",
        s"SELECT doc_id, score FROM graft_rank('$docPrefix', 'bm25', " +
          s"'text', '${sqlStr(q)}', $k, 'doc_id')")
      case "sql_search" => sql("sql_search",
        s"SELECT doc_id FROM graft_search('$docPrefix', 'ngram', 'text', " +
          s"'${sqlStr(q)}', $k, 'doc_id')")
      case "sql_contains" => sql("sql_contains",
        s"SELECT doc_id FROM lake_documents WHERE contains(lower(text), " +
          s"'${sqlStr(q.toLowerCase)}') ORDER BY doc_id LIMIT $k")
    }
  }

  /** Traced run only: the same query straight into the index layer
    * (direct probe, and the warm-tier serve where one exists), outside
    * the operations' time, so the facade's routing overhead shows.
    */
  private def directProbes(op: String, q: String, k: Int): Unit = op match {
    case "bm25" | "sql_rank" =>
      val p = indexPath(docPrefix, bm25.name)
      tr("index.probe.bm25") { Bm25Index.search(spark, p, q, k).collect() }
      tr("index.serve.bm25") { Serve.bm25(spark, p, q, k).collect() }
    case "key" =>
      val p = indexPath(custPrefix, KeyKind.name)
      tr("index.probe.key") { KeyIndex.searchExact(spark, p, "c_name", q).collect() }
      tr("index.serve.key") { Serve.keyExact(spark, p, "c_name", q).collect() }
    case "fuzzy" =>
      val p = indexPath(docPrefix, FuzzyKind.name)
      tr("index.probe.fuzzy") { FuzzyIndex.search(spark, p, "text", q).collect() }
    case _ =>
      val p = indexPath(docPrefix, NgramKind.name)
      tr("index.probe.ngram") { NgramIndex.search(spark, p, "text", q).collect() }
      tr("index.serve.ngram") { Serve.ngram(spark, p, "text", q).collect() }
  }

  private def pass(phase: String, p: Int, slots: Range,
      traced: Boolean = false): Seq[Double] = {
    tr.enable(spark, traced)
    val out = slots.map { i =>
      val (op, q, k) = panel(i)
      val id = rec.newOp()
      rec.time(id, phase, classOf(op), op, oracleKey(op, q, k), traced,
        Seq("pass" -> p.toString, "slot" -> i.toString)) {
        search(op, q, k, id)
      }
    }
    if (traced) tr.drain()
    out
  }

  def run(): Unit = {
    tr.enable(spark, tr.on)
    setup(1)(setupOnce)
    if (tr.on) {
      setupProbes()
      maintenanceProbe()
    }
    tr.enable(spark, false)
    spark.read.parquet(docPrefix).createOrReplaceTempView("lake_documents")
    graft.GraftExtensions.register(spark)
    graft.plans.IndexPruneRule.enable(spark)
    rec.put("data_bytes", Seq(docPrefix, custPrefix)
      .flatMap(Lake.listFiles).map(f => Files.size(Paths.get(f))).sum)
    indexes.foreach { case (l, k, _) =>
      rec.put(s"index_bytes.${k.name}",
        bytesUnder(indexPath(l.backend.id, k.name)))
    }
    // Passes of PassOps queries: warm-up passes over the panel's first
    // WarmupPasses slices, the timed window over the rest, so timed
    // queries are distinct from warm-up ones.
    def slots(from: Int) = from until from + PassOps
    // a traced run reports no end-to-end metric: shorter warm-up
    val warmups = if (tr.on) 3 else WarmupPasses
    val warmP50s = (0 until warmups).map { p =>
      val p50 = median(pass("warmup", p, slots(p * PassOps)))
      rec.log(f"warm-up pass $p: p50 $p50%.1f ms")
      p50
    }
    rec.put("warmup_passes", warmups)
    rec.putStr("warmup_p50_ms", warmP50s.map(x => f"$x%.1f").mkString(","))
    val timedSlots = panel.size - WarmupPasses * PassOps
    def timedSlotsOf(g: Int) =
      slots(WarmupPasses * PassOps + (g * PassOps) % timedSlots)
    // an untraced run times TimedPerSecond * --seconds searches, in whole
    // passes cycling through the slices after the warm-up ones; a traced
    // run times two slices twice each in ABBA order (untraced, traced,
    // traced, untraced), so traced and untraced operations cover the same
    // queries and neither mode always runs second
    val schedule =
      if (tr.on) Seq((0, false), (0, true), (1, true), (1, false))
      else {
        val n = math.max(1, math.ceil(
          TimedPerSecond * a.seconds / PassOps.toDouble).toInt)
        (0 until n).map(g => (g, false))
      }
    val t0 = System.nanoTime()
    schedule.zipWithIndex.foreach { case ((g, traced), p) =>
      val ms = pass("timed", p, timedSlotsOf(g), traced)
      rec.log(f"timed pass $p: p50 ${median(ms)}%.1f ms, ${ms.size} ops")
    }
    rec.put("window_s", (System.nanoTime() - t0) / 1e9)
    rec.put("passes", schedule.size)
    tr.enable(spark, tr.on)
    if (tr.on) {
      // after the window, so the probes do not disturb the timed passes
      schedule.filter(_._2).foreach { case (g, _) =>
        timedSlotsOf(g).foreach { i =>
          val (op, q, k) = panel(i)
          directProbes(op, q, k)
        }
      }
      tr("core.metadata_read") {
        Seq(docPrefix, custPrefix).foreach { pre =>
          IndexStore.readMetadata(spark, pre).foreach(_.count())
          IndexStore.metadataRowsCached(spark, pre)
        }
      }
    }
    layerProbes(s"${a.data}/documents.parquet",
      s"${a.data}/embeddings.parquet")
  }
}
