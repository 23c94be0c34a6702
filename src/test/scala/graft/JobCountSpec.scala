package graft

import graft.api._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the facade's central scale claim: a search runs a CONSTANT
  * number of Spark jobs regardless of how many index files cover the
  * lake (candidates probe in one union plan / one lock-step walk, never
  * one job per index). A lake compacted into hundreds of groups must
  * not pay hundreds of sequential jobs — this is the difference between
  * O(1) and O(#indexes) latency at scale, so it gets a test, not just a
  * scaladoc sentence.
  */
class JobCountSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** 48 docs; the needle sits only in docs 1-3, and range partitioning
    * confines them to the FIRST lake file at any split — so the search
    * takes the INDEX path (hits a strict subset of row groups) in both
    * lakes, and the job counts compare like for like.
    */
  private def mkLake(name: String, parts: Int, kind: IndexKind): GraftLake = {
    val dir = TestSpark.tmpDir(name)
    val docs = (1L to 48L).map { i =>
      i -> s"row $i body ${if (i <= 3) "needle thread" else "plain filler"}"
    }
    docs.toDF("doc_id", "text")
      .repartitionByRange(parts, org.apache.spark.sql.functions.col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/t")
    val lake = GraftLake(spark, s"$dir/t")
    // binpackRows=1 → one index file per lake file
    val built = lake.index(kind, "text", binpackRows = 1)
    assert(built.size == parts, s"expected $parts index groups")
    lake
  }

  private def jobs(group: String)(f: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def searchJobs(lake: GraftLake, kind: IndexKind,
      group: String): Int =
    jobs(group) {
      val ids = lake.search(kind, "text", "needle thread", 1000, Seq("doc_id"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 3L), "wrong results")
    }

  test("ngram search jobs do not grow with covering-index count") {
    val small = mkLake("jobs-ngram-2", 2, NgramKind)
    val big = mkLake("jobs-ngram-8", 8, NgramKind)
    // warm driver-side meta caches so both measure steady state
    searchJobs(small, NgramKind, "ng-warm-s")
    searchJobs(big, NgramKind, "ng-warm-b")
    val js = searchJobs(small, NgramKind, "ng-meas-s")
    val jb = searchJobs(big, NgramKind, "ng-meas-b")
    assert(jb == js, s"jobs grew with index count: 2 indexes → $js, 8 → $jb")
  }

  test("token search jobs do not grow with covering-index count") {
    val small = mkLake("jobs-token-2", 2, TokenKind)
    val big = mkLake("jobs-token-8", 8, TokenKind)
    searchJobs(small, TokenKind, "tk-warm-s")
    searchJobs(big, TokenKind, "tk-warm-b")
    val js = searchJobs(small, TokenKind, "tk-meas-s")
    val jb = searchJobs(big, TokenKind, "tk-meas-b")
    assert(jb == js, s"jobs grew with index count: 2 indexes → $js, 8 → $jb")
  }

  test("batched vector search jobs do not grow with query count") {
    import graft.index.VectorIndex
    val vecs = (0L until 40L).map { i =>
      i -> Seq.tabulate(8)(d => math.sin(i * 1.3 + d).abs + 0.1)
    }
    val idx = TestSpark.tmpDir("jobs-ivfbatch")
    VectorIndex.build(spark, vecs.toDF("vec_id", "v"), idx)
    val np = VectorIndex.numCells(spark, idx)
    def batchJobs(qs: Seq[Seq[Double]], group: String): Int =
      jobs(group) {
        assert(VectorIndex.searchBatch(spark, idx, qs, 5, np).count() ==
          qs.size * 5L)
      }
    val panel = Seq(2, 11, 23, 31, 37).map(i => vecs(i)._2)
    batchJobs(panel.take(1), "vb-warm") // warm centroid/format caches
    val j1 = batchJobs(panel.take(1), "vb-meas-1")
    val j5 = batchJobs(panel, "vb-meas-5")
    assert(j5 == j1, s"jobs grew with batch size: 1 query → $j1, 5 → $j5")
  }

  test("smartSearch exact route is single-pass: same jobs as search(NgramKind)") {
    // the search-box entry point used to run the full probe + selective
    // read + refine TWICE on its most common path (an emptiness test
    // via limit(1).count(), then the caller re-executing the un-cached
    // plan); this pins the fix — the exact route materializes its ≤ k
    // rows once, so consuming smartSearch costs exactly the jobs of
    // consuming search(NgramKind, ...) directly
    val lake = mkLake("jobs-smart-4", 4, NgramKind)
    searchJobs(lake, NgramKind, "sm-warm") // warm driver meta caches
    jobs("sm-warm-smart") {
      lake.smartSearch("text", "needle thread", 1000, Seq("doc_id")).collect()
    }
    val direct = searchJobs(lake, NgramKind, "sm-meas-direct")
    val smart = jobs("sm-meas-smart") {
      val ids = lake.smartSearch("text", "needle thread", 1000, Seq("doc_id"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 3L), "wrong results")
    }
    assert(smart == direct,
      s"smartSearch exact route re-executes: direct=$direct smart=$smart")
  }

  test("analytical-k smartSearch is single-pass: routes on the driver-local probe") {
    // k past SmartMaterializeMaxK forbids driver materialization, so
    // the route used to pay a limit(1).count() action (full probe +
    // selective read + refine) BEFORE the caller's own action re-ran
    // the un-cached plan. Now the fuzzy-fallback decision rides the
    // candidate count the probe already collected building the plan:
    // consuming analytical-k smartSearch costs exactly the jobs of
    // consuming search(NgramKind, ...) directly
    val lake = mkLake("jobs-smart-bigk", 4, NgramKind)
    val bigK = graft.api.GraftLake.SmartMaterializeMaxK + 1
    def run(group: String, f: () => org.apache.spark.sql.DataFrame): Int =
      jobs(group) {
        val ids = f().select("doc_id").collect().map(_.getLong(0)).toSet
        assert(ids == Set(1L, 2L, 3L), "wrong results")
      }
    // warm driver meta caches on both routes
    run("sm-bigk-warm-d", () =>
      lake.search(NgramKind, "text", "needle thread", bigK, Seq("doc_id")))
    run("sm-bigk-warm-s", () =>
      lake.smartSearch("text", "needle thread", bigK, Seq("doc_id")))
    val direct = run("sm-bigk-direct", () =>
      lake.search(NgramKind, "text", "needle thread", bigK, Seq("doc_id")))
    val smart = run("sm-bigk-smart", () =>
      lake.smartSearch("text", "needle thread", bigK, Seq("doc_id")))
    assert(smart == direct,
      s"analytical-k smartSearch double-probes: direct=$direct smart=$smart")
    // and the single-pass routing still finds the fuzzy fallback when
    // the index PROVES exact-emptiness (zero candidate row groups)
    val fb = lake.smartSearch("text", "neadle thread", bigK, Seq("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(fb == Set(1L, 2L, 3L), "certain-empty route must fall to fuzzy")
  }

  test("smartSearch serves warm from the driver tier: ZERO jobs on a single-index lake") {
    // the search-box steady state: ONE covering ngram index over
    // SEVERAL files (default binpack), needle confined to the first —
    // the exact route rides graft.index.Serve and a warm repeat costs
    // no Spark jobs at all
    val dir = TestSpark.tmpDir("jobs-smart-serve")
    val docs = (1L to 48L).map { i =>
      i -> s"row $i body ${if (i <= 3) "needle thread" else "plain filler"}"
    }
    docs.toDF("doc_id", "text")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/t")
    val lake = GraftLake(spark, s"$dir/t")
    assert(lake.index(NgramKind, "text").size == 1, "want ONE index group")
    def ids(): Set[Long] =
      lake.smartSearch("text", "needle thread", 1000, Seq("doc_id"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids() == Set(1L, 2L, 3L)) // cold: pays the fetch jobs once
    val j = jobs("sm-serve-warm") { assert(ids() == Set(1L, 2L, 3L)) }
    assert(j == 0, s"warm smartSearch ran $j Spark jobs")
  }

  /** Jobs of `f` as (stage count, ran inside a SQL execution) pairs.
    * A bare `spark.read.parquet` infers its schema in a job OUTSIDE any
    * SQL execution, which is how schema-inference jobs are told apart.
    */
  private def jobShapes(group: String)(f: => Unit): Seq[(Int, Boolean)] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Boolean)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          seen.add((e.stageInfos.size,
            e.properties.getProperty("spark.sql.execution.id") != null))
    }
    sc.addSparkListener(l)
    try {
      val n = jobs(group)(f)
      // listener delivery is asynchronous
      val deadline = System.nanoTime() + 10000000000L
      while (seen.size < n && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.size == n, s"listener saw ${seen.size} of $n jobs")
      seen.toArray.toSeq.map(_.asInstanceOf[(Int, Boolean)])
    } finally sc.removeSparkListener(l)
  }

  test("row-group probe kinds: a warm facade search probes in ONE shuffle-free job") {
    // 4 index groups per kind; the needle rows 1-3 sit in the first
    // file, so every search takes the index route
    val dir = TestSpark.tmpDir("jobs-probe")
    (1L to 48L).map { i =>
      (i, s"k$i", s"row $i body ${if (i <= 3) "needle thread" else "plain filler"}")
    }.toDF("doc_id", "sku", "text")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/t")
    val lake = GraftLake(spark, s"$dir/t")
    val cases: Seq[(RowGroupKind, String, String, Set[Long])] = Seq(
      (NgramKind, "text", "needle thread", Set(1L, 2L, 3L)),
      (NgramRegexKind, "text", "needle th[a-z]+", Set(1L, 2L, 3L)),
      (BoolNgramKind, "text", "needle AND NOT filler", Set(1L, 2L, 3L)),
      (TokenKind, "text", "needle thread", Set(1L, 2L, 3L)),
      (FuzzyKind, "text", "neadle thred", Set(1L, 2L, 3L)),
      (KeyKind, "sku", "k2", Set(2L)),
      (BloomKind, "sku", "k2", Set(2L)),
      (ZoneMapKind, "doc_id", "2..3", Set(2L, 3L)),
      (MinHashKind, "text", "row 2 body needle thread", Set(2L)))
    // the regex and boolean modes ride the ngram index
    for ((kind, column) <- cases.map(c => (c._1.name, c._2)).distinct)
      assert(lake.index(cases.find(_._1.name == kind).get._1, column,
        binpackRows = 1).size == 4)
    // the lake file holding the needle rows
    val needleFile = spark.read.parquet(s"$dir/t")
      .filter(org.apache.spark.sql.functions.col("doc_id") === 1L)
      .select(org.apache.spark.sql.functions.input_file_name())
      .head().getString(0).split('/').last
    for ((kind, column, query, want) <- cases) {
      val tag = s"probe-${kind.getClass.getSimpleName}"
      // plan construction runs the candidate probe and nothing else;
      // the action runs the selective fetch + refine
      def run(label: String)(search: => org.apache.spark.sql.DataFrame)
          : (Seq[(Int, Boolean)], Seq[(Int, Boolean)]) = {
        var df: org.apache.spark.sql.DataFrame = null
        val plan = jobShapes(s"$tag-plan-$label") { df = search }
        var ids = Set.empty[Long]
        val exec = jobShapes(s"$tag-exec-$label") {
          ids = df.select("doc_id").collect().map(_.getLong(0)).toSet
        }
        assert(ids == want, s"$tag $label: wrong results")
        (plan, exec)
      }
      def assertOneProbe(label: String)(search: => org.apache.spark.sql.DataFrame): Unit = {
        run(s"$label-cold")(search) // fills the meta, footer-schema and head caches
        val (plan, exec) = run(s"$label-warm")(search)
        assert(plan == Seq((1, true)),
          s"$tag $label: candidate probe ran as $plan, want ONE single-stage job")
        assert((plan ++ exec).forall(_._2),
          s"$tag $label: schema-inference job in ${plan ++ exec}")
      }
      assertOneProbe("facade") {
        lake.search(kind, column, query, 1000, Seq("doc_id"))
      }
      // the single-index search of the group holding the needle rows
      // runs the same lifecycle: one probe job, the same rows
      val path = lake.coverageByName(kind.name, column).map(_._1).find(p =>
        IndexKind.metaRows(spark, p).exists(_._2.split('/').last == needleFile))
        .get
      assertOneProbe("single-index") {
        kind.searchIndex(spark, path, column, query)
      }
    }
  }

  test("bm25 facade search and graft_rank score warm: ZERO jobs, Spark-plan rows") {
    // two index groups over a fully covered lake: a warm ranked search
    // rides the driver scorer, and its rows equal the Spark plan over
    // the same indexes (global IDF). An in-situ file or an analytical k
    // keeps the Spark plan, with the same rows.
    val dir = TestSpark.tmpDir("jobs-bm25")
    (1L to 48L).map { i =>
      i -> s"row $i body ${if (i % 5 == 0) "needle needle thread" else "plain filler"}"
    }.toDF("doc_id", "text")
      .repartitionByRange(2, org.apache.spark.sql.functions.col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/t")
    GraftExtensions.register(spark)
    val lake = GraftLake(spark, s"$dir/t")
    val kind = Bm25Kind("doc_id")
    val paths = lake.index(kind, "text", binpackRows = 1)
    assert(paths.size == 2)
    val q = "needle thread body"
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def viaPlan(k: Int): Seq[(Long, Double)] = {
      val ps = lake.coverageByName(kind.name, "text").map(_._1)
      rows(graft.index.Bm25Index.searchWeightedMany(spark, ps,
        q.split(" ").toSeq.map(_ -> 1.0), k))
    }
    def facade(k: Int) = rows(lake.search(kind, "text", q, k))
    def sqlRank(k: Int) = rows(spark.sql(
      s"SELECT doc_id, score FROM graft_rank('$dir/t', 'bm25', 'text', " +
        s"'$q', $k, 'doc_id')"))
    val want = viaPlan(10)
    assert(want.size == 10)
    for ((name, run) <- Seq("facade" -> (() => facade(10)),
        "graft_rank" -> (() => sqlRank(10)))) {
      assert(run() == want, s"$name: cold rows differ from the Spark plan")
      var warm = Seq.empty[(Long, Double)]
      val j = jobs(s"bm25-warm-$name") { warm = run() }
      assert(warm == want, s"$name: warm rows differ from the Spark plan")
      assert(j == 0, s"warm $name ran $j Spark jobs")
    }
    // analytical k: the lazy Spark plan, same rows
    val bigK = GraftLake.SmartMaterializeMaxK + 1
    var big = Seq.empty[(Long, Double)]
    assert(jobs("bm25-bigk") { big = facade(bigK) } >= 1)
    assert(big == viaPlan(bigK))
    // an uncovered file: the in-situ union plan, same rows as indexing it
    Seq(100L -> "late needle thread").toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dir/t")
    var insitu = Seq.empty[(Long, Double)]
    assert(jobs("bm25-insitu") { insitu = facade(10) } >= 1)
    lake.index(kind, "text", binpackRows = 1)
    assert(insitu == viaPlan(10) && insitu.exists(_._1 == 100L))
  }

  /** 48 rows over 4 files, ONE covering index per (kind, column): the
    * needle rows 1-3 and every `k<i>` key sit in a strict subset of the
    * row groups, so the warm serving tier takes the lookups.
    */
  private def servedLake(name: String): (String, GraftLake) = {
    val dir = TestSpark.tmpDir(name)
    (1L to 48L).map { i =>
      (i, s"k$i", Seq(s"t$i"),
        s"row $i body ${if (i <= 3) "needle thread" else "plain filler"}")
    }.toDF("doc_id", "sku", "tags", "text")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/t")
    val lake = GraftLake(spark, s"$dir/t")
    for ((kind, column) <- Seq(NgramKind -> "text", KeyKind -> "sku",
        FuzzyKind -> "text"))
      assert(lake.index(kind, column).size == 1, s"want ONE ${kind.name} index")
    (s"$dir/t", lake)
  }

  test("ngram and exact key facade searches and graft_search serve warm: ZERO jobs, Spark-plan rows") {
    import org.apache.spark.sql.{Column, DataFrame, Row}
    import org.apache.spark.sql.functions.{col, lower}
    val (dir, lake) = servedLake("jobs-lexical-serve")
    GraftExtensions.register(spark)
    val bigK = GraftLake.SmartMaterializeMaxK + 1
    def rows(df: DataFrame): (Seq[String], Seq[Row]) =
      (df.columns.toSeq, df.collect().toSeq)
    // the Spark plan's answer: the analytical-k search, truncated
    def viaPlan(kind: IndexKind, column: String, q: String, k: Int,
        order: Seq[String]) = {
      val (cols, rs) = rows(lake.search(kind, column, q, bigK, order))
      (cols, rs.take(k))
    }
    for ((kind, column, q) <- Seq((NgramKind, "text", "needle thread"),
        (KeyKind, "sku", "k2")); viaSql <- Seq(false, true)) {
      val name = (if (viaSql) "graft_search " else "") + kind.name
      def run() =
        if (!viaSql) rows(lake.search(kind, column, q, 2, Seq("doc_id")))
        else rows(spark.sql(s"SELECT * FROM graft_search('$dir', " +
          s"'${kind.name}', '$column', '$q', 2, 'doc_id')"))
      val want = viaPlan(kind, column, q, 2, Seq("doc_id"))
      assert(want._2.nonEmpty && !want._1.contains("uid"))
      assert(run() == want, s"$name: cold rows differ from the Spark plan")
      var warm = (Seq.empty[String], Seq.empty[Row])
      val j = jobs(s"lexical-warm-$name") { warm = run() }
      assert(warm == want, s"$name: warm rows differ from the Spark plan")
      assert(j == 0, s"warm $name ran $j Spark jobs")
    }
    assert(rows(lake.search(NgramKind, "text", "needle thread", 2,
      Seq("doc_id")))._2.map(_.getLong(0)) == Seq(1L, 2L))

    // inputs that keep the Spark plan: a warm repeat still runs jobs,
    // and the rows equal a plain filter over the lake's files
    def brute(pred: Column, k: Int, order: String) =
      rows(spark.read.parquet(lake.files: _*).filter(pred)
        .orderBy(order).limit(k))
    def onPlan(name: String, want: => (Seq[String], Seq[Row]))(
        run: => DataFrame): Unit = {
      rows(run)
      var got = (Seq.empty[String], Seq.empty[Row])
      val j = jobs(s"lexical-plan-$name") { got = rows(run) }
      assert(j >= 1, s"$name must take the Spark plan")
      assert(got == want, s"$name: rows differ from a plain filter")
      assert(want._2.nonEmpty, s"$name: vacuous case")
    }
    val needle = lower(col("text")).contains("needle thread")
    onPlan("prefix key", brute(col("sku").startsWith("k1"), 100, "doc_id")) {
      lake.search(KeyKind, "sku", "k1%", 100, Seq("doc_id"))
    }
    onPlan("analytical k", brute(needle, bigK, "doc_id")) {
      lake.search(NgramKind, "text", "needle thread", bigK, Seq("doc_id"))
    }
    onPlan("array order column", brute(needle, 2, "tags")) {
      lake.search(NgramKind, "text", "needle thread", 2, Seq("tags"))
    }
    // an uncovered file: the in-situ part keeps the Spark plan
    Seq((100L, "k100", Seq("t100"), "late needle thread"))
      .toDF("doc_id", "sku", "tags", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    for (stage <- Seq("in-situ", "two covering indexes")) {
      onPlan(s"$stage ngram", brute(needle, 10, "doc_id")) {
        lake.search(NgramKind, "text", "needle thread", 10, Seq("doc_id"))
      }
      onPlan(s"$stage key", brute(col("sku") === "k100", 10, "doc_id")) {
        lake.search(KeyKind, "sku", "k100", 10, Seq("doc_id"))
      }
      // the late file becomes a second index group of each kind
      if (stage == "in-situ")
        for ((kind, column) <- Seq(NgramKind -> "text", KeyKind -> "sku"))
          assert(lake.index(kind, column).size == 1)
    }
  }

  test("warm-served and Spark-plan searches answer with the same columns") {
    // k past SmartMaterializeMaxK forces the Spark plan on every route
    val (_, lake) = servedLake("jobs-served-columns")
    val bigK = GraftLake.SmartMaterializeMaxK + 1
    val routes: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = Seq(
      "ngram" -> (k => lake.search(NgramKind, "text", "needle thread", k)),
      "key" -> (k => lake.search(KeyKind, "sku", "k2", k)),
      "smart exact" -> (k => lake.smartSearch("text", "needle thread", k)),
      "smart fuzzy fallback" -> (k => lake.smartSearch("text", "neadle thred", k)))
    for ((name, run) <- routes) {
      run(10).collect() // cold: fills the serving caches
      var warm = Seq.empty[String]
      val j = jobs(s"columns-warm-$name") {
        val df = run(10)
        assert(df.collect().nonEmpty, s"$name: no rows")
        warm = df.columns.toSeq
      }
      assert(j == 0, s"$name: not warm-served ($j jobs)")
      val plan = run(bigK)
      assert(warm == plan.columns.toSeq,
        s"$name: warm columns $warm, Spark-plan columns ${plan.columns.toSeq}")
    }
  }

  test("fm search jobs do not grow with covering-index count") {
    val small = mkLake("jobs-fm-2", 2, FmKind)
    val big = mkLake("jobs-fm-8", 8, FmKind)
    // warm chunk caches: the steady-state walk pays ZERO fetch jobs
    searchJobs(small, FmKind, "fm-warm-s")
    searchJobs(big, FmKind, "fm-warm-b")
    val js = searchJobs(small, FmKind, "fm-meas-s")
    val jb = searchJobs(big, FmKind, "fm-meas-b")
    assert(jb == js, s"jobs grew with index count: 2 indexes → $js, 8 → $jb")
  }
}
