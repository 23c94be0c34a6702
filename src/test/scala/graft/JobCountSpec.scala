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
    val cases: Seq[(IndexKind, String, String, Set[Long])] = Seq(
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
    for ((kind, column, query, want) <- cases) {
      val tag = s"probe-${kind.getClass.getSimpleName}"
      // plan construction runs the candidate probe and nothing else;
      // the action runs the selective fetch + refine
      def run(pass: String): (Seq[(Int, Boolean)], Seq[(Int, Boolean)]) = {
        var df: org.apache.spark.sql.DataFrame = null
        val plan = jobShapes(s"$tag-plan-$pass") {
          df = lake.search(kind, column, query, 1000, Seq("doc_id"))
        }
        var ids = Set.empty[Long]
        val exec = jobShapes(s"$tag-exec-$pass") {
          ids = df.select("doc_id").collect().map(_.getLong(0)).toSet
        }
        assert(ids == want, s"$tag: wrong results")
        (plan, exec)
      }
      run("cold") // fills the meta, footer-schema and head caches
      val (plan, exec) = run("warm")
      assert(plan == Seq((1, true)),
        s"$tag: candidate probe ran as $plan, want ONE single-stage job")
      assert((plan ++ exec).forall(_._2),
        s"$tag: schema-inference job in ${plan ++ exec}")
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
