package graft

import graft.index.NgramIndex
import graft.text.QueryShaping
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Regex-over-substring-index: required-literal extraction + the
  * index-probed search must equal a plain regex scan.
  */
class RegexSearchSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def lits(p: String) = QueryShaping.requiredLiterals(p)

  test("requiredLiterals: plain literals and classes") {
    assert(lits("abc") == Seq("abc"))
    assert(lits("fast [a-z]+ table") == Seq("fast ", " table"))
    assert(lits("a.c") == Seq("a", "c"))
    assert(lits("^err: .*$") == Seq("err: "))
  }

  test("requiredLiterals: quantifiers weaken, never mislead") {
    assert(lits("ab?c") == Seq("a", "c")) // b optional
    assert(lits("ab+c") == Seq("ab", "c")) // b at least once
    assert(lits("ab*c") == Seq("a", "c"))
    assert(lits("ab{2,3}c") == Seq("a", "c")) // conservative drop
    assert(lits("ab+?c") == Seq("ab", "c")) // reluctant suffix consumed
  }

  test("requiredLiterals: groups are skipped, alternation kills") {
    assert(lits("(slow|fast) scan") == Seq(" scan"))
    assert(lits("(foo)?bar") == Seq("bar"))
    assert(lits("a(bc)d") == Seq("a", "d"))
    assert(lits("slow|fast") == Nil) // top-level alternation
    assert(lits("a|b c") == Nil)
  }

  test("requiredLiterals: escapes") {
    assert(lits("a\\.b") == Seq("a.b")) // escaped dot is literal
    assert(lits("a\\d+b") == Seq("a", "b")) // class escape breaks run
    assert(lits("x\\.?y") == Seq("x", "y")) // quantified escaped literal
    assert(lits("a\\[b") == Seq("a[b"))
  }

  // every extracted literal must be a REQUIRED substring: any string
  // matching the pattern contains every literal (soundness property
  // the prune depends on)
  test("requiredLiterals are sound on matching strings") {
    val cases = Seq(
      ("fast [a-z]+ table", Seq("a fast xx table z", "fast q table")),
      ("(slow|fast) scan", Seq("a slow scan", "the fast scan x")),
      ("ab+c", Seq("zabbbcz", "abc")),
      ("err: .*done", Seq("err: all done")),
      ("x\\.?y", Seq("axy", "ax.yb")))
    for ((pat, strs) <- cases; s <- strs) {
      assert(java.util.regex.Pattern.compile(pat).matcher(s).find(),
        s"fixture broken: $s !~ $pat")
      for (l <- lits(pat))
        assert(s.contains(l), s"literal '$l' of '$pat' missing in '$s'")
    }
  }

  private def mkLake(df: DataFrame, parts: Int): Seq[String] = {
    val dir = TestSpark.tmpDir("relake")
    df.repartitionByRange(parts, col("id"))
      .write.mode("overwrite").parquet(dir)
    graft.core.Lake.listFiles(dir)
  }

  test("facade regex kind rides the committed ngram index") {
    val dir = TestSpark.tmpDir("relake-api")
    val words = Seq("fast", "slow", "table", "scan", "merge", "row")
    val rows = (0L until 120L).map { i =>
      (i, (0 until 6).map(j => words(((i + j * 5) % words.size).toInt))
        .mkString(" "))
    }.toDF("id", "text")
    rows.repartitionByRange(3, col("id"))
      .write.mode("overwrite").parquet(dir)
    val lake = api.GraftLake(spark, dir)
    lake.index(api.NgramKind, "text") // ONE index serves both modes
    def brute(pat: String): Seq[Long] =
      spark.read.parquet(dir).filter(lower(col("text")).rlike(pat))
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    for (pat <- Seq("fast [a-z]+ table", "slow|fast")) {
      val got = lake.search(api.NgramRegexKind, "text", pat, 100000,
        Seq("id")).select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == brute(pat), s"facade mismatch for $pat")
    }
    // SQL-only surface
    graft.GraftExtensions.register(spark)
    val viaSql = spark.sql(s"SELECT id FROM graft_search('$dir', " +
      "'regex', 'text', 'fast [a-z]+ table', 100000, 'id')")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(viaSql == brute("fast [a-z]+ table"))
  }

  test("Catalyst rlike pruning scans only candidate files, stays exact") {
    val dir = TestSpark.tmpDir("reprune")
    def write(name: String, rows: Seq[(Long, String)]): Unit = {
      val staging = TestSpark.tmpDir(s"stage-re-$name")
      rows.toDF("id", "text").coalesce(1)
        .write.mode("overwrite").parquet(staging)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(graft.core.Lake.listFiles(staging).head),
        java.nio.file.Paths.get(s"$dir/$name.parquet"))
    }
    write("a", Seq(1L -> "fast red table row", 2L -> "plain row"))
    write("b", Seq(3L -> "nothing here", 4L -> "still nothing"))
    write("c", Seq(5L -> "a Fast blue table", 6L -> "filler"))
    api.GraftLake(spark, dir).index(api.NgramKind, "text", binpackRows = 1)
    graft.plans.IndexPruneRule.enable(spark)
    def kept(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.inputFiles.length
      }.sum
    // lowercased-column rlike: b has no candidate grams → pruned
    val q = spark.read.parquet(dir)
      .filter(lower(col("text")).rlike("fast [a-z]+ table"))
      .select("id")
    assert(q.collect().map(_.getLong(0)).toSet == Set(1L, 5L))
    assert(kept(q) == 2, "no-candidate file must be pruned")
    // case-sensitive rlike on the RAW column: the lowercased-gram
    // probe is a sound superset; the refine keeps only true matches
    val cs = spark.read.parquet(dir)
      .filter(col("text").rlike("Fast [a-z]+ table")).select("id")
    assert(cs.collect().map(_.getLong(0)).toSet == Set(5L))
    // no required literal → no prune, still exact
    val alt = spark.read.parquet(dir)
      .filter(lower(col("text")).rlike("red|blue")).select("id")
    assert(alt.collect().map(_.getLong(0)).toSet == Set(1L, 5L))
    assert(kept(alt) == 3, "literal-free pattern must not prune")
  }

  test("searchRegex equals plain regex scan, pruned and fallback") {
    val words = Seq("fast", "slow", "table", "scan", "merge", "row")
    val rows = (0L until 300L).map { i =>
      val t = (0 until 8).map(j => words(((i + j * 7) % words.size).toInt))
        .mkString(" ")
      (i, t)
    }.toDF("id", "text")
    val files = mkLake(rows, 4)
    val idx = TestSpark.tmpDir("reidx")
    NgramIndex.build(spark, files, "text", idx)
    def brute(pat: String): Seq[Long] =
      spark.read.parquet(files: _*)
        .filter(lower(col("text")).rlike(pat))
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    def viaIdx(pat: String): Seq[Long] =
      graft.api.NgramRegexKind.searchIndex(spark, idx, "text", pat)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    for (pat <- Seq("fast [a-z]+ table", "(slow|fast) scan",
        "slow|fast", "merge row", "zz[0-9]+")) {
      assert(viaIdx(pat) == brute(pat), s"mismatch for $pat")
    }
    // the selective path really selects: a rare literal's candidate
    // set must be smaller than the lake's row-group count
    val meta = spark.read.parquet(s"$idx/meta")
    assert(meta.select("uid").distinct().count() > 1)
  }
}
