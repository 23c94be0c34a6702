package graft

import graft.api.BoolNgramKind
import graft.index.{BoolSearch, NgramIndex}
import graft.index.BoolSearch._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BoolSearchSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val corpus = Seq(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "pack my box with five dozen liquor jugs",
    3L -> "a quick movement of the enemy will jeopardize five gunboats",
    4L -> "brown paper packages tied up with strings",
    5L -> "the five boxing wizards jump quickly")

  private def mkIdx(): String = {
    val dir = TestSpark.tmpDir("bool-lake")
    corpus.toDF("doc_id", "text")
      .repartitionByRange(3, col("doc_id"))
      .write.mode("overwrite").parquet(dir)
    val idx = TestSpark.tmpDir("bool-idx")
    NgramIndex.build(spark, graft.core.Lake.listFiles(dir), "text", idx)
    idx
  }

  private def evalBq(text: String, q: Bq): Boolean = q match {
    case Term(t) => text.toLowerCase.contains(t.toLowerCase)
    case And(cs) => cs.forall(evalBq(text, _))
    case Or(cs)  => cs.exists(evalBq(text, _))
    case Not(c)  => !evalBq(text, c)
  }

  test("boolean trees equal the brute predicate") {
    val idx = mkIdx()
    val queries = Seq(
      "quick",
      "quick AND five",
      "brown OR five",
      "five AND NOT box",
      "(quick OR brown) AND NOT fox",
      "quick fox OR wizards",
      "NOT the", // pure negation: no bound, covered scan
      "zzz AND quick", // empty candidate set
      "zzz OR NOT zzz" // unbounded OR arm
    )
    for (q <- queries) {
      val got = BoolNgramKind.searchIndex(spark, idx, "text", q)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val tree = graft.text.BoolQueryParser.parse(q)
      val want = corpus.filter(c => evalBq(c._2, tree)).map(_._1).toSet
      assert(got == want, s"query $q")
    }
  }

  test("shared term across branches probes postings once (memoized)") {
    // structural check on the set algebra: (a AND b) OR (a AND c)
    // must equal a AND (b OR c) results-wise
    val idx = mkIdx()
    val q1 = "quick AND fox OR quick AND five"
    val q2 = "quick AND (fox OR five)"
    val r1 = BoolNgramKind.searchIndex(spark, idx, "text", q1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val r2 = BoolNgramKind.searchIndex(spark, idx, "text", q2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(r1 == r2 && r1.nonEmpty)
  }

  test("query-string parser: precedence, quotes, parens, escapes") {
    import graft.text.BoolQueryParser.parse
    assert(parse("a") == Term("a"))
    // NOT > AND > OR
    assert(parse("a OR b AND NOT c") ==
      Or(Seq(Term("a"), And(Seq(Term("b"), Not(Term("c")))))))
    assert(parse("(a OR b) AND c") ==
      And(Seq(Or(Seq(Term("a"), Term("b"))), Term("c"))))
    assert(parse("\"fast scan\" AND NOT \"slow (scan)\"") ==
      And(Seq(Term("fast scan"), Not(Term("slow (scan)")))))
    assert(parse("\"say \\\"hi\\\"\"") == Term("say \"hi\""))
    // lower-case operator words are search TERMS; adjacency is
    // implicit AND
    assert(parse("black and white") ==
      And(Seq(Term("black"), Term("and"), Term("white"))))
    assert(parse("quick \"brown fox\"") ==
      And(Seq(Term("quick"), Term("brown fox"))))
    assert(intercept[IllegalArgumentException] {
      parse("(a OR b")
    }.getMessage.contains("missing ')'"))
  }

  test("routeOf: shape-based mode detection") {
    import graft.text.QueryShaping.routeOf
    assert(routeOf("plain words here") == "exact")
    assert(routeOf("a AND b") == "bool")
    assert(routeOf("NOT x") == "bool")
    assert(routeOf("\"a phrase\"") == "bool")
    assert(routeOf("black and white") == "exact") // lower-case = terms
    assert(routeOf("ANDROID phones") == "exact") // not stand-alone
    assert(routeOf("fast [a-z]+ table") == "regex")
    assert(routeOf("version 3.14") == "exact") // bare dot stays literal
    assert(routeOf("broken [regex") == "exact") // non-compiling → literal
  }

  test("route: quoting escape + degradation rules (the search-box contract)") {
    import graft.text.QueryShaping.route
    // a FULLY-quoted query is the escape hatch: exact contains of the
    // inner text, operator words and metacharacters literal
    assert(route("\"TO BE OR NOT TO BE\"") == ("exact", "TO BE OR NOT TO BE"))
    assert(route("\"a AND b\"") == ("exact", "a AND b"))
    assert(route("\"fast [a-z]+\"") == ("exact", "fast [a-z]+"))
    assert(route("  \"padded phrase\"  ") == ("exact", "padded phrase"))
    // two quoted phrases are NOT a single escape — still boolean
    assert(route("\"slow scan\" OR \"fast scan\"")._1 == "bool")
    assert(route("\"a phrase\" extra")._1 == "bool")
    // bool-shaped but UNPARSEABLE input is raw prose → exact, original
    // string (mirrors the regex compile guard)
    assert(route("5'6\" tall") == ("exact", "5'6\" tall"))
    assert(route("x AND") == ("exact", "x AND"))
    assert(route("(a OR b") == ("exact", "(a OR b"))
    // regex keeps the ORIGINAL pattern — never lowercased (\W vs \w)
    assert(route("fast \\W+ scan") == ("regex", "fast \\W+ scan"))
    assert(route("plain words") == ("exact", "plain words"))
    assert(route("a AND b") == ("bool", "a AND b"))
  }

  test("smartRegexForm: simple patterns lower whole, escape-bearing pass verbatim") {
    import graft.text.QueryShaping.smartRegexForm
    // the refine matches lower(column): uppercase literals in SIMPLE
    // patterns must not silently return zero rows
    assert(smartRegexForm("Customer#00000004[0-9]") == "customer#00000004[0-9]")
    assert(smartRegexForm("fast [A-Z]+ scan") == "fast [a-z]+ scan")
    // lowercasing would flip \W→\w / break \Q…\E — verbatim
    // escape-bearing patterns: literals lower, constructs survive
    assert(smartRegexForm("fast \\W+ Scan") == "fast \\W+ scan")
    assert(smartRegexForm("(?i)FAST [a-z]+") == "(?i)fast [a-z]+")
    assert(smartRegexForm("Customer#\\d+") == "customer#\\d+")
    assert(smartRegexForm("\\QHello.World\\E") == "\\Qhello.world\\E")
    assert(smartRegexForm("\\p{Lu}AB[C-Z]\\d") == "\\p{Lu}ab[c-z]\\d")
    assert(smartRegexForm("(?<Name>AB)\\k<Name>") == "(?<Name>ab)\\k<Name>")
  }

  test("parser fuzz: random inputs parse or reject cleanly, never crash") {
    val rnd = new scala.util.Random(7)
    val chars = "ab (\")\\ANDORT\t"
    var parsed = 0
    for (_ <- 1 to 2000) {
      val s = (1 to rnd.nextInt(24))
        .map(_ => chars(rnd.nextInt(chars.length))).mkString
      try {
        val t = graft.text.BoolQueryParser.parse(s)
        parsed += 1
        // a parsed tree must be evaluable
        evalBq("some text", t)
      } catch {
        case _: IllegalArgumentException => () // clean reject
      }
    }
    assert(parsed > 0, "fuzz never produced a parseable input")
  }

  test("facade boolean kind equals the brute predicate incl. in-situ") {
    import graft.api.BoolNgramKind
    val dir = TestSpark.tmpDir("bool-facade-lake")
    corpus.toDF("doc_id", "text")
      .repartitionByRange(3, col("doc_id"))
      .write.mode("overwrite").parquet(dir)
    val files = graft.core.Lake.listFiles(dir)
    // index only 2 of 3 files; the third routes in-situ
    val idx = TestSpark.tmpDir("bool-facade-idx")
    NgramIndex.build(spark, files.take(2), "text", idx)
    val qs = "\"five\" AND NOT box"
    val got = BoolNgramKind.searchLake(spark, Seq(idx), files.drop(2),
        "text", qs, Int.MaxValue)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val tree = graft.text.BoolQueryParser.parse(qs)
    val want = corpus.filter(c => evalBq(c._2, tree)).map(_._1).toSet
    assert(got == want)
  }

  test("oracle predicate mirrors the Spark predicate shape") {
    val q = And(Seq(Or(Seq(Term("A b"), Term("c"))), Not(Term("d"))))
    assert(BoolSearch.oraclePredicate("text", q) ==
      "((contains(lower(text), 'a b') OR contains(lower(text), 'c'))" +
        " AND (NOT contains(lower(text), 'd')))")
  }
}
