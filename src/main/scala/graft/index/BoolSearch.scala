package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Boolean substring queries over the gram index: AND / OR / NOT trees
  * of case-insensitive contains terms, evaluated as candidate-set
  * ALGEBRA at row-group granularity before a single selective read.
  *
  * The reference's search surface is single-predicate (one literal per
  * probe, reference: src/lava/substring/search.rs:446-530); production
  * log/corpus queries compose predicates. The index bound composes
  * soundly:
  *   - Term(t): row groups holding ALL grams of t (the existing probe);
  *   - And(a, b): intersection of the children's candidate sets — a row
  *     matching both sides must sit in both sets;
  *   - Or(a, b): union;
  *   - Not(a): the index CANNOT bound a negation — the child's
  *     candidates say where `a` MAY hold, not where it must fail — so
  *     Not contributes the universe, and pruning survives only through
  *     And-siblings (the common `x AND NOT y` shape scans only x's
  *     candidates).
  * Every set is a candidate SUPERSET; the single combined refine
  * predicate restores exactness (the index FP discipline, reference:
  * src/lava/substring/search.rs:78-85).
  *
  * At 100 TB: one posting probe per DISTINCT term (each ≤ |grams|
  * bucket partitions), driver-side set algebra on row-group ordinals
  * (metadata-scale), ONE selective read of the final set.
  */
object BoolSearch {

  sealed trait Bq
  final case class Term(q: String) extends Bq
  final case class And(cs: Seq[Bq]) extends Bq
  final case class Or(cs: Seq[Bq]) extends Bq
  final case class Not(c: Bq) extends Bq

  /** The exact predicate of a query tree against `column`. */
  def predicate(column: String, q: Bq): Column = q match {
    case Term(t) =>
      lower(col(column)).contains(graft.text.Text.sparkLower(t))
    case And(cs) => cs.map(predicate(column, _)).reduce(_ && _)
    case Or(cs)  => cs.map(predicate(column, _)).reduce(_ || _)
    case Not(c)  => !predicate(column, c)
  }

  /** DuckDB twin of [[predicate]] for oracle SQL. Single quotes in a
    * term are doubled (SQL literal escaping) so a term like `don't`
    * renders valid SQL instead of silently constraining which terms
    * oracle entries can use.
    */
  def oraclePredicate(column: String, q: Bq): String = q match {
    case Term(t) =>
      val lit = graft.text.Text.sparkLower(t).replace("'", "''")
      s"contains(lower($column), '$lit')"
    case And(cs) =>
      cs.map(oraclePredicate(column, _)).mkString("(", " AND ", ")")
    case Or(cs) =>
      cs.map(oraclePredicate(column, _)).mkString("(", " OR ", ")")
    case Not(c) => s"(NOT ${oraclePredicate(column, c)})"
  }

  /** Candidate-set algebra of the tree: None = universe (no bound).
    * `termCands` resolves one term's candidates (memoized per distinct
    * term by the caller). Generic over the candidate id type — the
    * single-index path uses uid ordinals, the multi-index facade kind
    * uses (idx, uid) pairs.
    */
  def cands[A](q: Bq,
      termCands: String => Option[Set[A]]): Option[Set[A]] = q match {
    case Term(t) => termCands(t)
    case And(cs) =>
      val bounds = cs.flatMap(c => cands(c, termCands))
      if (bounds.isEmpty) None else Some(bounds.reduce(_ intersect _))
    case Or(cs) =>
      val all = cs.map(c => cands(c, termCands))
      if (all.exists(_.isEmpty)) None // one unbounded arm unbounds the OR
      else Some(all.flatten.reduce(_ union _))
    case Not(_) => None
  }

  /** Distinct terms of a tree (the probe unit). */
  def termsOf(q: Bq): Set[String] = q match {
    case Term(t) => Set(graft.text.Text.sparkLower(t))
    case And(cs) => cs.flatMap(termsOf).toSet
    case Or(cs)  => cs.flatMap(termsOf).toSet
    case Not(c)  => termsOf(c)
  }

  /** Candidate units `(idx, uid)` of the tree over the covering ngram
    * indexes `paths` (None = unbounded): ONE probe job for every
    * distinct gram of every term ([[graft.api.IndexKind.postingTerms]] —
    * N terms never pay N Spark jobs), a unit holds a term when it holds
    * all of the term's grams, then the set algebra.
    */
  private[graft] def candUnits(spark: SparkSession, paths: Seq[String],
      query: Bq): Option[Set[(Int, Long)]] = {
    import graft.api.IndexKind
    // short terms probe their exact 1/2-gram; empty terms have no bound
    val termGrams: Map[String, Seq[String]] =
      termsOf(query).toSeq.filter(_.nonEmpty)
        .map(t => t -> NgramIndex.queryGrams(t)).toMap
    val allGrams = termGrams.values.flatten.toSeq.distinct
    val held: Map[(Int, Long), Set[Int]] =
      if (allGrams.isEmpty) Map.empty
      else IndexKind.postingTerms(spark, paths, allGrams)
    cands(query, { (t: String) =>
      val q = graft.text.Text.sparkLower(t)
      if (q.isEmpty) None // contains("") = every row: no bound
      else Some(termGrams.get(q).fold(Set.empty[(Int, Long)]) { gs =>
        val need = gs.map(allGrams.indexOf)
        held.filter(h => need.forall(h._2)).keySet
      })
    })
  }
}
