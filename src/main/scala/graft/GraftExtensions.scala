package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}

/** SparkSessionExtensions entry point: registers graft's native functions
  * AND table-valued entry points for SQL users, so the engine composes with
  * plain `spark.sql(...)`:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *   SELECT cosine_sim(a.embedding, b.embedding) FROM ...
  *   SELECT * FROM graft_dedup_survivors('/data/sf0.1')
  *
  * The injection-based registration is the supported way for a library to
  * extend Spark SQL without touching a session's function registry by hand.
  * Builders live on the companion so the test session (which cannot rebuild
  * itself with `spark.sql.extensions`) registers the IDENTICAL builders via
  * the temp-function registries — one definition, two wiring paths.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.scalarFunctions.foreach { case (name, clazz, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name), new ExpressionInfo(clazz, name), builder))
    }
    GraftExtensions.tableFunctions.foreach { case (name, builder) =>
      ext.injectTableFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
  }
}

object GraftExtensions {

  // ---- literal-argument extraction (SQL call sites pass literals for the
  // parameters the Scala API takes as constructor args) ----------------------
  private def litString(e: Expression, fn: String, arg: String): String = e match {
    case Literal(s, StringType) if s != null => s.toString
    case _ => throw new IllegalArgumentException(s"$fn: $arg must be a string literal")
  }
  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case _ => throw new IllegalArgumentException(s"$fn: $arg must be an int literal")
  }
  private def litLong(e: Expression, fn: String, arg: String): Long = e match {
    case Literal(i: Int, IntegerType) => i.toLong
    case Literal(l: Long, LongType) => l
    case _ => throw new IllegalArgumentException(s"$fn: $arg must be an integer literal")
  }
  private def litStrings(e: Expression, fn: String, arg: String): Seq[String] = e match {
    case l @ Literal(_, ArrayType(StringType, _)) if l.value != null =>
      l.value.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toArray[org.apache.spark.unsafe.types.UTF8String](StringType)
        .map(_.toString).toSeq
    // element type must be string too: array(1, 2) is foldable ArrayType but
    // would surface a raw ClassCastException from toArray[UTF8String] below
    case _ if e.foldable && (e.dataType match {
        case ArrayType(StringType, _) => true
        case _ => false
      }) =>
      e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toArray[org.apache.spark.unsafe.types.UTF8String](StringType)
        .map(_.toString).toSeq
    case _ => throw new IllegalArgumentException(s"$fn: $arg must be a string-array literal")
  }
  private def arity(children: Seq[Expression], n: Int, usage: String): Unit =
    require(children.length == n, usage)

  /** The D1 expression family a SQL-only session can reach. Parameters the
    * Scala API takes as constructor arguments (k, level, term lists) arrive
    * as literals, extracted at resolution time — a non-literal is a clear
    * error, not a silent misplan.
    */
  val scalarFunctions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSim].getName, children => {
      arity(children, 2, "cosine_sim(a, b) takes two array arguments")
      CosineSim(children.head, children(1))
    }),
    ("token_counts", classOf[TokenCounts].getName, children => {
      arity(children, 1, "token_counts(text)")
      TokenCounts(children.head)
    }),
    ("deflated_size", classOf[DeflatedSize].getName, children => {
      arity(children, 2, "deflated_size(text, level) — level a literal int")
      DeflatedSize(children.head, litInt(children(1), "deflated_size", "level"))
    }),
    ("shingle_hashes", classOf[ShingleHashes].getName, children => {
      arity(children, 2, "shingle_hashes(text, k) — k a literal int; md5-based")
      ShingleHashes(children.head, litInt(children(1), "shingle_hashes", "k"))
    }),
    ("term_frequencies", classOf[TermFrequencies].getName, children => {
      arity(children, 2, "term_frequencies(text, array('t1', ...)) — literal terms")
      TermFrequencies(children.head,
        litStrings(children(1), "term_frequencies", "terms").toIndexedSeq)
    }),
    ("agree_count", classOf[ArrayAgreeCount].getName, children => {
      arity(children, 2, "agree_count(a, b) takes two long-array arguments")
      ArrayAgreeCount(children.head, children(1))
    }))

  /** Table-valued entry points for the flagship operators: a SQL-only
    * session drives the full operator pipeline with
    * `SELECT * FROM graft_<op>('<sf-dir>')`. Each builder resolves the
    * ACTIVE session (the one planning this query) and returns the same
    * logical plan the Scala API produces — no parallel implementation.
    */
  val tableFunctions: Seq[(String, Seq[Expression] => LogicalPlan)] = Seq(
    ("graft_dedup_survivors", children => {
      arity(children, 1, "graft_dedup_survivors('<dir>')")
      val dir = litString(children.head, "graft_dedup_survivors", "dir")
      graft.ops.Dedup.exact(org.apache.spark.sql.SparkSession.active, dir)
        .queryExecution.logical
    }),
    ("graft_contamination", children => {
      arity(children, 1, "graft_contamination('<dir>')")
      val dir = litString(children.head, "graft_contamination", "dir")
      graft.ops.Corpus.contamination(org.apache.spark.sql.SparkSession.active, dir)
        .queryExecution.logical
    }),
    ("graft_text_quality", children => {
      arity(children, 1, "graft_text_quality('<dir>')")
      val dir = litString(children.head, "graft_text_quality", "dir")
      graft.ops.TextAnalysis.quality(org.apache.spark.sql.SparkSession.active, dir)
        .queryExecution.logical
    }),
    ("graft_bm25", children => {
      arity(children, 2, "graft_bm25('<dir>', array('term', ...))")
      val dir = litString(children.head, "graft_bm25", "dir")
      val terms = litStrings(children(1), "graft_bm25", "terms")
      graft.ops.Relevance.bm25Search(org.apache.spark.sql.SparkSession.active,
        dir, terms).queryExecution.logical
    }),
    // r17 (VERDICT r16 #8): the retrieval family joins the SQL surface —
    // same return-the-Scala-plan discipline, no parallel implementation.
    ("graft_phrase_search", children => {
      arity(children, 2, "graft_phrase_search('<dir>', 'tok1 tok2 ...')")
      val dir = litString(children.head, "graft_phrase_search", "dir")
      val phrase = litString(children(1), "graft_phrase_search", "phrase")
      val spark = org.apache.spark.sql.SparkSession.active
      graft.ops.Relevance.phraseOccurrences(
        graft.Tables.documents(spark, dir), phrase).queryExecution.logical
    }),
    ("graft_gopher_rules", children => {
      arity(children, 1, "graft_gopher_rules('<dir>')")
      val dir = litString(children.head, "graft_gopher_rules", "dir")
      graft.ops.Curation.gopherRules(org.apache.spark.sql.SparkSession.active, dir)
        .queryExecution.logical
    }),
    ("graft_hybrid_search", children => {
      arity(children, 3,
        "graft_hybrid_search('<dir>', <query_vec_id>, array('term', ...))")
      val dir = litString(children.head, "graft_hybrid_search", "dir")
      val qid = litLong(children(1), "graft_hybrid_search", "query_vec_id")
      val terms = litStrings(children(2), "graft_hybrid_search", "terms")
      graft.ops.Relevance.hybridSearch(org.apache.spark.sql.SparkSession.active,
        dir, Seq(qid -> terms)).queryExecution.logical
    }))
}
