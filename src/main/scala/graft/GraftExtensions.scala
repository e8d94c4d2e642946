package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.{GraftFunctions, TxTableTvf}

/** SparkSessionExtensions entry point: makes the engine's Catalyst
  * expressions available to pure-SQL users at session build time —
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  *     ...
  *   spark.sql("SELECT cosine_sim(a.embedding, b.embedding) ...")
  * }}}
  *
  * It injects every entry of [[GraftFunctions.all]] and
  * [[TxTableTvf.all]], the same tables [[GraftFunctions.register]] loops
  * over for a session that is already running; this path covers
  * deployments where the session is built by infra (spark-submit,
  * Thrift/Connect servers) and user code never sees the builder. The
  * DataFrame helpers in [[GraftFunctions]] need neither.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), GraftFunctions.info(name, usage), builder))
    }
    // ACID-table reads as table-valued functions: FROM txtable_merged(...)
    TxTableTvf.all.foreach { case (name, usage, builder) =>
      ext.injectTableFunction((FunctionIdentifier(name), GraftFunctions.info(name, usage), builder))
    }
    // optimizer rule: banded rewrite of levenshtein threshold predicates
    ext.injectOptimizerRule(_ => graft.plans.BoundedLevenshteinRewrite)
  }
}
