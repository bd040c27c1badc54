package graft.functions

import graft.GraftSession
import graft.sources.NioLocalFileSystem
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.{ColumnBridge, StreamingBridge}

/** SQL-surface registration of the native expressions, so `spark.sql`
  * users get them too: either per-session via [[GraftFunctions.register]]
  * or globally via `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {

  private def intArg(es: Seq[Expression], i: Int, default: Int): Int =
    es.lift(i).map(_.eval().asInstanceOf[Number].intValue()).getOrElse(default)

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash60" -> (es => SimHash60(es.head)),
    "minhash_sig" -> (es => MinHashSignature(es.head, intArg(es, 1, 16))),
    "dot_fold" -> (es => DotFold(es(0), es(1))),
    "sig_agree" -> (es => SigAgree(es(0), es(1))),
    "winnow60" -> (es => Winnow60(es.head, intArg(es, 1, Winnow60.DefaultWindow))),
    // aggregate: the analyzer wraps a bare AggregateFunction builder in
    // an AggregateExpression, same as built-in UDAF registration
    "misra_gries" -> (es => MisraGriesAgg(es.head, intArg(es, 1, 4096)))
  )

  /** Register into an existing session's function registry. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      ColumnBridge.registerFunction(spark, name, b)
    }
}

/** `SparkSessionExtensions` hook: add
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions` and the
  * functions resolve in plain SQL across all sessions, the
  * [[EditDistancePrefilter]] rule runs in the optimizer, and every local
  * write (parquet, state-store uploads, Spark's own streaming checkpoint
  * manager) goes through [[graft.sources.NioLocalFileSystem]], which
  * starts no process (installed on the running SparkContext's Hadoop
  * configuration; an explicit `spark.hadoop.fs.file.impl` or
  * `spark.hadoop.fs.AbstractFileSystem.file.impl` wins).
  *
  * It also sets [[graft.GraftSession.defaults]] on the running context's
  * conf, for each key not already set there; the first session on the
  * context snapshots that conf, so its queries and every session cloned
  * from it start with them. An explicit setting (builder `.config`,
  * `--conf` or `-Dspark.…`) wins. One of them turns Spark's per-session
  * artifact isolation off, so every query's tasks share the executor's
  * default session and its compiled code: artifacts added with
  * `SparkSession.addArtifact` then become visible to every session on the
  * context.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), b))
    }
    ext.injectOptimizerRule(_ => EditDistancePrefilter)
    GraftSession.installDefaults(StreamingBridge.activeConf)
    StreamingBridge.activeContext.foreach(NioLocalFileSystem.install)
  }
}
