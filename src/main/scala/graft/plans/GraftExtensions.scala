package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{CountMatches, MinKDistinct, QDotLong}

/** Engine extension point: registers graft's native Catalyst functions
  * and optimizer rules.
  *
  * Two registration paths, both supported:
  *   - cluster-wide: `spark.sql.extensions=graft.plans.GraftExtensions`
  *     (the idiomatic `SparkSessionExtensions` route);
  *   - programmatic: `GraftExtensions.register(spark)` — idempotent, used
  *     by the query catalog so any driver-created session works.
  *
  * `register` also installs the engine's `file:` filesystem
  * ([[graft.core.LocalFs]]) in the session's Hadoop conf; the
  * `spark.sql.extensions` route alone does not.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.minKFunction)
    ext.injectFunction(GraftExtensions.qdotFunction)
    ext.injectFunction(GraftExtensions.countMatchesFunction)
    ext.injectOptimizerRule(_ => RewriteCountMatches)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

object GraftExtensions {

  private val minKFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_min_k"),
    new ExpressionInfo(classOf[MinKDistinct].getName, "graft_min_k"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_min_k(expr, k) takes 2 arguments")
      val k = children(1) match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"graft_min_k: k must be an integer literal, got $other")
      }
      MinKDistinct(children.head, k)
    })

  private val qdotFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_qdot"),
    new ExpressionInfo(classOf[QDotLong].getName, "graft_qdot"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_qdot(a, b) takes 2 arguments")
      QDotLong(children.head, children(1))
    })

  private val countMatchesFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_count_matches"),
    new ExpressionInfo(classOf[CountMatches].getName, "graft_count_matches"),
    (children: Seq[Expression]) => {
      require(children.size == 2,
        "graft_count_matches(str, regex) takes 2 arguments")
      CountMatches(children.head, children(1))
    })

  /** Idempotent per-session registration (re-registering overwrites).
    * The filesystem goes in first: the session state's first use
    * builds Hadoop's `file:` filesystem, and Hadoop's cache keeps
    * whichever class was built first. */
  def register(spark: SparkSession): Unit = {
    graft.core.LocalFs.install(spark.sparkContext.hadoopConfiguration)
    spark.sessionState.functionRegistry.registerFunction(
      minKFunction._1, minKFunction._2, minKFunction._3)
    spark.sessionState.functionRegistry.registerFunction(
      qdotFunction._1, qdotFunction._2, qdotFunction._3)
    spark.sessionState.functionRegistry.registerFunction(
      countMatchesFunction._1, countMatchesFunction._2,
      countMatchesFunction._3)
    // optimizer rule for already-built sessions (the extensions class
    // handles spark.sql.extensions-configured ones)
    val em = spark.sessionState.experimentalMethods
    if (!em.extraOptimizations.contains(RewriteCountMatches))
      em.extraOptimizations = em.extraOptimizations :+ RewriteCountMatches
    if (!em.extraStrategies.contains(AsOfJoinStrategy))
      em.extraStrategies = em.extraStrategies :+ AsOfJoinStrategy
  }

  /** `graft_count_matches` as a Column, for DataFrame-API callers. */
  def countMatches(spark: SparkSession, c: Column, re: String): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_count_matches", c,
      org.apache.spark.sql.functions.lit(re))
  }
}
