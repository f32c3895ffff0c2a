package org.apache.spark.sql.graftbridge

import graft.{BenchProtocol, SparkSuite}
import graft.expressions.{GraftExtensions, VectorExpressions}
import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

/** Both installers of the graft function library read one table: the
  * `spark.sql.extensions` path (`GraftExtensions`) and the session
  * recipe (`BenchProtocol.session`). `registerFunctions` is
  * `private[sql]`, hence this package. */
class FunctionTableSpec extends SparkSuite {

  private val names = VectorExpressions.functions.map(_.name)

  test("GraftExtensions injects exactly the table's functions and both rules") {
    assert(names.distinct.size == names.size, s"duplicate names in $names")
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registry = ext.registerFunctions(new SimpleFunctionRegistry)
    assert(registry.listFunction().map(_.funcName).toSet == names.toSet)
    assert(ext.buildOptimizerRules(spark) == VectorExpressions.rules)
  }

  test("a recipe session resolves every table function from SQL with no operator run") {
    def resolves(n: String): Boolean =
      try { spark.sql(s"DESCRIBE FUNCTION $n").collect(); true }
      catch { case _: AnalysisException => false }
    val registry = spark.sessionState.functionRegistry
    try {
      // strip the library the shared session already carries, so only
      // the recipe below can put it back
      names.foreach(n => registry.dropFunction(FunctionIdentifier(n)))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(VectorExpressions.rules.contains)
      assert(names.forall(n => !resolves(n)))
      assert(BenchProtocol.session("4") eq spark)
      assert(names.filterNot(resolves).isEmpty)
      assert(spark.experimental.extraOptimizations == VectorExpressions.rules)
    } finally VectorExpressions.register(spark)
  }

  test("a second recipe call on a session carrying the library replaces no function") {
    val registry = spark.sessionState.functionRegistry
    def infos = names.map(n => registry.lookupFunction(FunctionIdentifier(n)))
    val before = infos
    assert(before.forall(_.isDefined))
    assert(BenchProtocol.session("4") eq spark)
    assert(infos.zip(before).forall { case (a, b) => a.get eq b.get },
      "every name keeps its ExpressionInfo object")
  }
}
