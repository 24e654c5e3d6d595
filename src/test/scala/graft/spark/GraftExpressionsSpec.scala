package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.functions.GraftExpressions

/** Function registration from the one (name, builder) table. A fresh
  * session has its own function registry, so these tests do not depend on
  * which suites registered into the shared session before them. */
class GraftExpressionsSpec extends AnyFunSuite {
  test("register twice: every table name resolves, and the second call re-registers nothing") {
    val s = TestSpark.spark.newSession()
    val registry = s.sessionState.functionRegistry
    def info(n: String) = registry.lookupFunction(FunctionIdentifier(n))
    assert(GraftExpressions.names.nonEmpty)
    assert(GraftExpressions.names.distinct == GraftExpressions.names, "duplicate table row")
    assert(GraftExpressions.names.forall(n => info(n).isEmpty))
    GraftExpressions.register(s)
    val first = GraftExpressions.names.map(n => n -> info(n).get).toMap
    GraftExpressions.register(s)
    for (n <- GraftExpressions.names) {
      assert(registry.functionExists(FunctionIdentifier(n)), n)
      assert(info(n).get eq first(n), s"$n was re-registered")
    }
    assert(s.sql("SELECT graft_dot(array(1L, 2L), array(3L, 4L))").head().getLong(0) == 11L)
  }

  test("a registry missing one name is completed, not skipped") {
    val s = TestSpark.spark.newSession()
    val registry = s.sessionState.functionRegistry
    GraftExpressions.register(s)
    val dropped = GraftExpressions.names.last
    registry.dropFunction(FunctionIdentifier(dropped))
    assert(!registry.functionExists(FunctionIdentifier(dropped)))
    GraftExpressions.register(s)
    assert(GraftExpressions.names.forall(n => registry.functionExists(FunctionIdentifier(n))))
  }
}
