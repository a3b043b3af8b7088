package graft

import org.apache.spark.sql.graft.GraftSql

/** The session registry: `GraftSql.ensureRegistered` installs exactly
  * `GraftSql.rules` and `GraftSql.strategies`, once each however often
  * it is called, and nothing else — the function registry of the
  * session it is given stays as it found it.
  */
class ExtensionsSpec extends SparkSpec {

  test("ensureRegistered exposes the same surface on an existing session; idempotent") {
    GraftSql.ensureRegistered(spark)
    GraftSql.ensureRegistered(spark)
    GraftSql.rules.foreach(r =>
      assert(spark.experimental.extraOptimizations.count(_ == r) === 1, r.ruleName))
    GraftSql.strategies.foreach(s =>
      assert(spark.experimental.extraStrategies.count(_ == s) === 1, s))

    // a fresh session holds exactly the registry after one call, with
    // no duplicates after a second
    val fresh = spark.newSession()
    GraftSql.ensureRegistered(fresh)
    GraftSql.ensureRegistered(fresh)
    assert(fresh.experimental.extraOptimizations === GraftSql.rules)
    assert(fresh.experimental.extraStrategies === GraftSql.strategies)
  }

  test("a second ensureRegistered call leaves the function registry unchanged") {
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    val before = registry.listFunction().map(id => id -> registry.lookupFunction(id).get)
    val ids = before.map(_._1).toSet
    // neither the first call nor a second one adds, drops or replaces
    // a function: a registration would store a fresh ExpressionInfo
    (1 to 2).foreach { _ =>
      GraftSql.ensureRegistered(fresh)
      val after = registry.listFunction().toSet
      assert((after -- ids).isEmpty, s"added: ${after -- ids}")
      assert((ids -- after).isEmpty, s"dropped: ${ids -- after}")
      before.foreach { case (id, info) =>
        assert(registry.lookupFunction(id).get eq info, id)
      }
    }
  }
}
