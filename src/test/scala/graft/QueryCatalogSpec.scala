package graft

import org.apache.spark.sql.SparkSession

/** SparkEntry's catalog: one record per graded query, each with its oracle. */
class QueryCatalogSpec extends SparkSpec {

  test("the catalog holds 278 queries under distinct names") {
    assert(SparkEntry.queries.size === 278)
    assert(SparkEntry.oracleSql.size === 278)
  }

  test("every oracle is a non-empty SQL string") {
    val bad = SparkEntry.oracleSql.collect { case (q, sql) if sql == null || sql.trim.isEmpty => q }
    assert(bad.isEmpty)
  }

  test("builders and oracles name the same queries") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("a catalog with a name twice is refused") {
    def q(name: String) = SparkEntry.Query(name, SparkEntry.InvariantOracleSql,
      (s: SparkSession, _: String) => s.range(1).toDF())
    assert(SparkEntry.catalog(q("a"), q("b")).map(_.name) === Seq("a", "b"))
    val e = intercept[IllegalArgumentException](SparkEntry.catalog(q("a"), q("b"), q("a")))
    assert(e.getMessage === "requirement failed: duplicate query names: a")
  }
}
