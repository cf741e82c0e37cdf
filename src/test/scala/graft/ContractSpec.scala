package graft

/** Driver-contract guards: every oracle belongs to a registered query,
  * every query at least analyzes against the smallest harness data (plan
  * resolution catches renamed columns/typos without executing), and the
  * flagship returns rows. */
class ContractSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("every oracleSql key has a matching queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("oracle coverage is total") {
    val unchecked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unchecked.isEmpty, s"queries without oracle: $unchecked")
  }

  test("a name registered by two modules fails the registry merge, naming each duplicate") {
    val e = intercept[IllegalArgumentException](SparkEntry.mergeRegistries(
      Map("a" -> 1, "b" -> 2), Map("b" -> 3, "c" -> 4), Map("a" -> 5)))
    assert(e.getMessage.contains("a, b"), e.getMessage)
    assert(SparkEntry.mergeRegistries(Map("a" -> 1), Map("b" -> 2)) ==
      Map("a" -> 1, "b" -> 2))
  }

  test("every registered query analyzes at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, dir).queryExecution.analyzed
      catch { case e: Exception => fail(s"$name failed analysis: ${e.getMessage}") }
    }
  }

  test("no registered query emits driver-unhashable types (DECIMAL/ARRAY/MAP/STRUCT)") {
    // the SAME predicate graft.Verify enforces at dump time — shared via
    // SparkEntry.bannedOutputType so the two gates cannot drift
    SparkEntry.queries.foreach { case (name, fn) =>
      val bad = fn(spark, dir).schema.fields.filter(f => SparkEntry.bannedOutputType(f.dataType))
      assert(bad.isEmpty,
        s"$name emits banned output types: ${bad.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")}")
    }
  }

  test("flagship entry returns rows (t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
