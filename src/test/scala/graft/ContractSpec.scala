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
    val e = intercept[IllegalArgumentException](SparkEntry.registry(
      Seq(Map("a" -> 1, "b" -> 2), Map("b" -> 3, "c" -> 4), Map("a" -> 5)).flatten: _*))
    assert(e.getMessage.contains("a, b"), e.getMessage)
    assert(SparkEntry.registry(Seq(Map("a" -> 1), Map("b" -> 2)).flatten: _*) ==
      Map("a" -> 1, "b" -> 2))
  }

  test("a name repeated inside one registry literal fails, naming each repeat") {
    val e = intercept[IllegalArgumentException](SparkEntry.registry(
      "c" -> 1, "a" -> 2, "c" -> 3, "b" -> 4, "a" -> 5))
    assert(e.getMessage.contains("a, c"), e.getMessage)
    assert(!e.getMessage.contains("b"), e.getMessage)
  }

  test("select keeps the registry's order and names every unknown query") {
    val names = SparkEntry.queries.keys.toSeq
    assert(SparkEntry.select(Set.empty).map(_._1) == names)
    val some = Set(names.last, names.head, names(names.length / 2))
    assert(SparkEntry.select(some).map(_._1) == names.filter(some))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Set(names.head, "no_such_q2", "no_such_q1")))
    assert(e.getMessage.contains("no_such_q1, no_such_q2"), e.getMessage)
  }

  test("only GraftSession builds a SparkSession in src/main and src/test") {
    // perfbench/ is not scanned: the benchmark builds its own session, so
    // its numbers do not move when the program's session settings change
    val pattern = """SparkSession\s*\.\s*builder""".r
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val files = Seq("src/main/scala", "src/test/scala")
      .flatMap(d => scalaFiles(new java.io.File(d)))
    assert(files.exists(_.getName == "GraftSession.scala"), "source tree not found")
    val builders = files.filter { f =>
      pattern.findFirstIn(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).nonEmpty
    }.map(_.getName)
    assert(builders == Seq("GraftSession.scala"), builders)
  }

  test("no freshTmpDir tag or freshCatalog name is given twice in src/main/scala") {
    // two queries sharing a tag share one scratch dir, and building one
    // deletes the other's table; catalog names are session-global
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val src = scalaFiles(new java.io.File("src/main/scala")).map(f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).mkString("\n")
    val tmpDir = """freshTmpDir\(\s*\w+\s*,\s*"([^"]+)"""".r
    val catalog = """freshCatalog\(\s*\w+\s*,\s*"([^"]+)"\s*,\s*"([^"]+)"""".r
    val catalogs = catalog.findAllMatchIn(src).toSeq
    val tags = tmpDir.findAllMatchIn(src).map(_.group(1)).toSeq ++ catalogs.map(_.group(2))
    val names = catalogs.map(_.group(1))
    assert(tags.length > 40 && names.length > 20, s"${tags.length} tags, ${names.length} names")
    def repeated(xs: Seq[String]) = xs.groupBy(identity).collect { case (x, g) if g.length > 1 => x }
    assert(repeated(tags).isEmpty, s"freshTmpDir tags given twice: ${repeated(tags)}")
    assert(repeated(names).isEmpty, s"freshCatalog names given twice: ${repeated(names)}")
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
