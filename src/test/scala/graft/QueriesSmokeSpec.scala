package graft

/** Every SparkEntry query must execute at sf0.001 (the driver's smoke
  * scale) and return a well-formed result; queries whose result can be
  * legitimately empty at tiny scale are exempt from the rows>0 check. */
class QueriesSmokeSpec extends SparkSpec {

  private val mayBeEmpty = Set(
    "q05_anti_join",      // referential integrity may hold at tiny sf
    "q10_dup_detector",   // dup (partkey,suppkey) pairs may not exist
    "q13_availability",   // count row always present actually; keep safe
    "q23_ngram_jaccard", "q24_minhash_lsh", "q25_simhash",
    "q35_embed_neardup",  // near-dups may not exist at sf0.001
    "q69_winnow_pairs")   // ditto

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registered query names are distinct") {
    // queries/oracleSql are built with toMap, which would silently keep
    // only the last of two specs sharing a name
    val dups = SparkEntry.specs.groupBy(_.name).collect {
      case (n, ss) if ss.size > 1 => n
    }
    assert(dups.isEmpty, s"duplicate query names: $dups")
  }

  test("queries and oracleSql are consistent") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sf0001)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
      assert(df.columns.nonEmpty)
    }
  }
}
