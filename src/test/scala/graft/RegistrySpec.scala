package graft

/** Driver-contract guards: the things the round driver assumes about
  * SparkEntry/Registry, pinned as specs so a refactor cannot silently
  * break the correctness gate. */
class RegistrySpec extends SparkSpec {

  test("query names are unique and every query has an oracle") {
    val qs = Registry.byName // byName itself requires uniqueness
    val oracleLess = qs.values.filter(_.oracle.isEmpty).map(_.name).toSet
    // since round 7 even q_binary_scan is oracle-checked (DuckDB read_blob)
    assert(oracleLess === Set.empty[String])
    assert(qs.keySet === SparkEntry.queries.keySet)
    assert(SparkEntry.oracleSql.keySet ===
      qs.filter(_._2.oracle.isDefined).keySet)
  }

  test("README's stated registry counts equal the registry size") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val stated = Seq("## Query families \\((\\d+), all oracle-checked\\)",
        "all (\\d+) registered queries")
      .map(_.r.findFirstMatchIn(readme).map(_.group(1).toInt))
    assert(stated === Seq.fill(2)(Some(SparkEntry.queries.size)),
      "README states a stale query count")
  }

  test("entry query returns rows at sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
