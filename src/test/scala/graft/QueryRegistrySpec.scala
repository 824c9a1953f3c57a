package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry's family modules: each query and fixture is declared
  * exactly once, so none can be dropped silently when the entries
  * become `SparkEntry`'s maps.
  */
class QueryRegistrySpec extends AnyFunSuite {

  private val families = SparkEntry.families
  private val declared = families.flatMap(_.queries)

  test("no query name is declared twice") {
    val dups = declared.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"declared twice: $dups")
    assert(SparkEntry.queries.size == declared.size)
  }

  test("no two fixtures share a name or a dir") {
    val fixtures = families.flatMap(_.fixtures)
    val dupNames = fixtures.groupBy(_.name).collect { case (n, fs) if fs.size > 1 => n }
    assert(dupNames.isEmpty, s"fixture names declared twice: $dupNames")
    // dirs of distinct fixtures may neither coincide nor nest by prefix
    val dir = "/data/testdata/sf0.01"
    val paths = fixtures.flatMap(f => f.paths(dir).map(_ -> f.name))
    for ((p, f) <- paths; (q, g) <- paths if (p, f) != (q, g))
      assert(!q.startsWith(p), s"fixture $g's dir $q starts with fixture $f's $p")
  }

  test("exactly the hash-seeded LSH and ANN queries have no oracle") {
    val rowsOnly = declared.filter(_.oracle.isEmpty).map(_.name).toSet
    assert(rowsOnly == Set("ann_ivf", "ann_ivf_pq", "ann_lsh",
      "dd_embed_neardup_lsh", "dd_minhash_lsh", "dd_minhash_neardup",
      "dd_simhash"))
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet -- rowsOnly)
  }
}
