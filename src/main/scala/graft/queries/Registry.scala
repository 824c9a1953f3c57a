package graft
package queries

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: its name, the function that builds it over a
  * testdata dir, and the DuckDB SQL that must return the same rows
  * (`None`: only the row count is checked).
  */
private[graft] final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** A family module of the registry. Each query is declared once,
  * right below its build function, with [[query]] (or [[rowsOnly]]
  * when no SQL oracle exists), and each on-disk input once with
  * [[fixture]].
  */
private[graft] abstract class QueryFamily {
  private type Builder = (SparkSession, String) => DataFrame
  private val declared = mutable.ArrayBuffer.empty[(String, Builder, Option[() => String])]
  private val declaredFixtures = mutable.ArrayBuffer.empty[Fixture]

  /** Registers `name` with its oracle. The SQL is only evaluated when
    * the registry is first read, so it may use SQL helpers declared
    * further down the module.
    */
  protected final def query(name: String, build: Builder, oracle: => String): Unit =
    declared += ((name, build, Some(() => oracle)))

  /** Registers a hash-seeded query that has no SQL oracle. */
  protected final def rowsOnly(name: String, build: Builder): Unit =
    declared += ((name, build, None))

  /** Declares a fixture whose dirs are `/tmp/graft_<name>_<dir tag>`,
    * or one `/tmp/graft_<name>_<part>_<dir tag>` per listed part.
    */
  protected final def fixture(name: String, parts: String*)(
      write: (SparkSession, String) => Unit): Fixture = {
    val f = new Fixture(name, parts)(write)
    declaredFixtures += f
    f
  }

  final lazy val queries: Seq[Query] =
    declared.map { case (n, b, o) => Query(n, b, o.map(_())) }.toList
  final def fixtures: Seq[Fixture] = declaredFixtures.toList
}

/** A storage artifact some queries read instead of writing it per
  * query — block compaction reads already-converted block dirs, a
  * converted-layout select an already-converted dataset. Writing
  * those inputs is setup a real deployment does once at ingest, so
  * `write` runs once per process and source dir, exactly as the
  * reference's compactor consumes blocks some earlier job wrote.
  */
private[graft] final class Fixture(val name: String, val parts: Seq[String])(
    write: (SparkSession, String) => Unit) {

  def path(dir: String): String = {
    require(parts.isEmpty, s"fixture $name writes one dir per part")
    Shared.tmpPath(name, dir)
  }

  def path(dir: String, part: String): String = {
    require(parts.contains(part), s"fixture $name has no part $part")
    Shared.tmpPath(s"${name}_$part", dir)
  }

  /** Every dir the fixture writes for `dir`. */
  def paths(dir: String): Seq[String] =
    if (parts.isEmpty) Seq(path(dir)) else parts.map(path(dir, _))

  /** Writes the fixture for `dir` unless this process already has.
    * Builds must not nest: a fixture that reads another one leaves
    * building it to its callers.
    */
  def build(s: SparkSession, dir: String): Unit =
    Fixture.built.computeIfAbsent(s"$name:$dir",
      _ => { write(s, dir); java.lang.Boolean.TRUE })

  /** [[build]], then the fixture's one dir. */
  def apply(s: SparkSession, dir: String): String = {
    build(s, dir)
    path(dir)
  }
}

private object Fixture {
  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
}
