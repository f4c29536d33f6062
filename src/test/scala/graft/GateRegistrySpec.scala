package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry that `SparkEntry` assembles from the family files:
  * every gate defined once, with both its query and its oracle. */
class GateRegistrySpec extends AnyFunSuite {
  private val names = SparkEntry.gates.map(_.name)

  test("210 gates, no name defined twice across the family files") {
    // queries/oracleSql are maps: a name defined twice would silently
    // keep only one of its definitions
    val twice = names.diff(names.distinct).distinct
    assert(twice.isEmpty, s"defined more than once: ${twice.mkString(", ")}")
    assert(names.size == 210)
  }

  test("queries and oracleSql name the same gates; no oracle is empty") {
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
    val empty = SparkEntry.oracleSql.collect {
      case (name, sql) if sql.trim.isEmpty => name
    }
    assert(empty.isEmpty, s"empty oracle SQL: ${empty.mkString(", ")}")
  }

  test("oracle SQL text is pinned: sha256 over the oracles sorted by name") {
    // Moves only with a deliberate oracle change, recorded in CHANGES.md
    // with the names of the oracles whose text changed.
    val md = java.security.MessageDigest.getInstance("SHA-256")
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      md.update(s"$name\n$sql\n".getBytes("UTF-8"))
    }
    val digest = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(digest ==
      "47c27cddab30c9e816c696f24c5808527aa3caf4594b94e3ec818a989c28a6ca")
  }

  test("every gate name matches q_[a-z0-9_]+") {
    val bad = names.filterNot(_.matches("q_[a-z0-9_]+"))
    assert(bad.isEmpty, s"bad gate names: ${bad.mkString(", ")}")
  }
}
