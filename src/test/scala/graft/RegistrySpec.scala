package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.queries` is built with `.toMap`, so a duplicate query name
  * would silently drop a query and Verify and Bench would run one fewer
  * without failing. */
class RegistrySpec extends AnyFunSuite {

  test("registered query names are unique") {
    val dups = Registry.all.groupBy(_.name).collect {
      case (name, qs) if qs.size > 1 => name
    }
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size === Registry.all.size)
  }

  test("every oracle belongs to a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: ${orphans.mkString(", ")}")
  }
}
