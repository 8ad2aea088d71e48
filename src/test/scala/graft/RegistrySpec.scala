package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.queries` and `oracleSql` are both built from one registry
  * with `.toMap`, which keeps the last of any duplicate name silently;
  * every query must be registered once and carry its DuckDB oracle.
  */
class RegistrySpec extends AnyFunSuite {
  test("every registered query name is unique") {
    val dups = SparkEntry.registry.groupBy(_.name).collect {
      case (n, qs) if qs.size > 1 => n
    }
    assert(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted}")
  }

  test("every query has an oracle and every oracle a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"no oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"no query: ${(o -- q).toSeq.sorted}")
  }
}
