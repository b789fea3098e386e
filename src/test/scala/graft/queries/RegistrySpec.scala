package graft.queries

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** The registry is one table: every query has a builder and either
  * its DuckDB oracle or a named reason it has none. A new rows-only
  * query must be a deliberate edit of this spec. */
class RegistrySpec extends AnyFunSuite {

  private val rowsOnly: Map[String, String] =
    Registry.all.collect { case QueryDef(name, _, RowsOnly(reason)) => name -> reason }.toMap

  test("227 names, none registered twice") {
    val names = Registry.all.map(_.name)
    assert(names.size == 227)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.size == 227)
  }

  test("a name registered twice fails the derivation") {
    val d = Registry.all.head
    val e = intercept[IllegalArgumentException](Registry.distinctNames(Seq(d, d)))
    assert(e.getMessage.contains(d.name))
  }

  test("the rows-only set is exactly tx_compress, and it names its reason") {
    assert(rowsOnly.keySet == Set("tx_compress"))
    assert(rowsOnly.values.forall(_.trim.nonEmpty))
  }

  test("every query has an oracle or a rows-only reason") {
    assert(SparkEntry.oracleSql.keySet ++ rowsOnly.keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.oracleSql.size == 226)
  }
}
