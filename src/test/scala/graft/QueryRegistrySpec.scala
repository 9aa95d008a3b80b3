package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{QueryDef, Relational}

/** The query registry is one `QueryDef` list per family; `Queries.all` and
  * `Queries.oracles` are views of their concatenation. */
class QueryRegistrySpec extends AnyFunSuite {

  test("the family lists register every query name once") {
    val names = Queries.defs.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dups.isEmpty, s"registered twice: ${dups.mkString(", ")}")
    assert(Queries.all.size === names.size)
  }

  test("every query has a non-empty oracle") {
    val empty = Queries.defs.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(empty.isEmpty, s"empty oracle: ${empty.mkString(", ")}")
  }

  test("all and oracles cover the same names") {
    assert(Queries.all.keySet === Queries.oracles.keySet)
  }

  test("assembling two lists that share a name throws") {
    val a = Seq(QueryDef("x01_shared", (_, _) => null, "SELECT 1"))
    val b = Seq(QueryDef("x01_shared", (_, _) => null, "SELECT 2"))
    val e = intercept[IllegalArgumentException](Queries.assemble(a, b))
    assert(e.getMessage.contains("x01_shared"))
    intercept[IllegalArgumentException](
      Queries.assemble(Relational.queries, Relational.queries))
  }
}
