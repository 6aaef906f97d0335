package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every query of the driver contract is checked against exactly one
  * oracle: a DuckDB statement in [[SparkEntry.oracleSql]] or a Python
  * reference in `tools/compare.py`'s `PY_ORACLES`, and no oracle checks
  * a query that does not exist.
  */
class OracleCoverageSpec extends AnyFunSuite {

  /** The keys of the `PY_ORACLES = {...}` literal in tools/compare.py. */
  private def pyOracles: Set[String] = {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/compare.py")), "UTF-8")
    val body = src.split("\nPY_ORACLES = \\{", 2) match {
      case Array(_, rest) => rest.takeWhile(_ != '}')
      case _ => fail("no PY_ORACLES literal in tools/compare.py")
    }
    body.linesIterator.map(_.takeWhile(_ != '#'))
      .flatMap("\"([a-z0-9_]+)\"\\s*:".r.findAllMatchIn(_).map(_.group(1))).toSet
  }

  test("each of the 196 queries has exactly one oracle, and each oracle a query") {
    val queries = SparkEntry.queries.keySet
    val sql = SparkEntry.oracleSql.keySet
    val py = pyOracles
    assert(queries.size == 196)
    assert((sql.size, py.size) == ((186, 10)))
    assert(sql.intersect(py).isEmpty, s"two oracles: ${sql.intersect(py)}")
    assert(queries -- sql -- py == Set.empty, "queries without an oracle")
    assert((sql ++ py) -- queries == Set.empty, "oracles without a query")
  }
}
