package graft

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench's two stdout contract lines stay parseable JSON whatever
  * the JVM's default locale, and the compact line keeps to its budget. */
class BenchSpec extends AnyFunSuite {
  test("contract lines parse under a comma-decimal locale; compact line fits its budget") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      val queries = (1 to 203).map(i => f"q$i%03d_catalog_query" -> (i * 0.137 + 0.004))
      val env = s"""{"wall_s":${Bench.num(1234.56, 1)}}"""
      val (full, compact) = Bench.contractLines(queries, Map("q001_catalog_query" -> "Boom: \"x\""),
        env, Map("q002_catalog_query" -> "pass1=1.5"), "sf0.1")
      val json = new ObjectMapper
      val f = json.readTree(full)
      val c = json.readTree(compact)
      assert(f.get("queries").size == 203)
      assert(f.get("queries").get("q010_catalog_query").asDouble == 1.37)
      assert(f.get("value").asDouble == BigDecimal(queries.map(_._2).sum)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(f.get("env").get("wall_s").asDouble == 1234.6)
      assert(c.get("n").asInt == 203 && c.get("n_errors").asInt == 1)

      val start = compact.indexOf("\"queries\":{") + "\"queries\":{".length
      val inner = compact.substring(start, compact.indexOf("}", start))
      assert(inner.length <= Bench.CompactQueriesBudget)
      val kept = c.get("queries").fieldNames()
      var keptNames = Set.empty[String]
      while (kept.hasNext) keptNames += kept.next()
      // slowest first, and every entry left out would overflow the budget
      // once its comma is counted
      assert(keptNames.contains("q203_catalog_query") && keptNames.size < 203)
      queries.filterNot(q => keptNames(q._1)).foreach { case (k, v) =>
        assert(inner.length + 1 + s""""$k":${Bench.num(v, 2)}""".length >
          Bench.CompactQueriesBudget, k)
      }
    } finally Locale.setDefault(saved)
  }
}
