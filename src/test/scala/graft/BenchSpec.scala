package graft

import java.util.Locale

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench's `queries_part` stdout lines must stay machine-readable
  * whatever the JVM's default locale: a comma-decimal locale would turn
  * `0.123457` into `0,123457` and break every line.
  */
class BenchSpec extends AnyFunSuite {

  test("queries_part lines parse as JSON under a comma-decimal default locale") {
    val warm = (1 to 300).map(i => s"q_query_$i" -> i * 0.123456789) :+ ("q_failed" -> -1.0)
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    val lines = try Bench.queriesPartLines(warm, 12.5) finally Locale.setDefault(prev)
    assert(lines.size > 1, "300 entries must span several parts")
    val mapper = new ObjectMapper()
    val parsed = lines.map(mapper.readTree)
    assert(lines.forall(_.length < 1900))
    assert(parsed.map(_.get("i").asInt()) == (1 to lines.size))
    assert(parsed.forall(p => p.get("n").asInt() == lines.size && p.get("total").asDouble() == 12.5))
    val all = parsed.flatMap(_.get("queries").fields().asScala.map(e => e.getKey -> e.getValue.asDouble()))
    assert(all.map(_._1) == warm.map(_._1))
    all.zip(warm).foreach { case ((name, got), (_, want)) =>
      assert(math.abs(got - want) <= 5e-7, s"$name: $got vs $want")
    }
  }
}
