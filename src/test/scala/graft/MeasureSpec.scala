package graft

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The measurement core's JSON writer and CPU rule: the artifacts of
  * Bench, Verify, ScaleBench and the streaming probes all go through them.
  */
class MeasureSpec extends AnyFunSuite {

  private val reader = new ObjectMapper

  test("json: strings round-trip through escaping (quotes, controls, non-ASCII)") {
    val strings = Seq(
      "say \"hi\"", "C:\\dir\\file", "line1\nline2", "cr\rlf", "a\tb",
      (0 until 0x20).map(_.toChar).mkString, "\u0000\u001f\u007f",
      "naïve café — 東京 😀", "SELECT '\\s+' AS re -- \"q\"\n\tFROM t")
    val out = Measure.json(ListMap(strings.zipWithIndex.map {
      case (s, i) => s"k$i" -> s }: _*))
    val back = reader.readTree(out)
    strings.zipWithIndex.foreach { case (s, i) =>
      assert(back.get(s"k$i").asText() == s)
    }
    // keys are escaped as well as values
    val keyed = reader.readTree(Measure.json(ListMap(strings.map(s => s -> 1): _*)))
    strings.foreach(s => assert(keyed.get(s).asInt() == 1))
    assert(!out.contains("\n") && !out.contains("\r"), "one line of JSON")
  }

  test("json: seconds print with 3 decimals and -1 prints as a number") {
    assert(Measure.json(ListMap("a" -> Measure.fixed(1.5), "b" -> Measure.fixed(0.0),
      "c" -> Measure.fixed(-1.0), "d" -> Measure.fixed(2.34567),
      "e" -> Measure.fixed(1234567.0))) ==
      """{"a":1.500,"b":0.000,"c":-1.000,"d":2.346,"e":1234567.000}""")
    val node = reader.readTree(Measure.json(ListMap("c" -> Measure.fixed(-1.0))))
    assert(node.get("c").isNumber && node.get("c").asDouble() == -1.0)
    assert(Measure.json(Seq(Measure.fixed(12345.4, 0), Measure.fixed(0.05, 1))) ==
      "[12345,0.1]")
    assert(Measure.json(ListMap("x" -> Measure.fixed(Double.NaN))) == """{"x":null}""")
  }

  test("json: map keys follow insertion order, nested maps and sequences too") {
    val keys = Seq("zeta", "alpha", "mu", "beta", "omega", "gamma", "delta")
    val nested = ListMap("z" -> 1, "a" -> Seq("y", "b"), "m" -> true)
    val out = Measure.json(ListMap(keys.map(k => k -> nested): _*))
    val inner = """{"z":1,"a":["y","b"],"m":true}"""
    assert(out == keys.map(k => s""""$k":$inner""").mkString("{", ",", "}"))
    // the mutable collections Bench accumulates its records in
    val builds = scala.collection.mutable.LinkedHashMap("q9" -> Seq("b"), "q1" -> Seq.empty[String])
    val errs = scala.collection.mutable.Buffer(ListMap("step" -> "s", "error" -> "e"))
    assert(Measure.json(ListMap("builds" -> builds, "errs" -> errs, "n" -> 3L)) ==
      """{"builds":{"q9":["b"],"q1":[]},"errs":[{"step":"s","error":"e"}],"n":3}""")
  }

  test("cpus: SPARK_GRAFT_CPUS when set, otherwise availableProcessors") {
    assert(Measure.cpus(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
    assert(Measure.cpus(Map("SPARK_GRAFT_CPUS" -> "48", "OTHER" -> "1")) == 48)
    assert(Measure.cpus(Map.empty) == Runtime.getRuntime.availableProcessors)
    assert(Measure.cpus(Map("OTHER" -> "7")) == Runtime.getRuntime.availableProcessors)
  }
}
