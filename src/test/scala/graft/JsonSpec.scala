package graft

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The one JSON codec ([[Json]]): escaping, the non-finite rule, key
  * order and fixed-decimal rendering. No Spark session. */
class JsonSpec extends AnyFunSuite {

  test("strings with quotes, backslashes, control and multi-byte chars round-trip on one line") {
    val texts = Seq("say \"hi\"", "C:\\tmp\\x", "two\nlines", "tab\there",
      "bell\u0001", "naïve 東京", "\r\n\"\\\u0001\t")
    texts.foreach { s =>
      val line = Json.write(ListMap(s -> s))
      assert(!line.exists(_ < ' '), s"raw control char in $line")
      val back = Json.read(line)
      assert(back.fieldNames().asScala.toSeq == Seq(s))
      assert(back.get(s).asText() == s)
    }
    assert(Json.write("a\"b\\c\nd\u0001") == "\"a\\\"b\\\\c\\nd\\u0001\"")
  }

  test("NaN and ±Infinity write null; finite doubles keep their digits") {
    val doubles = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 0.25, -3.0)
    assert(Json.write(doubles) == "[null,null,null,0.25,-3.0]")
    assert(Json.write(ListMap("floor" -> Double.NaN, "eps" -> 1e-9)) ==
      "{\"floor\":null,\"eps\":1.0E-9}")
    assert(Json.write(JsonSpec.Point(Double.NaN, 2.5)) == "{\"x\":null,\"y\":2.5}")
    assert(Json.write(Json.fixed(Double.NaN, 3)) == "null")
    assert(Json.write(Seq(Json.fixed(Double.NegativeInfinity, 6))) == "[null]")
  }

  test("object keys keep insertion order") {
    val keys = Seq("metric", "value", "value_raw", "unit", "queries", "errors", "env", "sf", "a", "b")
    val obj = ListMap.from(keys.zipWithIndex)
    val line = Json.write(obj)
    assert(line == keys.zipWithIndex.map { case (k, i) => s"\"$k\":$i" }.mkString("{", ",", "}"))
    assert(Json.read(line).fieldNames().asScala.toSeq == keys)
    val errors = scala.collection.mutable.LinkedHashMap("q9" -> "bad \"col\"", "q1" -> "x")
    assert(Json.write(errors) == "{\"q9\":\"bad \\\"col\\\"\",\"q1\":\"x\"}")
  }

  test("fixed renders exactly scale decimals, rounding the Double.toString digits half-up") {
    def f3(d: Double) = Json.write(Json.fixed(d, 3))
    assert(f3(0.0005) == "0.001")
    assert(f3(1.0005) == "1.001")
    assert(f3(12.0) == "12.000")
    assert(f3(0.0) == "0.000")
    assert(f3(1e-5) == "0.000")
    assert(f3(123456.78949) == "123456.789")
    assert(f3(-2.5) == "-2.500")
    assert(Json.write(Json.fixed(0.1234565, 6)) == "0.123457")
    assert(Json.write(ListMap("sec" -> Json.fixed(3.14159, 3))) == "{\"sec\":3.142}")
  }
}

object JsonSpec {
  final case class Point(x: Double, y: Double)
}
