package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("str: a full control-char gauntlet parses strictly and " +
      "round-trips the exact string") {
    val hostile = "a\"b\\c\nd\re\tf\u0000g\u001fh"
    val esc = Json.str(hostile)
    assert(mapper.readTree(s"""{"v":$esc}""").get("v").asText() == hostile)
  }

  test("obj/arr keep insertion order; doubles print 3 decimals, " +
      "None and non-finite doubles print null") {
    val keys = (1 to 12).map(i => s"k$i")
    assert(Json.obj(keys.map(k => k -> k): _*).json ==
      keys.map(k => s""""$k":"$k"""").mkString("{", ",", "}"))
    assert(Json.obj("a" -> 1.0, "b" -> 2.0006, "c" -> 7L, "d" -> 3,
      "e" -> true, "f" -> None, "g" -> Some("x"), "h" -> Double.NaN,
      "i" -> Seq("y", "z"), "j" -> Json.arr(Seq.empty)).json ==
      """{"a":1.000,"b":2.001,"c":7,"d":3,"e":true,"f":null,"g":"x",""" +
        """"h":null,"i":["y","z"],"j":[]}""")
    assert(Json.objLines(Seq("a" -> 1, "b" -> 2)).json == "{\n\"a\":1,\n\"b\":2\n}")
  }
}
