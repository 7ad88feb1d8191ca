package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {
  private val jackson = new ObjectMapper()
  private def roundTrips(s: String): Unit =
    assert(jackson.readValue(Json.str(s), classOf[String]) == s, Json.str(s))

  test("str escapes quote, backslash and the named control characters") {
    assert(Json.str("a\"b") == "\"a\\\"b\"")
    assert(Json.str("a\\b") == "\"a\\\\b\"")
    assert(Json.str("a\nb\rc\td") == "\"a\\nb\\rc\\td\"")
    Seq("a\"b", "a\\b", "a\nb\rc\td", "\\\"", "").foreach(roundTrips)
  }

  test("str writes every other character below 0x20 as \\u00XX") {
    (0 until 0x20).map(_.toChar).filterNot("\n\r\t".contains(_)).foreach { c =>
      assert(Json.str(c.toString) == f"\"\\u${c.toInt}%04x\"")
      roundTrips(s"x${c}y")
    }
  }

  test("str passes non-ASCII and DEL through unescaped") {
    val s = "é漢字\u007f\ud83d\ude00"
    assert(Json.str(s) == "\"" + s + "\"")
    roundTrips(s)
  }
}
