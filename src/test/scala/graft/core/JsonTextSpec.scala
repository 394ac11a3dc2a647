package graft.core

import org.scalatest.funsuite.AnyFunSuite

class JsonTextSpec extends AnyFunSuite {

  test("quotes and backslashes are escaped") {
    assert(JsonText.quote("""say "hi" \ bye""") == """"say \"hi\" \\ bye"""")
    assert(JsonText.quote("") == "\"\"")
  }

  test("control characters are escaped, short forms where JSON has them") {
    assert(JsonText.quote("a\nb\rc\td") == "\"a\\nb\\rc\\td\"")
    assert(JsonText.quote("\u0000\u0001\u001f") == "\"\\u0000\\u0001\\u001f\"")
    // U+0020 and above pass through, non-ASCII included
    assert(JsonText.quote(" ~é中") == "\" ~é中\"")
  }

  test("every escaped string parses back to itself") {
    val all = (0 until 0x80).map(_.toChar).mkString + "é 😀"
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Seq(all, all.reverse, "\"\\\"", "x\\u0041").foreach { s =>
      assert(mapper.readValue(JsonText.quote(s), classOf[String]) == s)
    }
  }
}
