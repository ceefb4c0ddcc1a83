package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** `Verify.jsonStr` is the one JSON string escaper of every artifact
  * writer: a recorded exception text with a newline or a control char
  * must still leave the artifact parseable.
  */
class VerifySpec extends org.scalatest.funsuite.AnyFunSuite {

  test("jsonStr escapes quote, backslash and control chars") {
    val s = "a\"b\\c\nd\te\u0001f"
    assert(Verify.jsonStr(s) == "\"a\\\"b\\\\c\\nd\\te\\u0001f\"")
    assert(new ObjectMapper().readValue(Verify.jsonStr(s),
      classOf[String]) == s)
  }
}
