package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.JsonUtil

/** The single-pass `JsonUtil.quote` must stay byte-identical to the
  * per-character `flatMap` form it replaced: Verify's oracle dump and the
  * NLP request body both go through it.
  */
class JsonUtilSpec extends AnyFunSuite {

  /** The replaced implementation, kept as the reference. */
  private def referenceQuote(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private val chars: Gen[Char] = Gen.frequency(
    3 -> Gen.oneOf('"', '\\', '\n', '\r', '\t'),
    2 -> Gen.choose('\u0000', '\u001f'),
    4 -> Gen.choose(' ', '~'),
    2 -> Gen.choose('\u0080', '\uffff'))

  private val strings: Gen[String] =
    Gen.frequency(1 -> Gen.const(""), 9 -> Gen.listOf(chars).map(_.mkString))

  test("quote equals the reference flatMap form on generated strings") {
    val prop = Prop.forAll(strings)(s => JsonUtil.quote(s) == referenceQuote(s))
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(2000).withInitialSeed(Seed(42L)), prop)
    assert(res.passed, res.status)
  }

  test("quoteInto appends to an existing buffer") {
    val s = "a\"b\\c\nd\re\tf\u0001g\u001fh café 日本"
    val sb = new StringBuilder("[")
    JsonUtil.quoteInto(sb, s)
    JsonUtil.quoteInto(sb, "")
    assert(sb.append(']').result() == "[" + referenceQuote(s) + "\"\"]")
    assert(JsonUtil.quote(s) == referenceQuote(s))
  }
}
