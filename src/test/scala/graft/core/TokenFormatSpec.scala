package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

/** Byte-semantics of the reference token format
  * (`user/TokenRecordReader.java`, SURVEY §7.4#1).
  */
class TokenFormatSpec extends AnyFunSuite with GenChecks {

  test("separator runs collapse; empty tokens dropped") {
    assert(TokenFormat.tokenize("a  b   c").toSeq == Seq("a", "b", "c"))
    assert(TokenFormat.tokenize("  a ").toSeq == Seq("a"))
    assert(TokenFormat.tokenize("").toSeq == Seq.empty)
    assert(TokenFormat.tokenize("   ").toSeq == Seq.empty)
  }

  test("tokens longer than 1000 chars split into 1000-char pieces") {
    val tok = "x" * 2500
    assert(TokenFormat.tokenize(tok).toSeq ==
      Seq("x" * 1000, "x" * 1000, "x" * 500))
  }

  test("k|v parse: exact TokenRecordReader.next semantics") {
    // no '|': key is the literal "none" (`TokenRecordReader.java:33`)
    assert(TokenFormat.parse("word") == ("none", "word"))
    // plain k|v
    assert(TokenFormat.parse("k|v") == ("k", "v"))
    // extra fields dropped
    assert(TokenFormat.parse("a|b|c") == ("a", "b"))
    // Java split() drops trailing empties: "k|" is a 1-field split, so
    // the whole token becomes the value with key "none"
    assert(TokenFormat.parse("k|") == ("none", "k|"))
    // leading empty field is kept
    assert(TokenFormat.parse("|v") == ("", "v"))
  }

  test("format round-trips simple pairs") {
    assert(TokenFormat.format("k", "v") == "k|v")
    assert(TokenFormat.parse(TokenFormat.format("key", "42")) == ("key", "42"))
  }

  private val word = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)

  test("property: tokenize(join(words)) == words (for |-free short words)") {
    forAll(Gen.listOf(word)) { ws =>
      assert(TokenFormat.tokenize(ws.mkString(" ")).toSeq == ws)
    }
  }

  /** 0–2500 chars of letters and `|`, with no separators, sparse ones
    * or dense ones, so both tokens past 1000 chars and separator runs
    * occur.
    */
  private val rawText: Gen[String] = for {
    n       <- Gen.choose(0, 2500)
    density <- Gen.oneOf(0, 1, 30)
    tokenChar = Gen.frequency(40 -> Gen.alphaChar, 4 -> Gen.const('|'))
    char = if (density == 0) tokenChar
           else Gen.frequency(44 -> tokenChar, density -> Gen.oneOf(' ', '\n', '\r'))
    cs      <- Gen.listOfN(n, char)
  } yield cs.mkString

  test("property: tokenize equals the regex split it replaces") {
    forAll(rawText) { s =>
      val want = s.split("[ \n\r]+").filter(_.nonEmpty).flatMap(_.grouped(1000)).toSeq
      assert(TokenFormat.tokenize(s).toSeq == want)
    }
  }

  test("property: parse never throws and key defaults to none without '|'") {
    forAll(word) { w =>
      assert(TokenFormat.parse(w) == ("none", w))
    }
  }
}
