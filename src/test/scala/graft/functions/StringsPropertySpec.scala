package graft.functions

import java.io.ByteArrayOutputStream
import java.util.zip.GZIPOutputStream

import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck coverage of the pure scalar-function layer ([[Strings]],
  * SURVEY.md §2.7 F1/F2/F13/F14) — the name-mangling pair, the gunzip
  * codec, the deflate-ratio signal and the domain extractor. Pure JVM,
  * no Spark jobs; complements the example-based [[StringsSpec]] the same
  * way EventsPropertySpec complements SyncPingSpec. */
class StringsPropertySpec extends AnyFunSuite {

  private def check(prop: Prop): Unit = {
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  // ── generators ──

  /** A snake_case name whose mechanical camelization is lossless: every
    * LATER segment must start with a lowercase letter AND have length
    * ≥ 2. Two documented lossy corners are excluded and pinned as
    * witnesses below: a digit-initial tail segment (`foo_2x` → `foo2x`)
    * erases its boundary outright, and a single-char tail segment makes
    * the NEXT capital follow a capital (`d_m44` → `DM44`), which
    * snakify's `([a-z\d])([A-Z])` rule cannot re-split when no
    * lowercase follows. */
  private val genSeg: Gen[String] = for {
    h <- Gen.alphaLowerChar
    t <- Gen.choose(1, 5).flatMap(n =>
      Gen.stringOfN(n, Gen.frequency(4 -> Gen.alphaLowerChar,
                                     1 -> Gen.numChar)))
  } yield s"$h$t"
  private val genSnake: Gen[String] = for {
    head <- genSeg
    tail <- Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, genSeg))
  } yield (head :: tail).mkString("_")

  private val genUnicode: Gen[String] =
    Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(' ', '\n', '\t', 'é', 'ß', '中', '€'),
      1 -> Gen.choose(0x10000, 0x10FFF).map(Character.toChars(_).mkString)
    )).map(_.map(_.toString).mkString)

  // ── properties ──

  test("property: snakify(camelize(s)) == s on clean snake_case names " +
       "(empty override table — the mechanical path)") {
    check(Prop.forAll(genSnake) { s =>
      // generated names never hit the special-case table: its keys all
      // have a one-char or a 7+-char segment
      Strings.snakify(Strings.camelize(s)) == s
    })
  }

  test("property: snakify is idempotent on ARBITRARY strings (its output " +
       "has no uppercase, so a second pass finds nothing to split)") {
    check(Prop.forAll(genUnicode) { s =>
      Strings.snakify(Strings.snakify(s)) == Strings.snakify(s)
    })
  }

  test("digit-initial and single-char tail segments are the documented " +
       "lossy corners") {
    // not forAlls: pinned witnesses that the genSeg restrictions above
    // are load-bearing, so a future "fix" that breaks them trips a test
    assert(Strings.camelize("foo_2x") === "foo2x")
    assert(Strings.snakify("foo2x") === "foo2x") // boundary unrecoverable
    assert(Strings.camelize("ror_d_m44") === "rorDM44")
    assert(Strings.snakify("rorDM44") === "ror_dm44") // capital run, no [a-z]
  }

  test("property: gunzipBytes inverts GZIP for arbitrary unicode text") {
    check(Prop.forAll(genUnicode) { s =>
      val bos = new ByteArrayOutputStream()
      val gz = new GZIPOutputStream(bos)
      gz.write(s.getBytes("UTF-8")); gz.close()
      Strings.gunzipBytes(bos.toByteArray) == s
    })
  }

  test("property: deflateRatio is positive and finite on nonempty text, " +
       "and a 50x self-repetition never compresses WORSE than the base") {
    check(Prop.forAll(genUnicode.suchThat(_.nonEmpty)) { s =>
      val base = Strings.deflateRatio(s)
      val rep = Strings.deflateRatio(s * 50)
      base > 0.0 && !base.isInfinite && rep <= base * 1.05 + 0.01
    })
  }

  test("property: domainOf keeps exactly the last two host labels for " +
       "well-formed http URLs") {
    val genLabel = for {
      h <- Gen.alphaLowerChar
      t <- Gen.choose(0, 6).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))
    } yield s"$h$t"
    val genHost = Gen.choose(2, 5).flatMap(n => Gen.listOfN(n, genLabel))
    check(Prop.forAll(genHost, Gen.oneOf("", "/", "/a/b?q=1#f")) { (labels, path) =>
      val url = s"http://${labels.mkString(".")}$path"
      Strings.domainOf(url).contains(labels.takeRight(2).mkString("."))
    })
  }
}
