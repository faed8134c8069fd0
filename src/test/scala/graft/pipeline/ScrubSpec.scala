package graft.pipeline

import graft.operators.TextOps
import java.util.regex.Pattern
import org.scalatest.funsuite.AnyFunSuite

/** Differential test of `FilterPipeline.scrub` (guarded passes that start
  * at the first possible match) against the plain four-pass scrub: each
  * regex's `replaceAll` over the whole text, in pipeline order.
  */
class ScrubSpec extends AnyFunSuite {
  private val passes = Seq(
    Pattern.compile(TextOps.emailRe) -> "<EMAIL>",
    Pattern.compile(TextOps.ipRe) -> "<IP>",
    Pattern.compile(TextOps.phoneRe) -> "<PHONE>",
    Pattern.compile(FilterPipeline.toxicityRe) -> "<TOX>")

  private def reference(text: String): String =
    passes.foldLeft(text) { case (s, (p, rep)) => p.matcher(s).replaceAll(rep) }

  private def mismatches(texts: Iterable[String]): Seq[String] =
    texts.iterator.filter(t => FilterPipeline.scrub(t) != reference(t)).take(5).toSeq

  test("adversarial strings scrub exactly like the four replaceAll passes") {
    val cases = Seq(
      "", " ", "@", "@@", "@a.bc", "x@", "a@b.co c@d.org e@f.gh",
      "@start then x@y.com", "mail me@", "x@@y.com", "a.b@c.de@f.gh", "a@b@c.de",
      "(x)foo.bar@baz.com,", "-a_b%c+d@e.fr.", "!!a@b.cc!!", "é@x.com", "ünï.ab@x.com",
      "x.@y.com", "..@..", "name @host.com", "name@ host.com", "a+b@c.io+d@e.io",
      "+", "+ +", "++1 555 123 4567", "+abc", "call +44 20 7946 0958 now",
      "1.2.3.4", "10.0.0.1 555-123-4567", "1.2.3.4555 123 4567", "+1.2.3.4",
      "999.999.999.999.999", "1.2.3", "12345678", "(555) 123-4567", "555-1234",
      "ip 192.168.0.1, phone +1 (800) 555-0199, mail a.b@c.com",
      "stupidity", "scummy", "idiots", "you idiot", "moron!", "xscum scum",
      "STUPID stupid", "idiotstupid moron", "scum\nscum", "a stupid@b.com idiot",
      "scum 1.2.3.4 +1 555 123 4567 x@y.zz")
    assert(mismatches(cases).isEmpty, mismatches(cases).map(t => s"'$t'").mkString(", "))
  }

  test("generated pages and random trigger-dense strings scrub exactly") {
    val pages = PagesGen.generate(3000)._1.map(_.text)
    assert(mismatches(pages).isEmpty)
    val pieces = Array("a", "Z", "7", "0", ".", "@", "+", "-", "_", "%", " ", "\n", "(", ")",
      "é", "idiot", "stupid", "moron", "scum", "192.168.1.1", "555 123 4567", "x@y.com", ",")
    val rng = new scala.util.Random(0x5c7b)
    val random = Seq.fill(20000)(Seq.fill(rng.nextInt(24))(pieces(rng.nextInt(pieces.length))).mkString)
    val bad = mismatches(random)
    assert(bad.isEmpty, bad.map(t => s"'$t'").mkString(", "))
  }
}
