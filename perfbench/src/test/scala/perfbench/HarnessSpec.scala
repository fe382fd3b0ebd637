package perfbench

import graft.api.{ApiRequest, QueryApi}
import graft.core.GraftSession
import java.nio.charset.StandardCharsets
import java.util.Base64
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  private def logBytes(in: Gen.Inputs): Array[Byte] =
    (in.setupBatches.map(Wire.signalsBody) ++ in.writeBatches(5, 50).map(Wire.signalsBody))
      .mkString("\n").getBytes(StandardCharsets.UTF_8)

  private def scriptBytes(in: Gen.Inputs): Array[Byte] =
    in.serveScript(2000).map(r => s"${r.certify} ${Wire.queryBody(r.req)}")
      .mkString("\n").getBytes(StandardCharsets.UTF_8)

  test("the same seed gives a byte-identical signal log and request script") {
    val (a, b) = (new Gen.Inputs(7), new Gen.Inputs(7))
    assert(java.util.Arrays.equals(logBytes(a), logBytes(b)))
    assert(java.util.Arrays.equals(scriptBytes(a), scriptBytes(b)))
  }

  test("another seed gives another signal log and request script") {
    val (a, b) = (new Gen.Inputs(7), new Gen.Inputs(8))
    assert(!java.util.Arrays.equals(logBytes(a), logBytes(b)))
    assert(!java.util.Arrays.equals(scriptBytes(a), scriptBytes(b)))
  }

  test("the log has hubs and the script the serving mix") {
    val in = new Gen.Inputs(1)
    val counts = in.setupBatches.flatten.groupBy(_.entityId).values.map(_.size).toSeq.sorted
    assert(counts.last > 100 * counts(counts.size / 2), "power-law popularity makes hubs")
    val script = in.serveScript(10000)
    val certShare = script.count(_.certify) / 10000.0
    assert(certShare > 0.08 && certShare < 0.12)
    assert(script.map(r => Gen.typeOf(r.req)).toSet == Gen.QueryTypes.toSet)
    assert(script.filter(_.certify).forall(r => Gen.typeOf(r.req) != "properties"))
  }

  test("nearest-rank percentiles are measured values") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.pct(xs, 50) == 50.0)
    assert(Stats.pct(xs, 99) == 99.0)
    assert(Stats.pct(xs, 100) == 100.0)
    assert(Stats.pct(Seq(3.0, 1.0, 2.0), 50) == 2.0)
    assert(Stats.pct(Seq(1.0, 2.0), 50) == 1.0)
    assert(Stats.pct(Seq(5.0), 99) == 5.0)
    assert(Stats.mean(Seq(1.0, 2.0, 6.0)) == 3.0)
    assertThrows[IllegalArgumentException](Stats.pct(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.pct(xs, 0))
  }

  test("self time subtracts the children's covered interval once") {
    val spans = Seq(
      Span(1, 0, 1, "request", 0, 100),
      Span(2, 1, 1, "api.http", 10, 50),
      Span(3, 1, 1, "api.query", 40, 70), // overlaps its sibling
      Span(4, 3, 1, "inner", 45, 46))
    val self = Trace.selfNs(spans)
    assert(self(1) == 100 - 60)
    assert(self(2) == 40)
    assert(self(3) == 29)
    assert(Trace.selfMsByName(spans)("request") == 40 / 1e6)
  }

  // the body the server renders for an answer
  private def render(r: graft.api.ApiResponse): String = {
    val edges = r.edges.map(e => s"""{"from":${e.from},"to":${e.to},"weight":${e.weight}}""").mkString("[", ",", "]")
    val props = r.properties.map { case (a, v) => s"""["$a","$v"]""" }.mkString("[", ",", "]")
    s"""{"success":${r.success},"found":${r.found},"path":${r.path.mkString("[", ",", "]")},""" +
      s""""edges":$edges,"properties":$props,"grounding":"${r.grounding}"""" +
      r.diagnostic.map(d => s""","diagnostic":"$d"""").getOrElse("") + "}"
  }

  private val session = {
    val s = new GraftSession()
    new Gen.Inputs(3).setupBatches.take(2).foreach(b => s.ingestSequence(b))
    s
  }

  test("the checker accepts the engine's answer and rejects a tampered one") {
    val req = ApiRequest.Traverse(0, 1)
    val want = QueryApi.execute(session, req)
    assert(want.found && want.path.size > 1)
    val body = render(want)
    assert(Wire.queryMatches(body, want))
    val tampered = body.replaceFirst("\"path\":\\[0,(\\d+)", "\"path\":[0,99999999")
    assert(tampered != body)
    assert(!Wire.queryMatches(tampered, want))
    assert(!Wire.queryMatches(body.replace("\"inference\"", "\"fact\""), want))
    assert(!Wire.queryMatches("not json", want))
  }

  test("the checker accepts the engine's certificate and rejects a tampered one") {
    val req = ApiRequest.Traverse(0, 1)
    val (resp, cert) = QueryApi.certify(session, req).toOption.get
    val bytes = cert.toCanonicalBytes
    def body(b: Array[Byte]) =
      s"""{"response":${render(resp)},"certificate":"${Base64.getEncoder.encodeToString(b)}",""" +
        s""""proof_of_absence":${cert.isProofOfAbsence}}"""
    assert(Wire.certifyMatches(body(bytes), (resp, cert)))
    val flipped = bytes.clone()
    flipped(10) = (flipped(10) ^ 1).toByte // inside the state hash
    assert(!Wire.certifyMatches(body(flipped), (resp, cert)))
    assert(!Wire.certifyMatches(body(bytes.dropRight(8)), (resp, cert)))
    assert(Wire.wellFormed(body(bytes), Req(certify = true, req)))
    assert(!Wire.wellFormed(body(bytes), Req(certify = true, ApiRequest.Traverse(1, 1))))
  }
}
