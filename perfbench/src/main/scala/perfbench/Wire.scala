package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.api.{ApiRequest, ApiResponse, JsonCodec}
import graft.core.{Edge, Signal}
import graft.verify.QueryCertificate
import java.util.Base64
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The HTTP wire format, seen from a client: request bodies out, response
  * envelopes in, and the answer checks against the in-process engine.
  */
object Wire {
  private val mapper = new ObjectMapper()

  def queryBody(r: ApiRequest): String = r match {
    case ApiRequest.Lookup(e) => s"""{"type":"lookup","entity_id":$e}"""
    case ApiRequest.Traverse(n, d) => s"""{"type":"traverse","node_id":$n,"depth":$d}"""
    case ApiRequest.TraverseFiltered(n, d, w, k) =>
      s"""{"type":"traverse_filtered","node_id":$n,"depth":$d,"min_weight":$w""" +
        k.map(x => s""","top_k":$x""").getOrElse("") + "}"
    case ApiRequest.StrongestPath(s, e) => s"""{"type":"strongest_path","start":$s,"end":$e}"""
    case ApiRequest.Intersect(ns) => s"""{"type":"intersect","nodes":${ns.mkString("[", ",", "]")}}"""
    case ApiRequest.Related(n, d) => s"""{"type":"related","node_id":$n,"depth":$d}"""
    case ApiRequest.Properties(n) => s"""{"type":"properties","node_id":$n}"""
  }

  def signalsBody(batch: Seq[Signal]): String =
    batch.map(s =>
      s"""{"entity_id":${s.entityId},"attribute":${JsonCodec.jstr(s.attribute)},"value":${JsonCodec.jstr(s.value)}}""")
      .mkString("""{"signals":[""", ",", "]}")

  def tree(body: String): Option[JsonNode] = Try(mapper.readTree(body)).toOption.filter(_ != null)

  private def longs(n: JsonNode): Vector[Long] = n.elements().asScala.map(_.asLong()).toVector

  private def optText(n: JsonNode, k: String): Option[String] =
    Option(n.get(k)).filterNot(_.isNull).map(_.asText())

  /** A `/query` response envelope, or None when it is malformed. */
  def response(n: JsonNode): Option[ApiResponse] = Try {
    ApiResponse(
      success = n.get("success").asBoolean(),
      found = n.get("found").asBoolean(),
      path = longs(n.get("path")),
      edges = n.get("edges").elements().asScala.map(e =>
        Edge(e.get("from").asLong(), e.get("to").asLong(), e.get("weight").asLong())).toVector,
      properties = n.get("properties").elements().asScala.map(p =>
        (p.get(0).asText(), p.get(1).asText())).toVector,
      grounding = n.get("grounding").asText(),
      error = optText(n, "error"),
      diagnostic = optText(n, "diagnostic"))
  }.toOption

  /** A `/certify` body: the response envelope and the certificate bytes. */
  def certified(body: String): Option[(ApiResponse, Array[Byte], Boolean)] =
    tree(body).flatMap { n =>
      for {
        resp <- Option(n.get("response")).flatMap(response)
        b64 <- optText(n, "certificate")
        bytes <- Try(Base64.getDecoder.decode(b64)).toOption
        poa <- Option(n.get("proof_of_absence")).map(_.asBoolean())
      } yield (resp, bytes, poa)
    }

  /** The `/query` body answers exactly what the in-process engine answers. */
  def queryMatches(body: String, expected: ApiResponse): Boolean =
    tree(body).flatMap(response).contains(expected)

  /** The `/certify` body carries the in-process answer and a certificate
    * byte-identical to the in-process one.
    */
  def certifyMatches(body: String, expected: (ApiResponse, QueryCertificate)): Boolean =
    certified(body).exists { case (resp, bytes, poa) =>
      resp == expected._1 && java.util.Arrays.equals(bytes, expected._2.toCanonicalBytes) &&
        poa == expected._2.isProofOfAbsence
    }

  /** Well-formed, where the answer cannot be known in advance (reads beside
    * writes): the envelope parses and a certificate decodes and names the
    * query that was asked.
    */
  def wellFormed(body: String, req: Req): Boolean =
    if (req.certify) certified(body).exists { case (_, bytes, _) =>
      QueryCertificate.fromCanonicalBytes(bytes)
        .exists(_.queryDescriptor == graft.api.QueryApi.descriptor(req.req))
    }
    else tree(body).flatMap(response).isDefined
}
