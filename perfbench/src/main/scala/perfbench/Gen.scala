package perfbench

import graft.api.ApiRequest
import graft.core.Signal
import java.util.SplittableRandom

/** One request of a script: `certify` picks the `/certify` route, else
  * `/query`.
  */
final case class Req(certify: Boolean, req: ApiRequest)

/** The inputs of every workload, made only from the seed.
  *
  * The signal log has power-law entity popularity, so hub nodes exist and
  * deep traversals reach most of the graph. It is cut into sequences
  * (batches); the engine links adjacent signals within a sequence only.
  * Node ids are dense in first-appearance order, so the request script can
  * name nodes without asking the engine.
  */
object Gen {
  val Entities = 20000
  val SetupSignals = 100000
  val SetupBatch = 10000
  val Attributes: Vector[String] =
    Vector("kind", "status", "region", "owner", "tier", "tag", "team", "env")
  val ValuesPerAttribute = 16
  /** Zipf exponent of entity popularity. */
  val Skew = 1.0
  /** Share of later (write) signals that name an entity never seen before. */
  val NewEntityShare = 0.05
  val QueryTypes: Vector[String] = Vector(
    "lookup", "traverse", "traverse_filtered", "strongest_path", "intersect", "related", "properties")

  def typeOf(r: ApiRequest): String = r match {
    case _: ApiRequest.Lookup => "lookup"
    case _: ApiRequest.Traverse => "traverse"
    case _: ApiRequest.TraverseFiltered => "traverse_filtered"
    case _: ApiRequest.StrongestPath => "strongest_path"
    case _: ApiRequest.Intersect => "intersect"
    case _: ApiRequest.Related => "related"
    case _: ApiRequest.Properties => "properties"
  }

  def entityId(rank: Int): Long = 1000000L + rank.toLong * 7919L

  /** Inputs for one seed: the set-up log, later write batches and the
    * request script all come from separate streams of the same seed, so
    * the size of one never shifts another.
    */
  final class Inputs(seed: Long) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(Entities)(i => 1.0 / math.pow(i + 1.0, Skew))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    private def zipf(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, Entities - 1)
    }
    // a fixed permutation of ranks, so the hubs are not the smallest ids
    private val rankToEntity: Array[Long] = {
      val r = new SplittableRandom(seed ^ 0x5eedL)
      val a = Array.tabulate(Entities)(entityId)
      for (i <- a.indices.reverse) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }

    private def signal(r: SplittableRandom, entity: Long): Signal = {
      val a = Attributes(r.nextInt(Attributes.length))
      Signal(entity, a, s"$a-${r.nextInt(ValuesPerAttribute)}")
    }

    /** The set-up log: `SetupSignals` signals in sequences of `SetupBatch`. */
    val setupBatches: Vector[Vector[Signal]] = {
      val r = new SplittableRandom(seed)
      Vector.fill(SetupSignals / SetupBatch)(
        Vector.fill(SetupBatch)(signal(r, rankToEntity(zipf(r)))))
    }

    /** Node ids of the set-up graph: entity -> id in first-appearance order. */
    val nodeOf: Map[Long, Long] = {
      val b = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
      setupBatches.iterator.flatten.foreach(s => b.getOrElseUpdate(s.entityId, b.size.toLong))
      b.toMap
    }
    val nodeCount: Int = nodeOf.size
    private val nodeByRank: Array[Long] =
      rankToEntity.map(e => nodeOf.getOrElse(e, -1L))

    /** `n` write batches of `size` signals each, in the order they are sent. */
    def writeBatches(n: Int, size: Int): Vector[Vector[Signal]] = {
      val r = new SplittableRandom(seed * 31 + 17)
      var fresh = 0
      Vector.fill(n)(Vector.fill(size) {
        if (r.nextDouble() < NewEntityShare) {
          fresh += 1
          signal(r, entityId(Entities + fresh))
        } else signal(r, rankToEntity(zipf(r)))
      })
    }

    // a node picked by popularity half the time, uniformly otherwise
    private def node(r: SplittableRandom): Long =
      if (r.nextBoolean()) {
        val n = nodeByRank(zipf(r)); if (n >= 0) n else r.nextInt(nodeCount).toLong
      } else r.nextInt(nodeCount).toLong

    private def depth(r: SplittableRandom): Int = 1 + r.nextInt(3)

    def request(r: SplittableRandom, kind: String): ApiRequest = kind match {
      case "lookup" =>
        // one lookup in ten names an entity that is not in the graph
        if (r.nextInt(10) == 0) ApiRequest.Lookup(entityId(Entities * 2 + r.nextInt(Entities)))
        else ApiRequest.Lookup(rankToEntity(zipf(r)))
      case "traverse" => ApiRequest.Traverse(node(r), depth(r))
      case "traverse_filtered" =>
        ApiRequest.TraverseFiltered(node(r), depth(r), minWeight(r), Some(topK(r)))
      case "strongest_path" => ApiRequest.StrongestPath(node(r), node(r))
      case "intersect" => ApiRequest.Intersect(Vector.fill(2 + r.nextInt(3))(node(r)))
      case "related" => ApiRequest.Related(node(r), 1 + r.nextInt(2))
      case "properties" => ApiRequest.Properties(node(r))
    }
    private def minWeight(r: SplittableRandom): Long = 1L + r.nextInt(3)
    private def topK(r: SplittableRandom): Int = 5 + r.nextInt(46)

    private val certifiable = QueryTypes.filterNot(_ == "properties")
    private def pick(r: SplittableRandom, types: Vector[String]): ApiRequest =
      request(r, types(r.nextInt(types.length)))

    /** The serving script: about 90% `/query`, an equal share of each of
      * the seven types, and 10% `/certify`, drawn the same way over the six
      * types `QueryApi.certify` accepts (it refuses `properties`).
      */
    def serveScript(n: Int): Vector[Req] = {
      val r = new SplittableRandom(seed * 31 + 29)
      Vector.fill(n) {
        if (r.nextInt(10) == 0) Req(certify = true, pick(r, certifiable))
        else Req(certify = false, pick(r, QueryTypes))
      }
    }
  }
}
