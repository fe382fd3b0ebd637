package perfbench

import graft.api.{ApiRequest, ApiResponse, QueryApi, StatusApi}
import graft.core.{Artifact, GraftSession, Grounding, Signal}
import graft.verify.{Canonical, QueryCertificate}
import java.io.{BufferedReader, InputStreamReader}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** The shipped server, `graft.cli.GraftCli server`, as a child JVM started
  * with this JVM's own flags and classpath. It serves an empty in-memory
  * graph until signals are posted.
  */
final class ServerProc(work: Path, tag: String) extends AutoCloseable {
  private val java = ProcessHandle.current().info().command().orElse("java")
  private val log = work.resolve(s"server-$tag.log")
  val proc: Process = new ProcessBuilder(
    (Seq(java) ++ ManagementFactory.getRuntimeMXBean.getInputArguments.asScala ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.cli.GraftCli", "server",
        "--port=0", s"--database=${work.resolve(s"db-$tag")}")).asJava)
    .redirectError(log.toFile)
    .start()

  val port: Int = try {
    val out = new BufferedReader(new InputStreamReader(proc.getInputStream, StandardCharsets.UTF_8))
    val ready = Iterator.continually(out.readLine()).takeWhile(_ != null)
      .find(_.contains("\"serving\":true"))
      .getOrElse(sys.error(s"server exited before serving; see $log"))
    "\"port\":(\\d+)".r.findFirstMatchIn(ready).get.group(1).toInt
  } catch { case e: Throwable => close(); throw e }

  def peakRssMb: Double = Proc.peakRssMb(proc.pid())

  def close(): Unit = {
    proc.destroy()
    if (!proc.waitFor(20, TimeUnit.SECONDS)) { proc.destroyForcibly(); proc.waitFor() }
  }
}

/** One answered request, as the client saw it. */
final case class Sample(idx: Int, req: Req, status: Int, startNs: Long, endNs: Long, body: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** `serve_read` and `serve_write`: closed-loop clients against the CLI
  * server over real sockets. `serve_write` adds one open-loop writer that
  * posts fixed-size batches on a schedule.
  */
object Serve {
  val Warmup: FiniteDuration = 2.seconds
  val SetupRounds = 3
  val ScriptLength = 50000
  val WriteBatch = 50
  val WritePeriod: FiniteDuration = 125.millis

  def run(spec: RunSpec, out: Outcome, writer: Boolean): Unit = {
    // The server processes start together, first: a JVM and Spark start-up
    // is a fixed cost of the process, not of the graph, and starting them
    // one by one would spend most of the run on it. Set-up then loads the
    // log into each fresh server in turn and keeps the last.
    val starting = Executors.newFixedThreadPool(SetupRounds)
    val started = (1 to SetupRounds).map(round => starting.submit(() => new ServerProc(spec.work, s"r$round")))
    starting.shutdown()
    try {
      val in = new Gen.Inputs(spec.seed)
      val bodies = in.setupBatches.map(Wire.signalsBody)
      val script = in.serveScript(ScriptLength)
      val tracer = spec.tracer
      val servers = started.map(_.get())
      out.note("servers started")

      // the in-process reference: the same batches through the same engine
      val mirror = new GraftSession()
      val ingestNs = timed(in.setupBatches.foreach(b => mirror.ingestSequence(b).fold(e => sys.error(e.message), _ => ())))
      out.put("core.ingest.us_per_signal", ingestNs / 1e3 / Gen.SetupSignals)
      out.info("graph_nodes") = mirror.graph.nodeCount.toString
      out.info("graph_edges") = mirror.graph.edgeCount.toString
      out.info("graph_properties") = mirror.graph.allNodes.iterator
        .map(n => mirror.graph.getProperties(n.id).fold(_ => 0, _.size)).sum.toString

      val setupS = mutable.ArrayBuffer.empty[Double]
      val loadMs = mutable.ArrayBuffer.empty[Double]
      val loadRate = mutable.ArrayBuffer.empty[Double]
      for ((srv, round) <- servers.zipWithIndex) {
        val conn = new HttpConn(srv.port)
        val t0 = System.nanoTime()
        bodies.foreach { b =>
          val s = System.nanoTime()
          val (code, _) = conn.call("POST", "/signals", b)
          loadMs += Stats.ms(System.nanoTime() - s)
          out.attempted += 1
          if (code != 200) out.fail(1, s"set-up /signals returned $code")
        }
        val loadNs = System.nanoTime() - t0
        val (code, status) = conn.call("GET", "/status")
        val nodes = Wire.tree(status).flatMap(n => Option(n.get("nodes"))).map(_.asLong()).getOrElse(-1L)
        out.attempted += 1
        if (code != 200 || nodes != mirror.graph.nodeCount)
          out.fail(1, s"set-up /status: $code, $nodes nodes, expected ${mirror.graph.nodeCount}")
        setupS += (System.nanoTime() - t0) / 1e9
        loadRate += Gen.SetupSignals / (loadNs / 1e9)
        conn.close()
        out.info(s"rss_after_load_mb_r${round + 1}") = f"${srv.peakRssMb}%.1f"
        if (round < SetupRounds - 1) srv.close()
        out.note(f"set-up round ${round + 1}: ${setupS.last}%.2fs")
      }
      out.put("setup_s", Stats.median(setupS))
      val server = servers.last

      val next = new AtomicInteger(0)
      val clients = math.max(1, math.min(4, spec.cpus) - (if (writer) 1 else 0))
      val warm = load(server.port, script, next, clients, Warmup, None)
      val writes = if (writer) Some(new Writer(in, server.port, tracer)) else None
      val phases: Seq[(Boolean, FiniteDuration)] =
        if (spec.trace) Seq(false -> (spec.seconds.seconds / 2), true -> (spec.seconds.seconds / 2))
        else Seq(false -> spec.seconds.seconds)
      val results = phases.map { case (traced, d) =>
        val mirrorFor = if (traced) Some(mirror) else None
        val t0 = System.nanoTime()
        writes.foreach(_.start())
        val samples = load(server.port, script, next, clients, d, mirrorFor.map(m => (m, tracer)))
        writes.foreach(_.stop())
        (traced, samples, (System.nanoTime() - t0) / 1e9)
      }

      out.note("load done")
      // the server's final state, before it is stopped
      val hashBody = new HttpConn(server.port)
      val (hashCode, hash) = try hashBody.call("GET", "/hash") finally hashBody.close()
      out.put("peak_rss_mb", server.peakRssMb)
      server.close()
      out.note("server stopped")

      val all = warm ++ results.flatMap(_._2)
      val measured = results.head._2
      out.attempted += all.size
      out.put("api.http.non2xx", all.count(s => s.status / 100 != 2).toDouble)
      out.fail(all.count(s => s.status / 100 != 2), "non-2xx response")

      val queries = measured.filter(s => !s.req.certify && s.status == 200).map(_.ms)
      val certs = measured.filter(s => s.req.certify && s.status == 200).map(_.ms)
      out.put("query_p50_ms", Stats.median(queries))
      out.put("query_p90_ms", Stats.pct(queries, 90))
      out.put("query_p99_ms", Stats.pct(queries, 99))
      out.put("certify_p50_ms", Stats.median(certs))
      out.put("certify_p95_ms", Stats.pct(certs, 95))
      out.put("requests_per_s", measured.size / results.head._3)
      out.info("query_samples") = queries.size.toString
      out.info("certify_samples") = certs.size.toString

      writes match {
        case None =>
          out.put("ingest_p50_ms", Stats.median(loadMs))
          out.put("ingest_p95_ms", Stats.pct(loadMs, 95))
          out.put("signals_per_s", Stats.median(loadRate))
          out.info("ingest_samples") = loadMs.size.toString
          check(all, mirror, expected(all, mirror), out)
        case Some(w) =>
          val timedWrites = w.done.filter(_.phase == 0)
          val lat = timedWrites.map(_.latencyMs)
          out.put("ingest_p50_ms", Stats.median(lat))
          out.put("ingest_p95_ms", Stats.pct(lat, 95))
          out.put("signals_per_s", timedWrites.size * WriteBatch / results.head._3)
          out.put("bench.writer_lag_ms_p99", Stats.pct(w.done.map(_.lagMs), 99))
          out.info("ingest_samples") = lat.size.toString
          out.attempted += w.done.size + 1
          out.fail(w.done.count(_.status != 200), "writer batch not accepted")
          out.fail(parallel(all.filter(_.status == 200))(s => !Wire.wellFormed(s.body, s.req)).size,
            "malformed response beside writes")
          // replay the accepted batches, in order, on the in-process engine
          w.done.filter(_.status == 200).foreach(d =>
            mirror.ingestSequence(d.batch).fold(e => sys.error(e.message), _ => ()))
          val expected = StatusApi.hash(mirror)
          val got = Wire.tree(hash)
          val ok = hashCode == 200 && got.exists(n =>
            n.get("checksum").asLong() == expected.checksum && n.get("state_hash").asText() == expected.stateHash)
          if (!ok) out.fail(1, s"final /hash $hash differs from the replayed state $expected")
      }

      out.note("checked")
      results.find(_._1).foreach { case (_, samples, _) =>
        layers(samples, results.head._2, out, tracer)
        answerSizes(samples, expected(samples, mirror), out)
      }
    } finally started.foreach(f => scala.util.Try(f.get()).foreach(_.close()))
  }

  private def timed(f: => Unit): Long = { val t = System.nanoTime(); f; System.nanoTime() - t }

  /** Closed-loop clients, each on its own connection, taking the script in
    * order until `d` has passed. With a mirror, each answer is followed by
    * the same call in-process, inside the request's span (the traced run).
    */
  private def load(
      port: Int, script: Vector[Req], next: AtomicInteger, clients: Int, d: FiniteDuration,
      traced: Option[(GraftSession, Tracer)]): Vector[Sample] = {
    val pool = Executors.newFixedThreadPool(clients)
    val deadline = System.nanoTime() + d.toNanos
    try {
      val futures = (0 until clients).map { _ =>
        pool.submit(() => {
          val conn = new HttpConn(port)
          val got = Vector.newBuilder[Sample]
          try while (System.nanoTime() < deadline) {
            val idx = next.getAndIncrement()
            val r = script(idx % script.length)
            val path = if (r.certify) "/certify" else "/query"
            traced match {
              case None => got += send(conn, idx, r, path)
              case Some((mirror, tracer)) =>
                tracer.span("request", idx) { root =>
                  val s = tracer.span("api.http", idx, root)(_ => send(conn, idx, r, path))
                  got += s
                  inProcess(mirror, tracer, idx, root, r)
                }
            }
          } finally conn.close()
          got.result()
        })
      }
      futures.flatMap(_.get()).toVector
    } finally { pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS) }
  }

  private def send(conn: HttpConn, idx: Int, r: Req, path: String): Sample = {
    val t0 = System.nanoTime()
    val (code, body) =
      try conn.call("POST", path, Wire.queryBody(r.req))
      catch { case e: java.io.IOException => (-1, e.toString) } // refused: a failure
    Sample(idx, r, code, t0, System.nanoTime(), body)
  }

  /** The layers under the server, timed in-process for the same request. */
  private def inProcess(mirror: GraftSession, tracer: Tracer, idx: Int, root: Long, r: Req): Unit =
    if (!r.certify) tracer.span(s"api.query.${Gen.typeOf(r.req)}", idx, root)(_ => QueryApi.execute(mirror, r.req))
    else {
      tracer.span("api.certify", idx, root)(_ => QueryApi.certify(mirror, r.req))
      tracer.span("verify", idx, root) { v =>
        val c = tracer.span("verify.canonical", idx, v)(_ => Canonical.fromGraph(mirror.graph))
        val h = tracer.span("verify.merkle", idx, v)(_ => Canonical.merkleStateHash(c))
        val resp = QueryApi.execute(mirror, r.req)
        val (grounding, art) =
          if (!resp.found) (Grounding.Unknown, None)
          else (if (Gen.typeOf(r.req) == "lookup") Grounding.Fact else Grounding.Inference,
            Some(Artifact(resp.path, if (resp.edges.nonEmpty) Some(resp.edges) else None)))
        val cert = tracer.span("verify.certificate", idx, v)(_ =>
          QueryCertificate.build(h, QueryApi.descriptor(r.req), grounding, mirror.graph, art))
        tracer.figure("verify.certificate_bytes", cert.toCanonicalBytes.length.toDouble)
      }
    }

  /** Every answer equals the in-process answer to the same request; every
    * certificate is byte-identical to the in-process one. Checked after the
    * timed region, on all cores.
    */
  private def check(
      samples: Vector[Sample], mirror: GraftSession, answers: Map[ApiRequest, ApiResponse], out: Outcome): Unit = {
    val certs = byRequest(samples.filter(_.req.certify).map(_.req.req))(r =>
      QueryApi.certify(mirror, r).fold(e => sys.error(e.message), identity))
    val wrong = parallel(samples.filter(_.status == 200))(s =>
      if (s.req.certify) !Wire.certifyMatches(s.body, certs(s.req.req))
      else !Wire.queryMatches(s.body, answers(s.req.req)))
    wrong.take(3).foreach(s => out.problems += s"wrong answer to ${s.req}: ${s.body.take(200)}")
    out.fail(wrong.size, "answer differs from the in-process engine")
  }

  /** The elements of `xs` that satisfy `pred`, tested on all cores. The
    * in-process engine is only read here, so sharing it is safe.
    */
  private def parallel[A](xs: Vector[A])(pred: A => Boolean): Vector[A] = {
    val n = Runtime.getRuntime.availableProcessors()
    val pool = Executors.newFixedThreadPool(n)
    try xs.grouped(math.max(1, xs.size / n + 1)).toVector
      .map(chunk => pool.submit(() => chunk.filter(pred)))
      .flatMap(_.get())
    finally pool.shutdown()
  }

  /** `f` of each distinct request, on all cores. */
  private def byRequest[V](reqs: Vector[ApiRequest])(f: ApiRequest => V): Map[ApiRequest, V] = {
    val done = new java.util.concurrent.ConcurrentHashMap[ApiRequest, V]()
    parallel(reqs.distinct) { r => done.put(r, f(r)); false }
    done.asScala.toMap
  }

  /** The in-process answer to each distinct query that was sent. */
  private def expected(samples: Vector[Sample], mirror: GraftSession): Map[ApiRequest, ApiResponse] =
    byRequest(samples.filterNot(_.req.certify).map(_.req.req))(QueryApi.execute(mirror, _))

  /** Mean answer size of the traversal types, from the in-process engine. */
  private def answerSizes(samples: Vector[Sample], answers: Map[ApiRequest, ApiResponse], out: Outcome): Unit =
    Seq("traverse", "traverse_filtered", "strongest_path").foreach { t =>
      val sizes = samples.filter(s => !s.req.certify && Gen.typeOf(s.req.req) == t)
        .map(s => answers(s.req.req).path.size.toDouble)
      if (sizes.nonEmpty) out.put(s"core.$t.result_nodes_mean", Stats.mean(sizes))
    }

  /** Per-layer figures from the traced phase, against the untraced one. */
  private def layers(traced: Vector[Sample], untraced: Vector[Sample], out: Outcome, tracer: Tracer): Unit = {
    val spans = tracer.all
    val byTrace = spans.groupBy(_.trace)
    val transport = traced.flatMap { s =>
      byTrace.getOrElse(s.idx, Nil).find(sp => sp.name.startsWith("api.query") || sp.name == "api.certify")
        .map(inner => s.ms - inner.durationNs / 1e6)
    }
    if (transport.nonEmpty) {
      out.put("api.http.transport_ms_p50", Stats.median(transport))
      out.put("api.http.transport_ms_p99", Stats.pct(transport, 99))
    }
    def ms(name: String) = spans.filter(_.name == name).map(_.durationNs / 1e6)
    Gen.QueryTypes.foreach { t =>
      val xs = ms(s"api.query.$t")
      if (xs.nonEmpty) out.put(s"api.query.$t.us_p50", Stats.median(xs) * 1e3)
    }
    Seq("api.certify" -> "api.certify.ms_p50", "verify.canonical" -> "verify.canonical_ms",
      "verify.merkle" -> "verify.merkle_ms", "verify.certificate" -> "verify.certificate_build_ms")
      .foreach { case (span, metric) => val xs = ms(span); if (xs.nonEmpty) out.put(metric, Stats.median(xs)) }
    val bytes = tracer.figures("verify.certificate_bytes")
    if (bytes.nonEmpty) out.put("verify.certificate_bytes", Stats.median(bytes))
    out.put("bench.trace_overhead_pct",
      (Stats.mean(traced.map(_.ms)) / Stats.mean(untraced.map(_.ms)) - 1) * 100)
  }

  final case class Write(phase: Int, batch: Vector[Signal], status: Int, dueNs: Long, sentNs: Long, endNs: Long) {
    def latencyMs: Double = (endNs - dueNs) / 1e6
    def lagMs: Double = (sentNs - dueNs) / 1e6
  }

  /** The open-loop writer: batch k is due at start + k * period, whether
    * or not batch k-1 has been answered; latency runs from the due time.
    */
  final class Writer(in: Gen.Inputs, port: Int, tracer: Tracer) {
    private val batches = in.writeBatches(1000, WriteBatch)
    private val bodies = batches.map(Wire.signalsBody)
    private val sent = new AtomicInteger(0)
    @volatile private var running = false
    private var thread: Thread = _
    private var phase = -1
    val doneBuf: java.util.concurrent.ConcurrentLinkedQueue[Write] = new java.util.concurrent.ConcurrentLinkedQueue()
    def done: Vector[Write] = doneBuf.asScala.toVector

    def start(): Unit = {
      phase += 1
      running = true
      val p = phase
      thread = new Thread(() => {
        val t0 = System.nanoTime()
        var k = 0L
        while (running) {
          val due = t0 + k * WritePeriod.toNanos
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
          if (running) {
            val i = sent.getAndIncrement()
            val trace = -1L - i
            tracer.span("write", trace) { root =>
              val s = System.nanoTime()
              // each batch on a fresh connection, as from an independent
              // producer; no keep-alive state carries from one batch to the next
              val conn = new HttpConn(port)
              val code = tracer.span("api.http", trace, root)(_ =>
                try conn.call("POST", "/signals", bodies(i))._1
                catch { case _: java.io.IOException => -1 }
                finally conn.close())
              doneBuf.add(Write(p, batches(i), code, due, s, System.nanoTime()))
            }
            k += 1
          }
        }
      })
      thread.start()
    }

    def stop(): Unit = { running = false; thread.join() }
  }
}
