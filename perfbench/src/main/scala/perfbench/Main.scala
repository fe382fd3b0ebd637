package perfbench

import graft.api.JsonCodec.jstr
import java.nio.file.{Files, Path}

/** Runs one workload and prints, as its last line, one JSON object:
  * `{"correct":..,"attempted":..,"failed":..,"values":{name: number},"info":{..}}`.
  * `run.py` turns it into the benchmark's result line.
  *
  * Usage: `Main --workload W --seed N --seconds S --trace 0|1 --work DIR`
  */
object Main {
  val Workloads = Seq("serve_read", "serve_write")

  def main(args: Array[String]): Unit = {
    val flags = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = flags.getOrElse(k, sys.error(s"missing --$k"))
    val spec = RunSpec(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Path.of(need("work")).toAbsolutePath)
    require(Workloads.contains(spec.workload), s"unknown workload ${spec.workload}; one of ${Workloads.mkString(", ")}")
    require(spec.seconds > 0, "--seconds must be positive")
    Files.createDirectories(spec.work)

    val out = new Outcome
    out.info("seed") = spec.seed.toString
    out.info("cpus") = spec.cpus.toString
    spec.workload match {
      case "serve_read" => Serve.run(spec, out, writer = false)
      case "serve_write" => Serve.run(spec, out, writer = true)
    }
    if (spec.trace) {
      spec.tracer.write(spec.tracePath)
      Files.writeString(spec.work.resolve("self_ms.json"),
        Trace.selfMsByName(spec.tracer.all).toSeq.sorted
          .map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}\n"))
    }
    out.problems.foreach(p => System.err.println(s"[perfbench] FAILED: $p"))
    val values = out.values.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val info = out.info.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""values":$values,"info":$info}""")
    System.out.flush()
    // no lingering non-daemon thread may keep a finished run alive
    sys.exit(if (out.failed == 0) 0 else 1)
  }
}
