package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** What one run is asked to do. `work` is a private working directory. */
final case class RunSpec(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path) {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors())
  val tracer = new Tracer(trace)
  def tracePath: Path = work.resolve("spans.jsonl")
}

/** What one run measured: metric values by name, operation counts, and
  * facts about the inputs for the record.
  */
final class Outcome {
  val values: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val info: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  /** A human-readable line per failed check (only the first few are kept). */
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def fail(n: Long, what: => String): Unit = if (n > 0) {
    failed += n
    if (problems.size < 20) problems += s"$n x $what"
  }
  def put(name: String, v: Double): Unit = values(name) = v

  private val born = System.nanoTime()
  /** Progress note on stderr, with seconds since the run began. */
  def note(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2fs $what")
}

/** Process facts read from procfs. */
object Proc {
  /** High-water resident set of a process, in MB (VmHWM). */
  def peakRssMb(pid: Long): Double = {
    val lines = Files.readAllLines(Path.of(s"/proc/$pid/status"))
    val kb = lines.toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble)
      .getOrElse(sys.error(s"no VmHWM for pid $pid"))
    kb / 1024.0
  }
}
