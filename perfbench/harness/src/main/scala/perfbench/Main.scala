package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Harness entry point: `perfbench.Main <config.json>`.
  *
  * Runs one workload against the engine's public entry points and writes
  * the raw measurements to `<out>/raw.json` (and, when tracing, the spans
  * to `<out>/spans.jsonl`). Statistics, correctness checks and the
  * metric report are computed from these files by `perfbench/run.py`.
  */
object Main {
  final case class Conf(node: JsonNode) {
    def str(k: String): String = node.get(k).asText()
    def int(k: String): Int = node.get(k).asInt()
    def dbl(k: String): Double = node.get(k).asDouble()
    def bool(k: String): Boolean = node.get(k).asBoolean()
    def strs(k: String): Seq[String] =
      node.get(k).elements().asScala.map(_.asText()).toSeq
  }

  def main(args: Array[String]): Unit = {
    val conf = Conf(new ObjectMapper().readTree(Paths.get(args(0)).toFile))
    val out = Paths.get(conf.str("out_dir"))
    Files.createDirectories(out)
    val trace =
      if (conf.bool("trace")) Some(new Trace(conf.str("run_id"))) else None
    val raw = conf.str("kind") match {
      case "batch" => BatchRun.run(conf, out, trace)
      case "stream" => StreamRun.run(conf, out, trace)
    }
    trace.foreach(_.write(out.resolve("spans.jsonl")))
    val all = raw ++ Map("peak_rss_mb" -> peakRssMb(),
      "jvm_start_ms" -> jvmStartMs)
    Files.write(out.resolve("raw.json"),
      Json.render(all).getBytes(StandardCharsets.UTF_8))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  def jvmStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** A session with the engine's standard tuning, scratch space inside the
    * run directory and no UI.
    */
  def session(cpus: Int, scratch: Path, extra: Map[String, String] = Map.empty,
      listeners: Option[Listeners] = None): SparkSession = {
    val b = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]").appName("perfbench"))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      // keep Spark's own status history small, so retained heap is graft's
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    listeners.foreach(_.attach(s))
    s
  }

  /** Heap still in use after a full collection, in MiB: what the engine
    * holds on to between queries (cached blocks, state, registries). The
    * pause between the two collections lets Spark's context cleaner drop
    * the blocks of RDDs the first one found unreachable.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000L)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def nonDaemonThreads(): Int =
    Thread.getAllStackTraces.keySet.asScala.count(t => t.isAlive && !t.isDaemon)

  def errorText(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator
      .take(3).mkString(" | ")
    s"${e.getClass.getName}: ${msg.take(400)}"
  }
}
