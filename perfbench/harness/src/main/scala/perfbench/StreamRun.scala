package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, split}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api.GraftAggregation
import graft.sources.connector.{AtLeastOnceClient, ConnectorRegistry, SeqSource}
import graft.streaming.StatefulWindows
import graft.streaming.StatefulWindows.LatePolicy

/** One generated event: user key, event time (epoch s), value in cents and
  * creation stamp (epoch ms, the generator's scheduled send time).
  */
final case class Ev(user: Long, ts: Long, cents: Long, created: Long)

/** count, sum of cents and latest creation stamp of a window. */
object WindowAgg extends GraftAggregation[Ev, (Long, Long, Long), (Long, Long, Long)] {
  def name: String = "count_sum_max_created"
  def initialAccumulator: (Long, Long, Long) = (0L, 0L, Long.MinValue)
  def update(in: Ev, a: (Long, Long, Long)): (Long, Long, Long) =
    (a._1 + 1, a._2 + in.cents, math.max(a._3, in.created))
  def combine(a: (Long, Long, Long), b: (Long, Long, Long)): (Long, Long, Long) =
    (a._1 + b._1, a._2 + b._2, math.max(a._3, b._3))
  def output(a: (Long, Long, Long)): (Long, Long, Long) = a
}

/** The streaming workload: `graft-connector` → `StatefulWindows.rangeWindows`
  * (1 s tumbling windows per user, late events fired per message) →
  * `foreachBatch` parquet append. Events come from a separate generator
  * process; this side only starts the query, runs the generator and
  * records when each micro-batch's results were committed.
  */
object StreamRun {
  private val WarmUser = -1L
  private val WarmEvents = 200

  def run(conf: Main.Conf, out: Path, trace: Option[Trace]): Map[String, Any] = {
    val cpus = conf.int("cpus")
    val listeners = trace.map(new Listeners(_))
    val commits = new ConcurrentLinkedQueue[Map[String, Any]]()
    val extra = Map("spark.sql.streaming.numRecentProgressUpdates" -> "1000000")

    // -- set-up, repeated: session, started query, warm-up send committed
    val setups = ArrayBuffer.empty[Map[String, Any]]
    var spark: SparkSession = null
    var query: StreamingQuery = null
    var name = ""
    var sinkDir: Path = null
    for (i <- 0 until conf.int("setups")) {
      if (query != null) { query.stop(); spark.stop() }
      commits.clear()
      val t0 = if (i == 0) Main.jvmStartMs.toDouble else Clock.nowMs
      val tb = Clock.nowMs
      spark = Main.session(cpus, out, extra, listeners)
      trace.foreach(t => spark.streams.addListener(new ProgressListener(t)))
      val built = Clock.nowMs
      name = s"perfbench-$i"
      sinkDir = out.resolve(s"stream/sink$i")
      query = start(spark, name, out.resolve(s"stream/ckpt$i"), sinkDir,
        commits, trace)
      warmUp(name)
      val ready = Clock.nowMs
      setups += Map("setup_s" -> (ready - t0) / 1e3,
        "session_build_s" -> (built - tb) / 1e3, "cold" -> (i == 0))
    }

    // -- the measured part: the generator process drives the query
    val port = ConnectorRegistry.port(name).get
    val argv = conf.strs("generator") ++ Seq("--port", port.toString)
    val pb = new ProcessBuilder(argv.asJava)
      .redirectOutput(out.resolve("generator.out").toFile)
      .redirectError(out.resolve("generator.err").toFile)
    val genStart = Clock.nowMs
    val gen = pb.start()
    val finished = gen.waitFor(conf.int("generator_timeout_s"), TimeUnit.SECONDS)
    if (!finished) { gen.destroyForcibly(); gen.waitFor() }
    val genEnd = Clock.nowMs
    // windows still open at the generator's end close on the watermark
    // its last event advanced; wait until the query has gone quiet
    val quiet = awaitQuiet(query, quietMs = 2000L, maxMs = 20000L)
    val progress = query.recentProgress.map(_.json)
    val error = query.exception.map(e => Main.errorText(e))
    val retained = Main.retainedHeapMb()
    query.stop()
    listeners.foreach(_.drain())
    spark.stop()
    Files.write(out.resolve("progress.jsonl"),
      progress.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

    Map("workload" -> conf.str("workload"), "kind" -> "stream", "cpus" -> cpus,
      "setups" -> setups.toSeq, "sink_dir" -> sinkDir.toString,
      "commits" -> commits.asScala.toSeq.sortBy(_("batch").asInstanceOf[Long]),
      "generator_exit" -> (if (finished) gen.exitValue() else -1),
      "generator_start_ms" -> genStart, "generator_end_ms" -> genEnd,
      "quiet" -> quiet, "query_error" -> error, "retained_heap_mb" -> retained)
  }

  private def start(spark: SparkSession, name: String, ckpt: Path, sink: Path,
      commits: ConcurrentLinkedQueue[Map[String, Any]],
      trace: Option[Trace]): StreamingQuery = {
    import spark.implicits._
    val fields = split(col("value").cast("string"), ",")
    val events = spark.readStream.format("graft-connector")
      .option("port", "0").option("name", name).load()
      .select(fields(0).cast("long").as("user"), col("event_time").as("ts"),
        fields(1).cast("long").as("cents"), fields(2).cast("long").as("created"))
      .as[Ev]
    val windows = StatefulWindows.rangeWindows(events, (e: Ev) => e.user,
      (e: Ev) => e.ts, "ts", rangeS = 1L, delayS = 0L,
      LatePolicy.FirePerMessage, WindowAgg)
    val rows = windows.toDF("user", "w", "acc").select($"user", $"w",
      $"acc._1".as("n"), $"acc._2".as("cents"), $"acc._3".as("max_created"))
    def write(batch: DataFrame, batchId: Long): Unit = {
      val t0 = Clock.nowMs
      batch.withColumn("batch", lit(batchId)).write.mode("append")
        .parquet(sink.toString)
      val t1 = Clock.nowMs
      commits.add(Map("batch" -> batchId, "commit_ms" -> t1,
        "write_ms" -> (t1 - t0)))
    }
    rows.writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        trace.fold(write(batch, batchId))(
          _.span("stream.sink", Map("batch" -> batchId))(write(batch, batchId)))
      }
      .start()
  }

  /** A short send through the engine's own at-least-once client; returns
    * once every warm-up event has been committed.
    */
  private def warmUp(name: String): Unit = {
    val nowS = System.currentTimeMillis() / 1000L
    val records = (1 to WarmEvents).map(i =>
      s"$WarmUser,$i,${System.currentTimeMillis()}".getBytes(StandardCharsets.UTF_8))
    val client = new AtLeastOnceClient("localhost",
      () => ConnectorRegistry.port(name).getOrElse(
        throw new java.io.IOException("listener not up")),
      "", "perfbench", "warm-up", 1L, "warm-up", new SeqSource(records),
      eventTimeOf = _ => nowS)
    val t = client.runInBackground()
    t.join(60000L)
    if (t.isAlive) {
      client.stopped.set(true)
      throw new IllegalStateException("warm-up send was not committed within 60 s")
    }
  }

  /** Wait until no new micro-batch has run for `quietMs`. */
  private def awaitQuiet(q: StreamingQuery, quietMs: Long, maxMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + maxMs
    var seen = q.recentProgress.length
    var since = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline && q.isActive) {
      Thread.sleep(100L)
      val n = q.recentProgress.length
      if (n != seen) { seen = n; since = System.currentTimeMillis() }
      else if (System.currentTimeMillis() - since >= quietMs &&
        !q.status.isTriggerActive) return true
    }
    false
  }
}
