package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The batch workloads: a fixed list of catalog queries, each built through
  * `SparkEntry.queries(name)(spark, dir)` and run to a complete result.
  *
  *  1. set-up, repeated `setups` times: session build, every input table
  *     opened, one job run;
  *  2. one warm pass, in the catalog order, that writes every result to
  *     parquet for the correctness check against the DuckDB oracle; then
  *     the retained heap, which the order of the queries would move;
  *  3. timed passes for `seconds`, at least `min_passes` of them, in the
  *     seeded order, so that each query's median has several samples:
  *     builder call, then a `noop`-format write, which computes every row
  *     and column;
  *  4. traced runs only: `serial_queries` of the queries again on a
  *     `local[1]` session, for the serial ratio.
  */
object BatchRun {
  def run(conf: Main.Conf, out: Path, trace: Option[Trace]): Map[String, Any] = {
    val dir = conf.str("data_dir")
    val queries = conf.strs("queries")
    val catalogOrder = conf.strs("warm_order")
    val cpus = conf.int("cpus")
    val builders = SparkEntry.queries
    val listeners = trace.map(new Listeners(_))

    // -- 1. set-up
    val setups = ArrayBuffer.empty[Map[String, Any]]
    var spark: SparkSession = null
    for (i <- 0 until conf.int("setups")) {
      if (spark != null) spark.stop()
      val t0 = if (i == 0) Main.jvmStartMs.toDouble else Clock.nowMs
      val tb = Clock.nowMs
      spark = Main.session(cpus, out, listeners = listeners)
      val built = Clock.nowMs
      conf.strs("tables").foreach(t => spark.read.parquet(s"$dir/$t.parquet").schema)
      spark.range(0, 1000, 1, cpus).selectExpr("sum(id)").collect()
      val ready = Clock.nowMs
      setups += Map("setup_s" -> (ready - t0) / 1e3,
        "session_build_s" -> (built - tb) / 1e3, "cold" -> (i == 0))
    }

    // -- 2. warm pass, results kept for the correctness check
    val warm = catalogOrder.map { q =>
      val t0 = Clock.nowMs
      val err =
        try {
          builders(q)(spark, dir).write.mode("overwrite")
            .parquet(out.resolve("results").resolve(q).toString)
          None
        } catch { case e: Throwable => Some(Main.errorText(e)) }
      Map("q" -> q, "s" -> (Clock.nowMs - t0) / 1e3, "error" -> err)
    }
    val failedWarm = warm.filter(_("error") != None).map(_("q")).toSet
    val retained = Main.retainedHeapMb()

    // -- 3. timed passes
    val threads0 = Main.nonDaemonThreads()
    val timed = ArrayBuffer.empty[Map[String, Any]]
    val deadline = Clock.nowMs + conf.dbl("seconds") * 1e3
    var pass = 0
    while (pass < conf.int("min_passes") || Clock.nowMs < deadline) {
      queries.foreach { q =>
        timed += timeQuery(spark, dir, q, pass, trace, threads0,
          skip = failedWarm(q))
      }
      pass += 1
    }

    listeners.foreach(_.drain())

    // -- 4. serial pass on one core (traced runs)
    val serial = ArrayBuffer.empty[Map[String, Any]]
    if (trace.isDefined && conf.int("serial_queries") > 0) {
      spark.stop()
      spark = Main.session(1, out)
      queries.take(conf.int("serial_queries")).foreach { q =>
        serial += timeQuery(spark, dir, q, -1, None, Main.nonDaemonThreads(),
          skip = failedWarm(q))
      }
    }
    spark.stop()

    Map("workload" -> conf.str("workload"), "kind" -> "batch",
      "cpus" -> cpus, "queries" -> queries, "passes" -> pass,
      "retained_heap_mb" -> retained,
      "setups" -> setups.toSeq, "warm" -> warm, "timed" -> timed.toSeq,
      "serial" -> serial.toSeq,
      "oracle_sql" -> queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
  }

  /** One timed execution: builder call and `noop` write under spans, with
    * the persistent RDDs and the non-daemon threads beyond `threads0` that
    * are left behind afterwards.
    */
  private def timeQuery(spark: SparkSession, dir: String, q: String, pass: Int,
      trace: Option[Trace], threads0: Int,
      skip: Boolean): Map[String, Any] = {
    if (skip) return Map("q" -> q, "pass" -> pass, "error" -> "failed in warm pass")
    def span[T](name: String)(body: => T): T =
      trace.fold(body)(_.span(name, Map("q" -> q, "pass" -> pass))(body))
    val (cg0, _) = Codegen.snapshot()
    val t0 = Clock.nowMs
    var tBuilt = t0
    val err =
      try {
        span("query") {
          val df = span("operators.build")(SparkEntry.queries(q)(spark, dir))
          tBuilt = Clock.nowMs
          span("exec.action")(df.write.format("noop").mode("overwrite").save())
        }
        None
      } catch { case e: Throwable => Some(Main.errorText(e)) }
    val t1 = Clock.nowMs
    val (cg1, cgMean) = Codegen.snapshot()
    Map("q" -> q, "pass" -> pass, "error" -> err,
      "s" -> (t1 - t0) / 1e3, "build_s" -> (tBuilt - t0) / 1e3,
      "start_ms" -> t0, "end_ms" -> t1,
      "codegen_classes" -> (cg1 - cg0), "codegen_ms" -> (cg1 - cg0) * cgMean,
      "leaked_rdds" -> spark.sparkContext.getPersistentRDDs.size,
      "leaked_threads" -> (Main.nonDaemonThreads() - threads0))
  }
}
