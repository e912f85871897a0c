package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark process: the session, the recorder,
  * operation accounting and the named metrics a workload reports. */
final class Ctx(
    val spark: SparkSession, val data: String, val work: String,
    val rec: Recorder) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** latency samples (ms) of the workload's unit operation, per kind */
  val opMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** per-round samples of named metrics, reported as medians */
  val samples = mutable.LinkedHashMap.empty[String, (mutable.ArrayBuffer[Double], String)]
  /** per-layer values from the traced round */
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** this round runs its calls as spans (traced processes) */
  var tracing = false
  /** this round's spans and details are the per-layer report */
  var reporting = false

  def sample(name: String, v: Double, unit: String): Unit =
    samples.getOrElseUpdate(name, (mutable.ArrayBuffer.empty[Double], unit))._1 += v

  def fail(what: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += what
  }

  /** One attempted operation: `body` returns whether its output passed
    * its check; an exception or a failed check counts it failed. The
    * latency (ms) is returned and, when `kind` is set, recorded. */
  def op(kind: String, what: => String)(body: => Boolean): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok = try body catch {
      case e: Throwable =>
        Console.err.println(s"[perfbench] $kind $what: $e")
        false
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (!ok) fail(s"$kind $what")
    Console.err.println(f"[perfbench] op $kind%s ${ms}%.1f ms ${if (ok) "ok" else "FAILED"}%s")
    if (kind.nonEmpty) opMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    ms
  }

  /** A check made outside the timed phase, counted against the
    * operation it checks (attempted once, failed if it does not hold). */
  def check(what: String)(body: => Boolean): Unit = {
    val ok = try body catch {
      case e: Throwable =>
        Console.err.println(s"[perfbench] check $what: $e")
        false
    }
    attempted += 1
    if (!ok) fail(s"check $what")
  }

  def path(p: String): String = s"$work/$p"
}

/** A workload: input registration (part of set-up), one timed round,
  * and the output checks run after the timed phase. */
trait Workload {
  /** Register the generated inputs with the session (repeatable). */
  def register(ctx: Ctx): Unit
  /** One timed round; `round` numbers them from 0. */
  def round(ctx: Ctx, round: Int): Unit
  /** Checks outside the timed phase. */
  def check(ctx: Ctx): Unit
  /** Which operation kinds make up the end-to-end op latency. */
  def opKinds: Seq[String]
  /** Traced runs only: Spark-side probes made after the checks, while
    * the session is still up. */
  def probe(ctx: Ctx): Unit = ()
  /** Derive the per-layer metrics of the traced round (session stopped,
    * so every listener event has been delivered). */
  def layers(ctx: Ctx): Unit
  /** Spark counters of the whole reported round. */
  def roundCounters(ctx: Ctx): Counters = ctx.rec.countersFor("t0")
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val launchMs = opts("launch-ms").toDouble
    val workload = opts("workload")
    val data = opts("data")
    val work = opts("work")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt

    val spark = graft.Sessions.tuneLocal(SparkSession.builder())
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis().toDouble

    val wl: Workload = workload match {
      case "registry_api" => new RegistryApi
      case "corpus_dedup" => new CorpusDedup
      case "stream_ingest" => new StreamIngest
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rec = new Recorder(spark, traced)
    val ctx = new Ctx(spark, data, work, rec)
    // input registration is repeated and its median taken, so set-up
    // time is process launch → session ready + one registration
    val regS = (0 until 3).map { _ =>
      val t = System.nanoTime(); wl.register(ctx); (System.nanoTime() - t) / 1e9
    }
    val setupS = (sessionReadyMs - launchMs) / 1e3 + Util.median(regS)

    // timed phase: rounds until `seconds` have passed (at least one).
    // A traced process runs four rounds instead: round 0 traced (its
    // spans and counters are the per-layer report, taken on a fresh JVM
    // like every untraced measurement), then untraced, traced and
    // untraced again. The tracing overhead is round 2 minus the mean of
    // rounds 1 and 3, which cancels the warm-up still going on.
    val roundS = mutable.ArrayBuffer.empty[Double]
    val tStart = System.nanoTime()
    var r = 0
    var reportedOps = Seq.empty[Double]
    def more = if (traced) r < 4 else r == 0 || (System.nanoTime() - tStart) / 1e9 < seconds
    while (more) {
      ctx.tracing = traced && r % 2 == 0
      ctx.reporting = traced && r == 0
      rec.active = ctx.tracing
      rec.keep = ctx.reporting
      rec.run = s"t$r"
      val t = System.nanoTime()
      wl.round(ctx, r)
      roundS += (System.nanoTime() - t) / 1e9
      if (ctx.reporting) reportedOps = wl.opKinds.flatMap(k => ctx.opMs.getOrElse(k, Nil))
      rec.active = false
      rec.keep = false
      r += 1
    }
    wl.check(ctx)
    if (traced) wl.probe(ctx)
    val peakRss = Util.peakRssMb()
    spark.stop() // drains the listener bus: counters are final after this

    val ops = wl.opKinds.flatMap(k => ctx.opMs.getOrElse(k, Nil))
    val untracedRounds = if (traced) Seq(roundS(1), roundS(3)) else roundS
    val (tailMs, tailPct) = Util.tail(ops.toSeq)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "run_s" -> (Util.median(untracedRounds.toSeq), "s"),
      "peak_rss_mb" -> (peakRss, "MB"),
      "op_p50_ms" -> (Util.median(ops.toSeq), "ms"),
      "op_tail_ms" -> (tailMs, "ms"))
    val named = mutable.LinkedHashMap.empty[String, (Double, String)]
    ctx.samples.foreach { case (k, (xs, u)) => named(k) = (Util.median(xs.toSeq), u) }

    val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (traced) {
      wl.layers(ctx)
      perLayer("traced_round_s") = (roundS(0), "s")
      perLayer("trace_overhead_s") = (roundS(2) - (roundS(1) + roundS(3)) / 2, "s")
      perLayer("op_p50_ms") = (Util.median(reportedOps), "ms")
      perLayer("op_tail_ms") = (Util.tail(reportedOps)._1, "ms")
      val total = wl.roundCounters(ctx)
      perLayer("spark_jobs") = (total.jobs.toDouble, "count")
      perLayer("spark_stages") = (total.stages.toDouble, "count")
      perLayer("spark_tasks") = (total.tasks.toDouble, "count")
      perLayer("task_cpu_s") = (total.cpuNs / 1e9, "s")
      perLayer("task_gc_s") = (total.gcMs / 1e3, "s")
      perLayer("shuffle_write_mb") = (total.shuffleWriteBytes / 1e6, "MB")
      perLayer("output_mb") = (total.outputBytes / 1e6, "MB")
      val spansByTop = rec.spans.filter(_.parent.isEmpty)
      perLayer("driver_s") = (spansByTop.map(s => rec.driverS(s.startNs, s.endNs)).sum, "s")
      ctx.layer.foreach { case (k, v) => perLayer(k) = v }
    }

    def block(m: scala.collection.Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val out = Map(
      "workload" -> workload,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "failures" -> ctx.failures.toSeq,
      "rounds" -> roundS.length,
      "round_s" -> roundS.toSeq,
      "op_samples" -> ops.length,
      "op_tail_percentile" -> tailPct,
      "setup_registration_s" -> regS,
      "end_to_end" -> block(e2e),
      "workload_metrics" -> block(named),
      "per_layer" -> block(perLayer),
      "spans" -> rec.spans.map(s => Map(
        "name" -> s.name, "parent" -> s.parent, "run" -> s.key.takeWhile(_ != '/'),
        "start_s" -> (s.startNs - tStart) / 1e9,
        "end_s" -> (s.endNs - tStart) / 1e9)).toSeq)
    val w = new java.io.PrintWriter(opts("out"), "UTF-8")
    try w.println(Util.toJson(out)) finally w.close()
  }
}
