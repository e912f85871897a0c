package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup
import graft.streaming.Streams

/** Incremental k-NN graph maintenance (the p18 shape) as a backlog
  * drain: a file-stream source with one file per trigger feeds
  * `Streams.incrementalKnnGraph` with threshold retention; each
  * trigger starts when the previous one commits. After the drain the
  * cluster verdict and the rank ≤ k graph are read back from state. */
final class StreamIngest extends Workload {
  private var answers: JsonNode = _
  private var schema: StructType = _
  private var nFiles = 0
  private var inputBytes = 0L
  val K = 5
  val Threshold = 0.3
  // every second trigger compacts, so a five-file drain has two
  // compacting triggers beside three plain ones
  val CompactEvery = 2
  // planted twins (cos ≈ 0.95) landing in one cluster: 1.0 at every
  // seed measured; the floor leaves room for LSH's per-pair miss odds
  val ClusterTwinRecallFloor = 0.98
  private var lastVerdict: Array[Row] = Array.empty
  private var lastGraph: Array[Row] = Array.empty
  private var tracedTriggers: Seq[Trigger] = Nil
  private var tracedDrain: Option[Span] = None

  def opKinds: Seq[String] = Seq("trigger")

  private def streamDir(ctx: Ctx) = s"${ctx.data}/stream"

  def register(ctx: Ctx): Unit = {
    schema = ctx.spark.read.parquet(streamDir(ctx)).schema
    if (answers == null) {
      answers = Util.readJson(s"${ctx.data}/answers.json")
      val files = new java.io.File(streamDir(ctx)).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      nFiles = files.length
      inputBytes = files.map(_.length()).sum
    }
  }

  def round(ctx: Ctx, r: Int): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val base = ctx.path(s"fold/r$r")
    val wh = new java.io.File(ctx.path("warehouse"))
    val whBefore = Util.dirBytes(wh)
    rec.takeTriggers()

    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir(ctx))
    var graph: DataFrame = null
    val t0 = System.nanoTime()
    val drained = try {
      graph = rec.span("stream.drain") {
        Streams.incrementalKnnGraph(src, base, k = K,
          keepThreshold = Some(Threshold), compactEvery = CompactEvery)
      }
      true
    } catch {
      case e: Throwable =>
        Console.err.println(s"[perfbench] drain: $e")
        false
    }
    val drainS = (System.nanoTime() - t0) / 1e9
    rec.awaitStreamEvents()
    val triggers = rec.takeTriggers()
    // every trigger is one operation; missing triggers count as failed
    triggers.foreach { t =>
      ctx.attempted += 1
      ctx.opMs.getOrElseUpdate("trigger", mutable.ArrayBuffer.empty) +=
        t.durations.getOrElse("triggerExecution", 0L).toDouble
    }
    val missing = nFiles - triggers.length
    if (missing > 0 || !drained) {
      ctx.attempted += math.max(missing, 0)
      (0 until math.max(missing, 1)).foreach(_ => ctx.fail(s"drain round $r"))
    }
    val rows = triggers.map(_.inputRows).sum
    ctx.sample("ingest_rows_per_s", rows / drainS, "rows/s")
    ctx.sample("drain_s", drainS, "s")
    if (ctx.reporting) {
      tracedTriggers = triggers
      tracedDrain = rec.spans.find(_.name == "stream.drain")
    }

    // read side: the cluster verdict and the rank ≤ k graph from state
    val readMs =
      ctx.op("verdict", "") {
        lastVerdict = rec.span("stream.verdict") {
          Streams.graphClusterVerdict(spark, base, Threshold).collect()
        }
        true
      } + ctx.op("graph_read", "") {
        lastGraph = rec.span("stream.graph_read")(graph.collect())
        true
      }
    ctx.sample("state_read_s", readMs / 1e3, "s")
    val stateBytes = Util.dirBytes(new java.io.File(base)) + Util.dirBytes(wh) - whBefore
    ctx.sample("state_bytes_per_input_byte", stateBytes.toDouble / inputBytes, "ratio")
  }

  def check(ctx: Ctx): Unit = {
    val ts = ctx.opMs.getOrElse("trigger", mutable.ArrayBuffer.empty[Double]).toSeq
    if (ts.nonEmpty) {
      ctx.sample("trigger_p50_ms", Util.median(ts), "ms")
      ctx.sample("trigger_tail_ms", Util.tail(ts)._1, "ms")
      ctx.sample("trigger_tail_percentile", Util.tail(ts)._2, "pct")
    }
    // replay contract: the maintained verdict equals the batch cluster
    // dedup over the same vectors
    val all = ctx.spark.read.parquet(streamDir(ctx))
    val batch = Dedup.embeddingClusterDedup(all, col("vec_id"), col("embedding"), Threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = lastVerdict.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    ctx.check("stream verdict = batch embeddingClusterDedup") {
      got.nonEmpty && got == batch
    }
    ctx.check("state graph: <= k neighbours per node, ranked") {
      lastGraph.groupBy(_.getAs[Long]("vec_id")).forall { case (v, rows) =>
        val byRank = rows.sortBy(_.getAs[Long]("rank"))
        byRank.length <= K &&
          byRank.map(_.getAs[Long]("rank")).toSeq == (1L to byRank.length.toLong) &&
          byRank.forall(_.getAs[Long]("nbr_id") != v)
      }
    }
    val clusterOf = got.map { case (v, c, _) => v -> c }.toMap
    val twins = answers.get("vec_twins").elements().asScala
      .map(p => (p.get(0).asLong(), p.get(1).asLong())).toSeq
    val recall = twins.count { case (a, b) => clusterOf.get(a).exists(clusterOf.get(b).contains) }
      .toDouble / twins.size
    ctx.sample("cluster_twin_recall", recall, "ratio")
    ctx.check(s"stream planted-twin recall $recall") { recall >= ClusterTwinRecallFloor }
  }

  override def roundCounters(ctx: Ctx): Counters = {
    val c = ctx.rec.countersFor("t0")
    tracedTriggers.foreach(t => c += ctx.rec.triggerCounters(t))
    c
  }

  def layers(ctx: Ctx): Unit = {
    val rec = ctx.rec
    val drainKey = tracedDrain.map(_.key).getOrElse("none")
    val per = tracedTriggers.map(t => (t, rec.triggerCounters(t)))
    // the drain span owns its triggers' jobs (run under the query's group)
    val drain = rec.countersFor(drainKey)
    per.foreach { case (_, c) => drain += c }
    rec.spans.foreach { s =>
      val c = if (s.key == drainKey) drain else rec.countersFor(s.key)
      rec.spanMetrics(s, c).foreach { case (k, v, u) => ctx.layer(s"${s.name}.$k") = (v, u) }
    }
    def med(f: ((Trigger, Counters)) => Double): Double =
      if (per.isEmpty) Double.NaN else Util.median(per.map(f))
    Seq("addBatch" -> "add_batch", "queryPlanning" -> "query_planning",
      "walCommit" -> "wal_commit", "getBatch" -> "get_batch").foreach { case (k, n) =>
      ctx.layer(s"stream.trigger.${n}_ms") = (med(_._1.durations.getOrElse(k, 0L).toDouble), "ms")
    }
    ctx.layer("stream.jobs_per_trigger") = (med(_._2.jobs.toDouble), "count")
    ctx.layer("stream.stages_per_trigger") = (med(_._2.stages.toDouble), "count")
    ctx.layer("stream.task_cpu_s_per_trigger") = (med(_._2.cpuNs / 1e9), "s")
    val (compacting, plain) =
      tracedTriggers.partition(t => (t.batchId + 1) % CompactEvery == 0)
    def medMs(ts: Seq[Trigger]) =
      if (ts.isEmpty) Double.NaN
      else Util.median(ts.map(_.durations.getOrElse("triggerExecution", 0L).toDouble))
    ctx.layer("lsm.compaction_trigger_ms") = (medMs(compacting), "ms")
    ctx.layer("lsm.plain_trigger_ms") = (medMs(plain), "ms")
    ctx.layer("lsm.bytes_written_per_input_byte") = (drain.outputBytes.toDouble / inputBytes, "ratio")
    ctx.layer("lsm.files_written_per_trigger") =
      (drain.writeTasks.toDouble / math.max(1, tracedTriggers.length), "count")
  }
}
