package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, max, substring}

import graft.operators.Dedup
import graft.registry.{Registry, RegistryNormalize}

/** File-scan counters of an executed query, read from the physical
  * plan's SQL metrics (adaptive stages included). */
object PlanStats extends AdaptiveSparkPlanHelper {
  def scans(df: DataFrame): (Long, Long) = {
    val nodes = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).fold(0L)(_.value)
    (nodes.map(m(_, "numFiles")).sum, nodes.map(m(_, "numOutputRows")).sum)
  }
}

/** The hangarbay user's path: publish a synthetic FAA registry, link
  * near-duplicate owner names, then a closed loop (one client) of
  * search / fleet / FTS / SQL calls plus a few status and schema
  * calls, each result collected to the Spark driver and checked against the
  * generator's planted answers. */
final class RegistryApi extends Workload {
  private var answers: JsonNode = _
  private var lastPub: String = _
  private var lastPairs: Array[Row] = Array.empty
  private val apiKinds = Seq("search", "fleet", "fts", "sql", "status", "schema")
  // traced-round detail per API call kind: build/plan/exec ms, spans
  private val apiDetail = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val apiSpans = mutable.ArrayBuffer.empty[(String, Span)]

  def opKinds: Seq[String] = apiKinds

  def register(ctx: Ctx): Unit = {
    Seq("MASTER", "ACFTREF", "ENGINE").foreach(f =>
      RegistryNormalize.readRaw(ctx.spark, s"${ctx.data}/$f.txt").schema)
    if (answers == null) answers = Util.readJson(s"${ctx.data}/answers.json")
  }

  private def rawBytes(ctx: Ctx): Long =
    Seq("MASTER", "ACFTREF", "ENGINE").map(f =>
      new java.io.File(s"${ctx.data}/$f.txt").length()).sum

  def round(ctx: Ctx, r: Int): Unit = {
    val traced = ctx.tracing
    val spark = ctx.spark
    val raw = ctx.data
    val pub = ctx.path(s"publish/r$r")
    val rec = ctx.rec
    val whBefore = Util.dirBytes(new java.io.File(ctx.path("warehouse")))

    // publish: raw dumps → typed parquet tables → FTS index
    val publishMs = ctx.op("publish", "") {
      rec.span("registry.publish") {
        if (!traced) RegistryNormalize.normalize(spark, raw, pub)
        else {
          // the same five builders normalize() runs, one span each
          val master = RegistryNormalize.readRaw(spark, s"$raw/MASTER.txt")
          val acftref = RegistryNormalize.readRaw(spark, s"$raw/ACFTREF.txt")
          val engine = RegistryNormalize.readRaw(spark, s"$raw/ENGINE.txt")
          Seq[(String, () => DataFrame)](
            "aircraft" -> (() => RegistryNormalize.aircraft(master)),
            "registrations" -> (() => RegistryNormalize.registrations(master)),
            "owners" -> (() => RegistryNormalize.owners(master)),
            "make_model" -> (() => RegistryNormalize.aircraftMakeModel(acftref)),
            "engines" -> (() => RegistryNormalize.engines(engine))).foreach {
            case (t, build) =>
              val file = if (t == "make_model") "aircraft_make_model" else t
              rec.span(s"registry.normalize.$t", Some("registry.publish")) {
                build().write.mode("overwrite").parquet(s"$pub/$file.parquet")
              }
          }
        }
        rec.span("registry.fts_index", Some("registry.publish")) {
          new Registry(spark, pub, _ => ()).writeFtsIndex()
        }
      }
      true
    }
    ctx.sample("publish_s", publishMs / 1e3, "s")
    val written = Util.dirBytes(new java.io.File(pub)) +
      Util.dirBytes(new java.io.File(ctx.path("warehouse"))) - whBefore
    ctx.sample("registry.bytes_written_per_raw_byte",
      written.toDouble / rawBytes(ctx), "ratio")

    val reg = new Registry(spark, pub, _ => ())
    lastPub = pub

    // owner linkage: distinct owner names, edit distance ≤ 1 within
    // (state, name prefix) blocks
    val linkMs = ctx.op("linkage", "") {
      lastPairs = rec.span("dedup.fuzzy_match") {
        Dedup.fuzzyMatchPairs(ownerNames(reg), col("owner_name_std"),
          col("owner_name_std"), blockKeys(), maxDistance = 1).collect()
      }
      true
    }
    ctx.sample("linkage_s", linkMs / 1e3, "s")
    ctx.sample("dedup.fuzzy_match.pairs_out", lastPairs.length.toDouble, "count")

    // the closed loop of API calls, in the generator's seeded order
    answers.get("calls").elements().asScala.foreach(c => call(ctx, reg, c, traced))
  }

  private def ownerNames(reg: Registry): DataFrame =
    reg.table("owners").select(col("state_std"), col("owner_name_std")).distinct()

  private def blockKeys() =
    Seq(col("state_std"), substring(col("owner_name_std"), 1, 1))

  private def call(ctx: Ctx, reg: Registry, c: JsonNode, traced: Boolean): Unit = {
    val kind = c.get("op").asText()
    val expect = c.get("expect")
    val arg = Option(c.get("arg"))
    val build: () => DataFrame = kind match {
      case "search" => () => reg.search(arg.get.asText())
      case "fleet" => () => reg.fleet(arg.get.asText(), Some(c.get("state").asText()))
      case "fts" => () => reg.searchOwnersFts(arg.get.elements().asScala.map(_.asText()).toSeq)
      case "sql" => () => reg.query(arg.get.asText())
      case "status" => () => reg.status
      case "schema" => () => reg.schemaOf(arg.get.asText())
    }
    val what = arg.fold("")(_.toString)
    ctx.op(kind, what) {
      val rows =
        if (!traced) build().collect()
        else ctx.rec.span(s"api.$kind", None) {
          val t0 = System.nanoTime()
          val df = build()
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          val out = df.collect()
          val t3 = System.nanoTime()
          val (files, scanned) = PlanStats.scans(df)
          def add(k: String, v: Double) = if (ctx.reporting)
            apiDetail.getOrElseUpdate(s"api.$kind.$k", mutable.ArrayBuffer.empty) += v
          add("build_ms", (t1 - t0) / 1e6)
          add("plan_ms", (t2 - t1) / 1e6)
          add("exec_ms", (t3 - t2) / 1e6)
          add("files_read", files.toDouble)
          add("rows_scanned_per_result", scanned.toDouble / math.max(1, out.length))
          out
        }
      if (ctx.reporting) apiSpans += ((kind, ctx.rec.spans.last))
      verify(kind, rows, expect)
    }
  }

  private def strings(rows: Array[Row], f: String): Seq[String] =
    rows.map(_.getAs[String](f)).toSeq.sorted

  private def verify(kind: String, rows: Array[Row], expect: JsonNode): Boolean =
    kind match {
      case "search" =>
        rows.length == 1 &&
          rows(0).getAs[String]("n_number") == expect.get("n_number").asText() &&
          rows(0).getAs[String]("owner_name") == expect.get("owner_name").asText() &&
          rows(0).getAs[String]("maker") == expect.get("maker").asText()
      case "fleet" | "fts" =>
        strings(rows, "n_number") == expect.elements().asScala.map(_.asText()).toSeq
      case "sql" =>
        val got = rows.map(_.toSeq.map(v => String.valueOf(v))).toSeq
        val want = expect.elements().asScala.map(_.elements().asScala
          .map(v => if (v.isNumber) v.asLong().toString else v.asText()).toSeq).toSeq
        got == want
      case "status" =>
        rows.map(r => r.getString(0) -> r.getLong(1)).toMap ==
          expect.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
      case "schema" => rows.length == expect.asInt()
    }

  def check(ctx: Ctx): Unit = {
    val kindsMs = apiKinds.flatMap(k => ctx.opMs.getOrElse(k, Nil))
    Seq("search", "fleet", "fts", "sql").foreach { k =>
      ctx.opMs.get(k).foreach(xs => ctx.sample(s"${k}_p50_ms", Util.median(xs.toSeq), "ms"))
    }
    ctx.sample("api_tail_ms", Util.tail(kindsMs)._1, "ms")
    ctx.sample("api_tail_percentile", Util.tail(kindsMs)._2, "pct")
    ctx.sample("api_calls", kindsMs.length.toDouble, "count")

    // linkage: every emitted pair within edit distance 1 by the
    // harness's own Levenshtein, and every planted pair found
    val found = lastPairs.map(p => (p.getString(0), p.getString(1))).toSet
    ctx.check("linkage pairs within distance 1") {
      found.forall { case (a, b) => a != b && Util.levenshtein(a, b) <= 1 }
    }
    ctx.check("linkage finds every planted pair") {
      answers.get("linkage_pairs").elements().asScala.forall(p =>
        found((p.get(0).asText(), p.get(1).asText())))
    }
  }

  override def probe(ctx: Ctx): Unit = {
    val maxBlock = ownerNames(new Registry(ctx.spark, lastPub, _ => ()))
      .groupBy(blockKeys(): _*).count().agg(max("count")).head().getLong(0)
    ctx.layer("dedup.fuzzy_match.max_block_rows") = (maxBlock.toDouble, "count")
  }

  def layers(ctx: Ctx): Unit = {
    val rec = ctx.rec
    rec.spans.filter(s => s.name.startsWith("registry.") || s.name == "dedup.fuzzy_match")
      .foreach(s => rec.spanMetrics(s, rec.countersFor(s.key)).foreach { case (k, v, u) =>
        ctx.layer(s"${s.name}.$k") = (v, u)
      })
    ctx.samples.get("registry.bytes_written_per_raw_byte").foreach { case (xs, u) =>
      ctx.layer("registry.bytes_written_per_raw_byte") = (xs.head, u)
    }
    ctx.layer("dedup.fuzzy_match.pairs_out") = (lastPairs.length.toDouble, "count")
    apiDetail.foreach { case (k, xs) =>
      ctx.layer(k) = (Util.median(xs.toSeq), if (k.endsWith("_ms")) "ms" else "count")
    }
    apiSpans.groupBy(_._1).foreach { case (kind, ss) =>
      ctx.layer(s"api.$kind.jobs") =
        (Util.median(ss.map(s => rec.countersFor(s._2.key).jobs.toDouble).toSeq), "count")
      ctx.layer(s"api.$kind.driver_ms") =
        (Util.median(ss.map(s => rec.driverS(s._2.startNs, s._2.endNs) * 1e3).toSeq), "ms")
    }
  }
}
