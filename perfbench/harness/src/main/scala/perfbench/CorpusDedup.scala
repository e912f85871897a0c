package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit}

import graft.operators.{Dedup, Similarity}

/** LLM-data dedup in batch: MinHash candidate pairs over documents,
  * the bucketed k-NN graph and embedding cluster dedup over vectors,
  * one job at a time. Each result is collected to the Spark driver (at most
  * a few tens of thousands of rows, a small share of each step) so
  * the checks read the timed output instead of running it again. */
final class CorpusDedup extends Workload {
  private var answers: JsonNode = _
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  val K = 5
  val Threshold = 0.3
  // planted-twin recall floors: every seed measured gave 1.0; the
  // floors leave room for the LSH per-pair miss odds (perfbench/README.md)
  val DocTwinRecallFloor = 0.99
  val KnnTwinRecallFloor = 0.98
  val ClusterTwinRecallFloor = 0.98

  def opKinds: Seq[String] = Seq("minhash", "knn", "cluster")

  def register(ctx: Ctx): Unit = {
    docs = ctx.spark.read.parquet(s"${ctx.data}/docs.parquet")
    emb = ctx.spark.read.parquet(s"${ctx.data}/embeddings.parquet")
    if (answers == null) answers = Util.readJson(s"${ctx.data}/answers.json")
  }

  private def minhash() = Dedup.minHashCandidatePairs(docs, col("doc_id"), col("text"))
  private def knn() = Similarity.knnGraphBucketed(emb, "vec_id", "embedding", K)
  private def cluster() =
    Dedup.embeddingClusterDedup(emb, col("vec_id"), col("embedding"), Threshold)

  private var candRows: Array[Row] = Array.empty
  private var graphRows: Array[Row] = Array.empty
  private var verdictRows: Array[Row] = Array.empty

  def round(ctx: Ctx, r: Int): Unit = {
    val rec = ctx.rec
    val steps = Seq[(String, String, () => Unit)](
      ("minhash", "dedup.minhash_pairs", () => candRows = minhash().collect()),
      ("knn", "sim.knn_graph", () => graphRows = knn().collect()),
      ("cluster", "dedup.cluster_dedup", () => verdictRows = cluster().collect()))
    steps.foreach { case (kind, span, run) =>
      val ms = ctx.op(kind, "") { rec.span(span)(run()); true }
      ctx.sample(s"${kind}_s", ms / 1e3, "s")
    }
    // each round starts cold: no cached band tables carry over
    Similarity.releaseBandedCache()
    ctx.spark.catalog.clearCache()
  }

  private def pairs(node: JsonNode): Seq[(Long, Long)] =
    node.elements().asScala.map(p => (p.get(0).asLong(), p.get(1).asLong())).toSeq

  def check(ctx: Ctx): Unit = {
    val vec: Map[Long, Array[Float]] = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

    val cand = candRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val docTwins = pairs(answers.get("doc_twins"))
    val docRecall = docTwins.count(cand).toDouble / docTwins.size
    ctx.sample("doc_twin_recall", docRecall, "ratio")
    ctx.check(s"minhash planted-twin recall $docRecall") { docRecall >= DocTwinRecallFloor }

    val graph = graphRows
    ctx.check("knn graph: <= k neighbours per node, ranked, cosines exact") {
      graph.groupBy(_.getAs[Long]("vec_id")).forall { case (v, rows) =>
        val byRank = rows.sortBy(_.getAs[Long]("rank"))
        byRank.length <= K &&
          byRank.map(_.getAs[Long]("rank")).toSeq == (1L to byRank.length.toLong) &&
          byRank.map(_.getAs[Double]("sim")).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)) &&
          byRank.forall { r =>
            val n = r.getAs[Long]("nbr_id")
            n != v && math.abs(Util.cosine(vec(v), vec(n)) - r.getAs[Double]("sim")) < 1e-4
          }
      }
    }
    val nbrs = graph.map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id"))).toSet
    val vecTwins = pairs(answers.get("vec_twins"))
    val knnRecall = vecTwins.count { case (a, b) => nbrs((a, b)) || nbrs((b, a)) }
      .toDouble / vecTwins.size
    ctx.sample("knn_twin_recall", knnRecall, "ratio")
    ctx.check(s"knn planted-twin recall $knnRecall") { knnRecall >= KnnTwinRecallFloor }

    // cluster dedup: the verdict is the union-find closure of the
    // near-dup pairs, and every such pair is above the threshold by
    // the harness's own cosine
    val dupPairs = Dedup.embeddingNearDupPairsBucketed(emb, col("vec_id"),
      col("embedding"), Threshold).collect().map(r => (r.getLong(0), r.getLong(1)))
    ctx.sample("dedup.near_dup_pairs", dupPairs.length.toDouble, "count")
    ctx.check("cluster-dedup pairs above threshold") {
      dupPairs.forall { case (a, b) => Util.cosine(vec(a), vec(b)) > Threshold - 1e-6 }
    }
    val verdict = verdictRows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val cc = Util.components(vec.keys, dupPairs)
    ctx.check("cluster-dedup verdict = components of its pairs") {
      verdict.size == vec.size && verdict.forall { case (v, (c, keep)) =>
        c == cc(v) && keep == (if (c == v) 1L else 0L)
      }
    }
    val clRecall = vecTwins.count { case (a, b) => verdict(a)._1 == verdict(b)._1 }
      .toDouble / vecTwins.size
    ctx.sample("cluster_twin_recall", clRecall, "ratio")
    ctx.check(s"cluster planted-twin recall $clRecall") { clRecall >= ClusterTwinRecallFloor }
    ctx.sample("clusters", verdict.values.count(_._2 == 1L).toDouble, "count")
  }

  override def probe(ctx: Ctx): Unit = {
    // traced-only: materialize the hyperplane band table the banded
    // engines bucket on, and measure its candidate volume
    val t0 = System.nanoTime()
    val sizes = Similarity.embBandTable(emb, "vec_id", "embedding")
      .groupBy(col("tbl"), col("bkt")).agg(count(lit(1)).as("m"))
      .collect().map(_.getLong(2))
    ctx.layer("sim.bands.wall_s") = ((System.nanoTime() - t0) / 1e9, "s")
    val candidates = sizes.map(m => m * (m - 1) / 2).sum
    ctx.layer("sim.band_rows") = (sizes.sum.toDouble, "count")
    ctx.layer("sim.max_bucket_rows") = (sizes.max.toDouble, "count")
    ctx.layer("sim.candidates") = (candidates.toDouble, "count")
    ctx.samples.get("dedup.near_dup_pairs").foreach { case (xs, _) =>
      ctx.layer("sim.pairs_per_candidate") = (xs.head / candidates, "ratio")
    }
  }

  def layers(ctx: Ctx): Unit = {
    val rec = ctx.rec
    rec.spans.foreach(s => rec.spanMetrics(s, rec.countersFor(s.key)).foreach { case (k, v, u) =>
      ctx.layer(s"${s.name}.$k") = (v, u)
    })
  }
}
