package perfbench

import graft.ann.{Ann, GraphAnn}
import graft.graph.KnnGraph
import graft.knn.Knn
import graft.metrics.Metrics
import graft.watermark.{Tvp, WmKey}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Query batches against a TVP-watermarked collection: exact kNN, IVF at
  * two probe widths and graph beam search, each batch gauged for recall and
  * for how many of the original collection's neighbours it still returns.
  * Beside them, the same searches as registry queries (`knn_topk_sample`,
  * `ann_graph_topk`) through `SparkEntry.queries`, with the registry's memo
  * cleared at the start of each round. Query-time cost on a watermarked DB;
  * the watermark layer idles after set-up.
  */
final class AnnServe(ctx: Ctx) extends Workload {
  import AnnServe._
  private val spark = ctx.spark
  private val rng = ctx.rng
  private val wmKey = WmKey(seed = s"k${rng.nextInt(1 << 20)}")
  private val wm = Seq.fill(16)(rng.nextInt(2)).mkString
  private val (corpusRows, batches) = {
    val cs = Data.centres(rng, Clusters, D)
    val rows = Data.clustered(rng, cs, N)
    // held-out queries: same distribution, ids past the corpus
    val qs = Data.clustered(rng, cs, Batches * Batch, firstId = 1L << 32).grouped(Batch).toIndexedSeq
    (rows, qs)
  }
  private val orig = Data.stored(spark, corpusRows.toSeq, ctx.path("collection"), ctx.cpus)
  private val queryFrames = batches.map(b => ctx.keep(Data.frame(spark, b.toSeq)))
  private val registry = new Registry(ctx, rng.nextLong(), RegistryQueries)

  private var served: DataFrame = _
  private var centroids: Array[Array[Float]] = _
  private var lists: DataFrame = _
  private var edges: DataFrame = _
  private var entries: DataFrame = _
  private val rounds = GraphAnn.searchRounds(N, 2 * M)
  private val recalls = collection.mutable.ArrayBuffer.empty[Double]
  private val hitRates = collection.mutable.ArrayBuffer.empty[Double]

  val kinds: Seq[String] = Seq("exact", "ivf4", "ivf8", "beam") ++ registry.kinds

  /** Each round's registry queries start cold. */
  override def round(rng: scala.util.Random): Seq[String] = {
    registry.clear()
    super.round(rng)
  }

  /** Graph and accessibility index on the original collection, TVP embed,
    * IVF index over the served copy, entry points, and the registry's
    * collection. The beam search walks the original's graph: watermarking
    * moves only low mantissa bits, and a DB owner keeps serving the index
    * it has.
    */
  def setup(): Unit = {
    graft.GraftCache.clear()
    spark.catalog.clearCache()
    edges = ctx.span("graph.edges")(ctx.keep(KnnGraph.edges(orig, M)))
    val ai = ctx.span("graph.accessibility")(ctx.keep(KnnGraph.accessibility(orig, edges)))
    served = ctx.span("watermark.embed") {
      ctx.keep(Tvp.embedAi(orig, wm, 0.6, 0.5, ai, D, wmKey))
    }
    ctx.span("ann.ivf_build") {
      centroids = Ann.ivfDetCentroids(served, Nlist)
      lists = ctx.keep(Ann.ivfDetAssign(served, centroids))
    }
    entries = ctx.keep(GraphAnn.entryPoints(served, Entries))
    registry.setup()
  }

  /** The benchmark's reference answers, computed on the driver once (the
    * served copy is the same after every set-up).
    */
  private lazy val (truthWm, truthWmDf, truthOrigDf) = {
    val servedRows = served.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val wmTruth = batches.map(b => Data.foldTopK(b, servedRows, K))
    (wmTruth, wmTruth.map(truthFrame), batches.map(b => truthFrame(Data.foldTopK(b, corpusRows, K))))
  }

  private def truthFrame(t: Map[Long, Array[(Long, Double)]]): DataFrame = {
    import spark.implicits._
    ctx.keep(t.toSeq.flatMap { case (q, ns) => ns.zipWithIndex.map { case ((n, _), r) => (q, n, r + 1) } }
      .toDF("query_id", "neighbor_id", "rank"))
  }

  def op(kind: String): Op =
    if (kind.startsWith(Registry.Prefix)) registry.op(kind) else searchOp(kind)

  private def searchOp(kind: String): Op = {
    val b = rng.nextInt(Batches)
    val qs = queryFrames(b)
    val (wmTruthDf, origTruthDf) = (truthWmDf(b), truthOrigDf(b))
    def gauged(rows: Array[Row]): Array[Row] = {
      import spark.implicits._
      val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
        .toDF("query_id", "neighbor_id", "rank")
      recalls += ctx.span("metrics.recall")(Ann.recallAtK(got, wmTruthDf, K))
      hitRates += ctx.span("metrics.hitrate")(Metrics.hitRate(origTruthDf, got, K))
      rows
    }
    kind match {
      case "exact" =>
        Op(() => {
          val plan = ctx.span("knn.exact_index")(Knn.exact(qs, served, K, kernel = "fold"))
          ctx.span("knn.exact_scan")(plan.collect())
        }, out => checkExact(b, out.asInstanceOf[Array[Row]]))
      case "ivf4" | "ivf8" =>
        val nprobe = kind.stripPrefix("ivf").toInt
        Op(() => gauged(ctx.span("ann.ivf_search") {
          Ann.ivfDetSearch(qs, lists, centroids, K, nprobe).collect()
        }), out => checkShape(kind, b, out.asInstanceOf[Array[Row]]))
      case "beam" =>
        Op(() => gauged(ctx.span("ann.beam") {
          GraphAnn.beamSearch(qs, served, edges, entries, K, Beam, rounds).collect()
        }), out => checkShape(kind, b, out.asInstanceOf[Array[Row]]))
    }
  }

  /** Row for row against the driver-side fold reference. */
  private def checkExact(b: Int, rows: Array[Row]): Unit = {
    val got = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2)))
    }
    val want = truthWm(b)
    val planted = if (ctx.fault) got.map { case (q, ns) =>
      q -> (if (q == want.keys.min) ns.updated(0, (-1L, ns(0)._2)) else ns) } else got
    Check(planted.keySet == want.keySet, s"exact batch $b answered ${got.size} of ${want.size} queries")
    want.foreach { case (q, ns) =>
      Check(planted(q).sameElements(ns), s"exact batch $b query $q differs from the reference")
    }
  }

  private def checkShape(kind: String, b: Int, rows: Array[Row]): Unit = {
    val perQuery = rows.groupBy(_.getLong(0)).map(_._2.length)
    Check(perQuery.size == Batch && perQuery.forall(_ == K),
      s"$kind batch $b: ${perQuery.size} queries answered, expected $Batch × top-$K")
  }

  override def finish(): Unit = registry.writeOracle()

  def report(): Map[String, Double] = Map(
    "beam_rounds" -> rounds.toDouble,
    "recall_at_10" -> mean(recalls),
    "impact_hit_rate" -> mean(hitRates))

  private def mean(xs: collection.Seq[Double]) = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

object AnnServe {
  val N = 4000
  val D = 128
  val Clusters = 32
  val M = 8
  val K = 10
  val Batch = 200
  val Batches = 4
  val Nlist = 64
  val Entries = 4
  val Beam = 32
  val RegistryQueries = Seq("knn_topk_sample", "ann_graph_topk")
}
