package perfbench

import graft.attacks.Attacks
import graft.experiments.Experiments
import graft.experiments.Experiments.{Scheme, SchemeRs, SchemeScpw, SchemeTvp}
import graft.graph.KnnGraph
import graft.watermark.{Scpw, ScpwKey, TabularMark, TmKey, Tvp, WmKey}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The paper's own loop over a SIFT-like collection: embed a watermark,
  * verify it, attack a copy and measure the bit-error rate, and run a small
  * robustness grid. Job-count bound; the search layers idle after set-up.
  */
final class WmAudit(ctx: Ctx) extends Workload {
  import WmAudit._
  private val spark = ctx.spark
  private val rng = ctx.rng
  private val wmKey   = WmKey(seed = s"k${rng.nextInt(1 << 20)}")
  private val scpwKey = ScpwKey(topK = 20, position = 30, stdE = 0.05, seed = wmKey.seed)
  private val tmKey   = TmKey(nw = 100, p = 4.0, k = 40, position = 50)
  private val wm = Seq.fill(WmBits)(rng.nextInt(2)).mkString
  private val emb: DataFrame = {
    val cs = Data.centres(rng, Clusters, D)
    Data.stored(spark, Data.clustered(rng, cs, N).toSeq, ctx.path("collection"), ctx.cpus)
  }
  private var ai: DataFrame = _
  private val marked = collection.mutable.Map.empty[String, DataFrame]
  private val grids = collection.mutable.ArrayBuffer.empty[Double]

  /** A round embeds and verifies under every scheme, attacks the RS copy
    * once, runs one cell per fixed scheme × attack pair and one grid: each
    * round is the same mix.
    */
  val kinds: Seq[String] =
    Variants.map("embed_" + _) ++ Variants.map("verify_" + _) ++ Seq("attack") ++
      Cells.map(c => s"cell_${c._1}_${c._2}") :+ "grid"

  /** The kNN graph and accessibility index that TVP and the adaptive
    * attacks need.
    */
  def setup(): Unit = {
    graft.GraftCache.clear()
    spark.catalog.clearCache()
    val edges = ctx.span("graph.edges") {
      ctx.keep(KnnGraph.edges(emb, M))
    }
    ai = ctx.span("graph.accessibility") {
      ctx.keep(KnnGraph.accessibility(emb, edges))
    }
  }

  /** The watermarked copy a verify op reads, made once per scheme while
    * preparing the first such op (input, not set-up or op time).
    */
  private def markedCopy(v: String): DataFrame =
    marked.getOrElseUpdate(v, ctx.keep(embedPlan(v)))

  private def embedPlan(variant: String): DataFrame = ctx.span("watermark.plan") {
    variant match {
      case "rs"   => Tvp.embedRs(emb, wm, Strength, D, wmKey)
      case "tvp"  => Tvp.embedAi(emb, wm, Strength, Th, ai, D, wmKey)
      case "scpw" =>
        val prep = ctx.span("watermark.scpw_prepare")(Scpw.prepare(emb, scpwKey))
        Scpw.embed(emb, wm, Strength, scpwKey, prep = Some(prep))
      case "tm"   => TabularMark.embed(emb, tmKey)
    }
  }

  def op(kind: String): Op = kind.split("_", 2) match {
    case Array("embed", v) =>
      Op(() => ctx.span("watermark.embed") {
        // every row's embedding is hashed, so the whole embed is computed
        embedPlan(v).agg(count(lit(1)), bit_xor(xxhash64(col("embedding")))).head().getLong(0)
      }, n => Check(n == N, s"embed $v returned $n rows, expected $N"))

    case Array("verify", "tm") =>
      val copy = markedCopy("tm")
      Op(() => ctx.span("watermark.extract") {
        TabularMark.detect(emb, copy, tmKey).head().getAs[Boolean]("detected")
      }, detected => Check(detected == !ctx.fault, "TabularMark did not detect its own mark"))

    case Array("verify", v) =>
      val copy = markedCopy(v)
      Op(() => ctx.span("watermark.extract") {
        val ex = if (v == "scpw") Scpw.extract(copy, wm.length, scpwKey)
          else Tvp.extract(copy, wm.length, D, wmKey)
        // self-test: flip one extracted bit, which must read as BER > 0
        val seen = if (ctx.fault)
          ex.withColumn("extracted_bit",
            when(col("bit_pos") === 0, lit(1) - col("extracted_bit")).otherwise(col("extracted_bit")))
          else ex
        Tvp.ber(Tvp.bitsDf(spark, wm), seen)
      }, ber => Check(ber == 0.0, s"unattacked $v extraction has BER $ber"))

    case Array("attack") =>
      // the attacker's own step: alter the most accessible share of the
      // marked copy's rows, every altered row computed
      val copy = markedCopy("rs")
      val p = 0.1 + 0.4 * rng.nextDouble()
      val seed = s"att-${rng.nextInt(1 << 20)}"
      Op(() => ctx.span("attacks") {
        Attacks.adaptiveModify(copy, ai, p, D, seed)
          .agg(count(lit(1)), bit_xor(xxhash64(col("embedding")))).head().getLong(0)
      }, n => Check(n == N, s"adaptive modification returned $n rows, expected $N"))

    case Array("cell", pair) =>
      val (name, attack) = Cells.find(c => s"${c._1}_${c._2}" == pair).get
      val scheme = Schemes(name)
      val p = 0.1 + 0.4 * rng.nextDouble()
      val rep = rng.nextInt(1000)
      Op(() => ctx.span("experiments.cell") {
        Experiments.cell(emb, scheme, attack, p, rep, wm, Strength, Th, D, wmKey, scpwKey, Some(ai))
      }, ber => {
        val b = ber.asInstanceOf[Double]
        Check(b >= 0.0 && b <= 1.0, s"cell $scheme/$attack/$p BER $b outside [0,1]")
      })

    case Array("grid") =>
      Op(() => ctx.span("experiments.grid") {
        Experiments.robustnessGrid(emb, GridSchemes, GridAttacks, GridPs, 1, wm, Strength, Th,
          D, wmKey, scpwKey, M, sharedAi = Some(ai)).collect()
      }, out => {
        val rows = out.asInstanceOf[Array[org.apache.spark.sql.Row]]
        val bers = rows.map(_.getAs[Double]("ber"))
        Check(rows.length == GridCells, s"grid returned ${rows.length} cells, expected $GridCells")
        Check(bers.forall(b => b >= 0.0 && b <= 1.0), "grid BER outside [0,1]")
        grids += bers.sum / bers.length
      })
  }

  def report(): Map[String, Double] = Map(
    "grid_cells" -> GridCells.toDouble,
    "ber_mean" -> (if (grids.isEmpty) Double.NaN else grids.sum / grids.size))
}

object WmAudit {
  val N = 4000
  val D = 128
  val Clusters = 32
  val M = 8
  val WmBits = 16
  val Strength = 0.6
  val Th = 0.5
  val Variants = Seq("rs", "tvp", "scpw", "tm")
  val Schemes: Map[String, Scheme] = Map("rs" -> SchemeRs, "tvp" -> SchemeTvp, "scpw" -> SchemeScpw)
  // the grid covers random deletion, adaptive modification and insertion;
  // the cells cover the other two attacks and SCPW
  val Cells = Seq(("rs", "random_modify"), ("tvp", "adaptive_delete"), ("scpw", "insert"))
  val GridSchemes: Seq[Scheme] = Seq(SchemeRs, SchemeTvp)
  val GridAttacks = Seq("random_delete", "adaptive_modify", "insert")
  val GridPs = Seq(0.1, 0.3, 0.5)
  val GridCells: Int = GridSchemes.size * GridAttacks.size * GridPs.size
}
