package perfbench

import graft.ann.Ann
import graft.attacks.Attacks
import graft.sources.TableLog
import graft.watermark.{Tvp, WmKey}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Writes beside reads: a watermarked collection in a TableLog table takes
  * appended batches (fresh vectors mixed with attacker-modified copies of
  * stored ones: the insertion attack as it arrives in practice), while
  * verify ops extract the mark from the head and search ops query an IVF
  * index kept current by incremental inserts. Each round ends with a
  * compaction; the next starts by restoring the table to its watermarked
  * base, as an owner rolls back inserted rows. Within a round the table
  * grows and gains versions and files; every round replays the same growth,
  * so a longer window does not mean a bigger head. The log on disk does
  * grow (restored-away commits stay), so its growth is measured per round.
  */
final class IngestVerify(ctx: Ctx) extends Workload {
  import IngestVerify._
  private val spark = ctx.spark
  private val rng = ctx.rng
  private val wmKey = WmKey(seed = s"k${rng.nextInt(1 << 20)}")
  private val wm = Seq.fill(16)(rng.nextInt(2)).mkString
  private val cs = Data.centres(rng, Clusters, D)
  private val vectors = Data.clustered(rng, cs, Base)
  private val queryFrames = (0 until 4).map(i =>
    ctx.keep(Data.frame(spark, Data.clustered(rng, cs, Batch, firstId = (1L << 40) + i * Batch).toSeq)))
  private val queryRows = queryFrames.map(_.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)))

  private var rep = 0
  private var table: String = _
  // what the table must hold at head, mirrored on the driver
  private val mirror = collection.mutable.LinkedHashMap.empty[Long, Array[Float]]
  private var nextId = 0L
  private var centroids: Array[Array[Float]] = _
  private var lists: DataFrame = _
  private var baseVersion = 0
  private var baseLists: DataFrame = _
  private var baseRows: Seq[Data.Vec] = Nil
  private val recalls = collection.mutable.ArrayBuffer.empty[Double]
  private val bers = collection.mutable.ArrayBuffer.empty[Double]
  private val filesPerRead = collection.mutable.ArrayBuffer.empty[Double]
  // per round, from its restore to its compaction
  private var roundStart = (0, 0L, 0)
  private val roundVersions = collection.mutable.ArrayBuffer.empty[Double]
  private val roundWriteAmp = collection.mutable.ArrayBuffer.empty[Double]

  /** A round: four times a commit and the two reads that see it, then a
    * compaction. The order is fixed, not drawn from the seed: an IVF search
    * pays an extra row count whenever the index changed since the previous
    * search (about 0.35 s against 0.7 s here), so a shuffled order would
    * make the mix of fast and slow searches depend on the seed.
    */
  val kinds: Seq[String] = Seq.fill(CompactEvery)(Seq("append", "verify", "search")).flatten :+ "compact"

  /** Untimed: back to the base version, its index and its rows. */
  override def round(rng: scala.util.Random): Seq[String] = {
    if (TableLog.headVersion(table) != baseVersion) TableLog.restore(table, baseVersion)
    lists = baseLists
    mirror.clear()
    mirror ++= baseRows
    roundStart = (TableLog.headVersion(table), bytesUnder(new java.io.File(table)), mirror.size)
    kinds
  }

  /** A fresh table holding the RS-watermarked base, and its IVF index. */
  def setup(): Unit = {
    graft.GraftCache.clear()
    spark.catalog.clearCache()
    rep += 1
    table = ctx.path(s"table-$rep")
    val marked = ctx.span("watermark.embed") {
      ctx.keep(Tvp.embedRs(Data.frame(spark, vectors.toSeq), wm, 0.6, D, wmKey))
    }
    baseVersion = ctx.span("sources.append")(TableLog.overwrite(marked, table))
    baseRows = marked.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    nextId = Base.toLong
    ctx.span("ann.ivf_build") {
      centroids = Ann.ivfDetCentroids(marked, Nlist)
      baseLists = ctx.keep(Ann.ivfDetAssign(marked, centroids))
    }
  }

  def op(kind: String): Op = kind match {
    case "compact" =>
      Op(() => ctx.span("sources.compact")(TableLog.compact(spark, table)), _ => {
        // the round's log growth: versions committed and bytes written under
        // the table since the restore, per logical byte the round appended
        val (v0, b0, n0) = roundStart
        roundVersions += TableLog.headVersion(table) - v0
        roundWriteAmp += (bytesUnder(new java.io.File(table)) - b0).toDouble /
          ((mirror.size - n0) * RowBytes)
      })
    case "append" =>
      val batch = nextBatch()
      val df = ctx.keep(Data.frame(spark, batch.toSeq))
      Op(() => {
        ctx.span("sources.append")(TableLog.append(df, table))
        lists = ctx.span("ann.ivf_insert")(Ann.ivfInsert(lists, centroids, df))
        batch.foreach { case (id, v) => mirror(id) = v }
      })
    case "verify" =>
      Op(() => {
        val head = ctx.span("sources.read")(TableLog.read(spark, table))
        ctx.span("watermark.extract") {
          Tvp.ber(Tvp.bitsDf(spark, wm), Tvp.extract(head, wm.length, D, wmKey))
        }
      }, ber => {
        bers += ber.asInstanceOf[Double]
        val ids = TableLog.read(spark, table).select("vec_id").collect().map(_.getLong(0))
        val seen = if (ctx.fault) ids.updated(0, -1L) else ids
        val got = seen.toSet
        Check(seen.length == mirror.size && got == mirror.keySet,
          s"head holds ${seen.length} rows for ${mirror.size} committed: " +
            s"${mirror.keySet.count(!got(_))} missing, ${got.count(!mirror.contains(_))} unexpected")
        filesPerRead += files(table)
      })
    case "search" =>
      val b = rng.nextInt(queryFrames.size)
      Op(() => ctx.span("ann.ivf_search") {
        Ann.ivfDetSearch(queryFrames(b), lists, centroids, K, Nprobe).collect()
      }, out => {
        val rows = out.asInstanceOf[Array[Row]]
        val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
        Check(got.size == Batch && got.values.forall(_.size == K),
          s"search answered ${got.size} of $Batch queries")
        val corpus = mirror.iterator.toArray
        val truth = Data.foldTopK(queryRows(b), corpus, K)
        recalls += truth.map { case (q, ns) => ns.count(n => got(q).contains(n._1)) }.sum.toDouble /
          (Batch * K)
      })
  }

  /** Fresh vectors plus attacker-modified copies of stored rows, under new
    * ids (the attacker re-inserts what it altered).
    */
  private def nextBatch(): Array[Data.Vec] = {
    val nCopies = (AppendRows * CopyShare).toInt
    val fresh = Data.clustered(rng, cs, AppendRows - nCopies, firstId = nextId)
    nextId += fresh.length
    val keys = mirror.keysIterator.toIndexedSeq
    val picked = Seq.fill(nCopies)(keys(rng.nextInt(keys.size))).zipWithIndex.map {
      case (src, i) => (nextId + i, mirror(src))
    }
    nextId += nCopies
    val copies = ctx.span("attacks") {
      Attacks.randomModify(Data.frame(spark, picked), 1.0, D, s"ins-${rng.nextInt()}").collect()
    }.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    fresh ++ copies
  }

  private def files(table: String): Double =
    TableLog.manifest(table, TableLog.headVersion(table)).map { e =>
      val dir = new java.io.File(table, e.split("\\|", -1)(0))
      Option(dir.listFiles()).fold(0)(_.count(_.getName.endsWith(".parquet")))
    }.sum.toDouble

  private def bytesUnder(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(bytesUnder).sum) else f.length()

  def report(): Map[String, Double] = Map(
    "versions" -> median(roundVersions),
    "files_per_read" -> (if (filesPerRead.isEmpty) files(table) else filesPerRead.max),
    "write_amp" -> median(roundWriteAmp),
    "recall_at_10" -> (if (recalls.isEmpty) Double.NaN else recalls.sum / recalls.size),
    "ber_mean" -> (if (bers.isEmpty) Double.NaN else bers.sum / bers.size))

  private def median(xs: collection.Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs.toSeq)
}

object IngestVerify {
  val Base = 4000
  val D = 128
  val Clusters = 32
  val AppendRows = 1000
  val CopyShare = 0.3
  val CompactEvery = 4
  val Batch = 200
  val K = 10
  val Nlist = 64
  val Nprobe = 8
  /** Logical size of one row: its id and D float32 components. */
  val RowBytes: Double = 8.0 + 4.0 * D
}
