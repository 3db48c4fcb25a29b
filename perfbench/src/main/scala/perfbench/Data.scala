package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.Random

/** Seeded inputs. Everything a workload feeds the engine comes from here,
  * so the same seed gives the same vectors, ids and op parameters.
  */
object Data {
  type Vec = (Long, Array[Float])

  /** Cluster centres for a SIFT-like collection: `k` random directions. */
  def centres(rng: Random, k: Int, d: Int): Array[Array[Double]] =
    Array.fill(k)(unit(Array.fill(d)(rng.nextGaussian())))

  /** Unit vectors drawn as gaussian blobs around the given centres (noise
    * of norm ≈ `spread`), ids `firstId` upward.
    */
  def clustered(rng: Random, cs: Array[Array[Double]], n: Int,
                firstId: Long = 0L, spread: Double = 0.7): Array[Vec] =
    Array.tabulate(n) { i =>
      val c = cs(rng.nextInt(cs.length))
      val sd = spread / math.sqrt(c.length.toDouble)
      (firstId + i, unit(c.map(_ + sd * rng.nextGaussian())).map(_.toFloat))
    }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  def frame(spark: SparkSession, rows: Seq[Vec]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  /** Write a collection as one parquet table and read it back: the
    * workloads serve stored data, as a user's collection would be.
    */
  def stored(spark: SparkSession, rows: Seq[Vec], path: String, parts: Int): DataFrame = {
    frame(spark, rows).repartition(parts).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Exact top-k by the engine's "fold" L2 (sequential double fold of
    * squared differences, ties to the lower id): the reference the exact
    * search legs are checked against row for row.
    */
  def foldTopK(q: Array[Float], corpus: Array[Vec], k: Int): Array[(Long, Double)] = {
    val heap = new java.util.PriorityQueue[(Long, Double)](k + 1,
      (a: (Long, Double), b: (Long, Double)) =>
        if (a._2 != b._2) java.lang.Double.compare(b._2, a._2) else java.lang.Long.compare(b._1, a._1))
    corpus.foreach { case (id, c) =>
      var s = 0.0
      var t = 0
      while (t < q.length) { val diff = q(t).toDouble - c(t).toDouble; s += diff * diff; t += 1 }
      val dist = math.sqrt(s)
      heap.add((id, dist))
      if (heap.size > k) heap.poll()
    }
    val out = Array.fill(heap.size)(heap.poll())
    out.reverse
  }

  /** foldTopK for a batch, spread over the cores (a driver-side check). */
  def foldTopK(qs: Array[Vec], corpus: Array[Vec], k: Int): Map[Long, Array[(Long, Double)]] = {
    import scala.jdk.CollectionConverters._
    java.util.Arrays.asList(qs: _*).parallelStream()
      .map[(Long, Array[(Long, Double)])](q => (q._1, foldTopK(q._2, corpus, k)))
      .iterator().asScala.toMap
  }
}

/** Quantiles as the report uses them. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of p50/p75/p90/p95/p99 with at least ten samples above it. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75, 50).find(p => xs.size * (100 - p) / 100.0 >= 10.0)
      .map(p => p -> quantile(xs, p / 100.0))

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** Minimal JSON rendering for the run artifact. */
object Json {
  def render(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => render(f.toDouble)
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]      => xs.map(render).mkString("[", ",", "]")
    case o: Option[_]         => o.fold("null")(render)
    case other                => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
}
