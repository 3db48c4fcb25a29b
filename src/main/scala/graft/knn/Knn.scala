package graft.knn

import graft.functions.VectorOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** J1 — the kNN "join", the reference's workhorse (`index.search`,
  * watermarking.py:305 and seven other call sites).
  *
  * Three physical strategies behind one logical result
  * (query_id, neighbor_id, dist, rank), rank 1..k ordered by (dist, id):
  *
  *  - `exact`: broadcast the corpus as one flat primitive float array and
  *    scan per query partition with a bounded max-heap. On a cluster this is
  *    embarrassingly parallel in the queries with ZERO shuffle (one
  *    broadcast, map-only). Right whenever the corpus fits an executor —
  *    ENFORCED by a total byte wall (`graft.knn.broadcastMaxBytes`,
  *    default 2 GiB ≈ 7.9M rows at d = 64) that fails loudly before any
  *    large allocation; the 100 TB path for big corpora is `lsh` (or
  *    graft.ann.Ann's IVF). Two l2 kernels:
  *      - "fast" (default): ‖q−c‖² = ‖q‖² + ‖c‖² − 2·q·c with unrolled
  *        accumulators — half the flops of the diff form and vectorizes.
  *      - "fold": sequential left-to-right (q_i−c_i)² accumulation whose
  *        double results are BIT-IDENTICAL to the DuckDB oracle's lambda
  *        fold (and to VectorOps.l2Col); used by oracle-checked queries.
  *  - `sql`: compose built-ins (crossJoin + codegen'd fold + window) — the
  *    plan Catalyst can reason about; same bits as "fold".
  *  - `lsh`: spark.ml BucketedRandomProjectionLSH approximate join for
  *    corpus-too-big-to-broadcast scale (rank among returned candidates).
  *
  * Self-matches are INCLUDED (a corpus query finds itself at dist 0, as
  * FAISS does); consumers filter `neighbor_id =!= query_id` exactly where
  * the reference does (watermarking.py:307).
  */
object Knn {

  /** A driver/executor-local search index over one corpus: ids ascending,
    * row-major flat vectors, optional squared norms.
    */
  private[graft] final case class FlatIndex(ids: Array[Long], flat: Array[Float],
                                            sqNorms: Array[Double])

  private def sqNormsOf(flat: Array[Float], n: Int, d: Int): Array[Double] = {
    val a = new Array[Double](n)
    var j = 0
    while (j < n) {
      var s = 0.0; var t = 0
      while (t < d) { val v = flat(j * d + t).toDouble; s += v * v; t += 1 }
      a(j) = s; j += 1
    }
    a
  }

  private def buildIndex(rows: Array[(Long, Array[Float])], needNorms: Boolean): FlatIndex = {
    val sorted = rows.sortBy(_._1)
    val n = sorted.length
    require(n > 0, "empty corpus")
    val d    = sorted(0)._2.length
    val ids  = sorted.map(_._1)
    val flat = new Array[Float](n * d)
    var i = 0
    while (i < n) { System.arraycopy(sorted(i)._2, 0, flat, i * d, d); i += 1 }
    FlatIndex(ids, flat, if (needNorms) sqNormsOf(flat, n, d) else null)
  }

  /** The broadcast regime's TOTAL memory wall. The per-group wall
    * (exactGrouped's `maxIndexRows`) bounds one index's scan cost but not
    * the RESIDENT SET — the sum of every index the driver builds and every
    * executor hosts — and `n ≤ Int.MaxValue` alone sits far above driver
    * memory (a 10⁸-row × d=64 corpus is ~26 GB of flat floats). This wall
    * fails LOUDLY, before any large allocation (exact: on its probe;
    * exactGrouped: the moment the first streamed row reveals the
    * dimension) — naming the families that carry
    * the workload beyond the broadcast regime instead of letting the
    * driver OOM. `graft.knn.broadcastMaxBytes` (default 2 GiB — a
    * comfortable slice of one executor's memory, the quantity a broadcast
    * must fit in) is a session conf so deployments size it to their
    * executors.
    */
  private def checkBroadcastBudget(totalRows: Long, d: Int, needNorms: Boolean,
                                   budget: Long, what: String): Unit = {
    val bytes = indexBytes(totalRows, d, needNorms)
    if (bytes > budget) throw new IllegalStateException(
      f"$what: the broadcast index needs at least $bytes%,d bytes ($totalRows%,d probed rows × " +
        f"d=$d) — over graft.knn.broadcastMaxBytes=$budget%,d. The exact " +
        "broadcast regime is for corpora that fit one executor; beyond it, " +
        "use the scale families: graft.ann.Ann.ivfDetSearch (IVF inverted " +
        "lists, partition-pruned by nprobe), Knn.lsh/lshDet (bucketed LSH " +
        "join), or graft.ann.GraphAnn (beam search).")
  }

  private def broadcastBudget(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("graft.knn.broadcastMaxBytes", (2L << 30).toString).toLong

  /** Resident bytes of a FlatIndex: flat floats + id (+ norm). */
  private[graft] def indexBytes(rows: Long, d: Int, needNorms: Boolean): Long =
    rows * (d.toLong * 4 + 8 + (if (needNorms) 8 else 0))

  /** The same wall as a regime test instead of an error: true when a
    * broadcast of `bytes` fits `graft.knn.broadcastMaxBytes`. Other
    * operators with an in-task regime (GraphAnn's fused traversal) dispatch
    * on it, so the session has one broadcast budget.
    */
  private[graft] def fitsBroadcast(spark: org.apache.spark.sql.SparkSession, bytes: Long): Boolean =
    bytes <= broadcastBudget(spark)

  /** Rows a probe reads per partition before it stops: an index row costs
    * at least `minRowBytes`, so past this many the input is over the wall
    * whatever else it holds.
    */
  private[graft] def rowCap(spark: org.apache.spark.sql.SparkSession, minRowBytes: Long): Long =
    broadcastBudget(spark) / minRowBytes + 1

  /** What the one probe job learns about a corpus (vec_id, embedding)
    * before any collect: rows, non-NULL embeddings, and their min/max
    * dimension. Each partition folds its rows locally and stops after
    * `rowCap` rows (8 bytes: an index row holds at least its id), so no
    * partition costs more than the budget admits and nothing shuffles;
    * once `rows` reaches that cap it is only a lower bound, already over
    * the wall.
    */
  private[graft] final case class CorpusShape(rows: Long, nonNull: Long, minDim: Int, maxDim: Int) {
    /** Every row has an embedding of one dimension: a FlatIndex holds the
      * corpus row for row.
      */
    def uniform: Boolean = rows > 0 && nonNull == rows && minDim == maxDim
  }

  private[graft] def probeCorpus(corpus: DataFrame): CorpusShape = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cap = rowCap(spark, 8)
    val parts = corpus
      .select(when(col("embedding").isNull, -1).otherwise(size(col("embedding"))))
      .as[Int]
      .mapPartitions { it =>
        var n = 0L; var nn = 0L; var lo = Int.MaxValue; var hi = -1
        while (n < cap && it.hasNext) {
          val d = it.next()
          n += 1
          if (d >= 0) { nn += 1; lo = math.min(lo, d); hi = math.max(hi, d) }
        }
        Iterator((n, nn, lo, hi))
      }.collect()
    CorpusShape(parts.map(_._1).sum, parts.map(_._2).sum,
      parts.map(_._3).foldLeft(Int.MaxValue)(math.min), parts.map(_._4).foldLeft(-1)(math.max))
  }

  /** Brings `rows` to the driver as one packed block per partition in as
    * few jobs as the driver's result cap (`spark.driver.maxResultSize`)
    * allows for an input of `bytes`: the partitions split into contiguous
    * ranges of about half the cap, one job each (a single job below it,
    * with every partition's task in parallel), and each block goes to
    * `take` in partition order and is released before the next job runs.
    * An input with fewer partitions than jobs is repartitioned first.
    */
  private[graft] def fetchPacked[T, B: scala.reflect.ClassTag](rows: org.apache.spark.sql.Dataset[T],
                                                               bytes: Long)(pack: Iterator[T] => B)(
                                                               take: B => Unit): Unit = {
    val sc = rows.sparkSession.sparkContext
    val cap = sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    val jobs = if (cap <= 0) 1 else math.max(1L, (2 * bytes + cap - 1) / cap).toInt
    val rdd = rows.rdd
    val src = if (rdd.getNumPartitions >= jobs) rdd else rdd.repartition(jobs)
    val blocks = src.mapPartitions(it => Iterator(pack(it)))
    val n = blocks.getNumPartitions
    for (j <- 0 until jobs) {
      val got = sc.runJob(blocks, (it: Iterator[B]) => it.next(),
        (n.toLong * j / jobs).toInt until (n.toLong * (j + 1) / jobs).toInt)
      for (i <- got.indices) { take(got(i)); got(i) = null.asInstanceOf[B] }
    }
  }

  /** A probed corpus as a driver-side FlatIndex: each partition packs its
    * rows into primitive (ids, flat) arrays — failing on a NULL or
    * off-dimension embedding — the blocks arrive through `fetchPacked`
    * into pre-sized arrays, and `finishIndex` id-sorts them. No boxed
    * driver rows; peak driver memory is ~2× the index (the arrival arrays
    * plus the sorted copy, each block freed once copied). Callers check
    * the wall on `shape` first.
    */
  private[graft] def collectIndex(corpus: DataFrame, shape: CorpusShape,
                                  needNorms: Boolean): FlatIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(shape.rows > 0, "empty corpus")
    require(shape.rows <= Int.MaxValue, s"broadcast-regime corpus too large: ${shape.rows} rows")
    val n = shape.rows.toInt
    val d = shape.maxDim
    val ids0 = new Array[Long](n)
    val flat0 = new Array[Float](n * d)
    var i = 0
    fetchPacked(corpus.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])],
      indexBytes(n, d, needNorms = false)) { it =>
      val ids = Array.newBuilder[Long]; val flat = Array.newBuilder[Float]
      it.foreach { case (id, v) =>
        require(v != null && v.length == d,
          s"index build: vec_id $id has a NULL or non-$d-dimensional embedding")
        ids += id; flat ++= v
      }
      (ids.result(), flat.result())
    } { case (ids, flat) =>
      require(i + ids.length <= n, "corpus grew during index build")
      System.arraycopy(ids, 0, ids0, i, ids.length)
      System.arraycopy(flat, 0, flat0, i * d, flat.length)
      i += ids.length
    }
    require(i == n, s"corpus shrank during index build: expected $n rows, got $i")
    finishIndex(ids0, flat0, n, d, needNorms)
  }

  /** Shared tail of the streamed builds: id-sort via an index permutation
    * (bit-identical ordering to buildIndex's rows.sortBy(_._1)) + norms.
    */
  private def finishIndex(ids0: Array[Long], flat0: Array[Float], n: Int, d: Int,
                          needNorms: Boolean): FlatIndex = {
    val perm = Array.range(0, n).sortBy(ids0(_))
    val ids  = new Array[Long](n)
    val flat = new Array[Float](n * d)
    var j = 0
    while (j < n) {
      val s = perm(j)
      ids(j) = ids0(s)
      System.arraycopy(flat0, s * d, flat, j * d, d)
      j += 1
    }
    FlatIndex(ids, flat, if (needNorms) sqNormsOf(flat, n, d) else null)
  }

  /** One query against one FlatIndex: bounded worst-first heap, returns
    * (neighbor_id, score) sorted by (score asc/desc, id). Shared by exact()
    * and exactGrouped(); the "fold" kernels stay bit-identical to the DuckDB
    * lambda folds.
    */
  private def searchOne(q: Array[Float], idx: FlatIndex, k: Int,
                        maxim: Boolean, fastL2: Boolean, fold: Boolean): Array[(Long, Double)] = {
    val ids = idx.ids; val flat = idx.flat; val sqNorms = idx.sqNorms
    val n  = ids.length
    val dd = if (n == 0) 0 else flat.length / n
    require(n == 0 || q.length == dd, s"Knn: query dimension ${q.length} != corpus dimension $dd")
    val kk = math.min(k, n)
    val heapD = new Array[Double](kk) // bounded "worst-first" heap
    val heapI = new Array[Int](kk)
    var size  = 0
    @inline def worse(a: Int, b: Int): Boolean = {
      val da = heapD(a); val db = heapD(b)
      if (da != db) { if (maxim) da < db else da > db }
      else ids(heapI(a)) > ids(heapI(b))
    }
    @inline def swap(a: Int, b: Int): Unit = {
      val td = heapD(a); heapD(a) = heapD(b); heapD(b) = td
      val ti = heapI(a); heapI(a) = heapI(b); heapI(b) = ti
    }
    @inline def siftDown(): Unit = {
      var r  = 0
      var go = true
      while (go) {
        val l = 2 * r + 1; val rt = l + 1
        var m = r
        if (l < size && worse(l, m)) m = l
        if (rt < size && worse(rt, m)) m = rt
        if (m == r) go = false else { swap(m, r); r = m }
      }
    }
    @inline def siftUp(start: Int): Unit = {
      var c = start
      while (c > 0 && worse(c, (c - 1) / 2)) { swap(c, (c - 1) / 2); c = (c - 1) / 2 }
    }
    // query norm (fast-l2 / cosine)
    var qn = 0.0
    if (sqNorms != null) {
      var t = 0
      while (t < q.length) { val v = q(t).toDouble; qn += v * v; t += 1 }
    }
    var j = 0
    while (j < n) {
      val off = j * dd
      var score = 0.0
      if (maxim || fastL2) {
        var dot = 0.0
        if (fold) {
          // sequential fold — bit-identical to the DuckDB lambda fold
          var t = 0
          while (t < dd) { dot += q(t).toDouble * flat(off + t).toDouble; t += 1 }
        } else {
          // unrolled dot product, 4 accumulators
          var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
          var t = 0
          val lim = dd - 3
          while (t < lim) {
            s0 += q(t).toDouble * flat(off + t).toDouble
            s1 += q(t + 1).toDouble * flat(off + t + 1).toDouble
            s2 += q(t + 2).toDouble * flat(off + t + 2).toDouble
            s3 += q(t + 3).toDouble * flat(off + t + 3).toDouble
            t += 4
          }
          dot = s0 + s1 + s2 + s3
          while (t < dd) { dot += q(t).toDouble * flat(off + t).toDouble; t += 1 }
        }
        if (maxim) { // cosine similarity
          val den = math.sqrt(qn) * math.sqrt(sqNorms(j))
          score = if (den == 0.0) 0.0 else dot / den
        } else { // fast l2
          val sq = qn + sqNorms(j) - 2.0 * dot
          score = math.sqrt(if (sq < 0.0) 0.0 else sq)
        }
      } else {
        // "fold": bit-exact sequential (q_i - c_i)^2 accumulation
        score = math.sqrt(VectorOps.sqDist(q, flat, off))
      }
      val accept =
        if (size < kk) true
        else if (maxim) score > heapD(0) || (score == heapD(0) && ids(j) < ids(heapI(0)))
        else score < heapD(0) || (score == heapD(0) && ids(j) < ids(heapI(0)))
      if (accept) {
        if (size < kk) { heapD(size) = score; heapI(size) = j; size += 1; siftUp(size - 1) }
        else { heapD(0) = score; heapI(0) = j; siftDown() }
      }
      j += 1
    }
    (0 until size).sortBy(x => (if (maxim) -heapD(x) else heapD(x), ids(heapI(x))))
      .map(x => (ids(heapI(x)), heapD(x))).toArray
  }

  /** Top-k per query over a broadcast corpus; map-only, no shuffle. */
  def exact(queries: DataFrame, corpus: DataFrame, k: Int,
            metric: String = "l2", kernel: String = "fast"): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val maxim  = metric != "l2" // similarity metrics rank descending
    val fastL2 = metric == "l2" && kernel == "fast"
    val fold   = kernel == "fold"
    // The byte wall fires on the probe, BEFORE any row reaches the driver.
    // The probe reads every row's dimension (a NULL or atypically narrow
    // first row must not under-check the wall) but stops each partition
    // at the row count the budget admits.
    val needNorms = fastL2 || metric == "cosine"
    val shape = probeCorpus(corpus)
    if (shape.rows > 0) {
      require(shape.nonNull > 0,
        s"Knn.exact: every probed corpus embedding is NULL (${shape.rows} rows) — " +
          "nothing to index")
      checkBroadcastBudget(shape.rows, shape.maxDim, needNorms, broadcastBudget(spark), "Knn.exact")
    }
    val idx = collectIndex(corpus, shape, needNorms)
    val bc    = spark.sparkContext.broadcast(idx)
    val parts = spark.sparkContext.defaultParallelism

    queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .repartition(parts)
      .mapPartitions { it =>
        it.flatMap { case (qid, q) =>
          searchOne(q, bc.value, k, maxim, fastL2, fold)
            .iterator.zipWithIndex.map { case ((nid, d), r) => (qid, nid, d, r + 1) }
        }
      }
      .toDF("query_id", "neighbor_id", "dist", "rank")
  }

  /** Grouped multi-index search: queries and corpus both carry a DOUBLE
    * group column; each query searches ONLY its group's corpus rows. One
    * broadcast and one map-only job replace |groups| separate kNN passes —
    * the shape for per-tenant / per-experiment-cell batched search (the
    * impact sweep runs its whole threshold grid through one of these).
    *
    * SKEW GUARD: group sizes are driver-known, so a group larger than
    * `maxIndexRows` is split across ceil(n/maxIndexRows) keyed-hash
    * sub-indexes. Each query of a split group becomes one work unit PER
    * sub-index BEFORE the repartition, so a hot group's scan cost spreads
    * over that many tasks instead of serializing inside whichever few tasks
    * hold its queries; a small window merge (|queries|·subs·k rows) then
    * re-ranks the per-sub top-ks to the bit-identical global result. When
    * no group exceeds the bound the original zero-shuffle map-only plan is
    * kept unchanged.
    *
    * The per-group wall bounds one index's SCAN; the RESIDENT SET (the sum
    * of every group index, riding one broadcast) is bounded by the same
    * total byte budget as `exact` (`graft.knn.broadcastMaxBytes`) — but
    * instead of failing, grouped search DISPATCHES past the budget to
    * `exactGroupedCogrouped` (executor-side build, bit-identical results).
    */
  def exactGrouped(queries: DataFrame, corpus: DataFrame, k: Int, groupCol: String,
                   metric: String = "l2", kernel: String = "fast",
                   maxIndexRows: Int = 1 << 20): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val maxim  = metric != "l2"
    val fastL2 = metric == "l2" && kernel == "fast"
    val fold   = kernel == "fold"
    val needNorms = fastL2 || metric == "cosine"
    // streamed per-group build (same discipline as exact()): pre-count each
    // group, then stream rows into pre-sized primitive arrays — never holds
    // the corpus as boxed driver rows alongside the indexes. The aggregate
    // also carries the DIMENSION (first(size(embedding)) per group) so the
    // regime dispatch below needs no extra probe job.
    val countRows = corpus.groupBy(col(groupCol).cast("double").as("__g"))
      .agg(count(lit(1)).as("n"), first(size(col("embedding"))).as("d"))
      .as[(Double, Long, Int)].collect()
    val counts = countRows.map { case (g, n, _) => g -> n }.toMap
    val subsOf = counts.map { case (g, n) =>
      g -> math.max(1, ((n + maxIndexRows - 1) / maxIndexRows).toInt)
    }
    val anySplit = subsOf.values.exists(_ > 1)
    val ds = corpus.select(col(groupCol).cast("double"), col("vec_id"), col("embedding"))
      .as[(Double, Long, Array[Float])]
    val parts = spark.sparkContext.defaultParallelism
    import scala.jdk.CollectionConverters._

    // REGIME DISPATCH on the TOTAL resident set: per-group walls bound one
    // index, not the SUM of every group index riding one broadcast. Past
    // the byte budget the search routes to the executor-side cogrouped
    // kernel — bit-identical results (KnnWallSpec gates it), no driver
    // funnel, per-TASK memory bounded by one sub-index. The in-stream
    // checkBroadcastBudget below stays as the belt-and-braces for direct
    // regressions of this dispatch.
    val totalRows = counts.values.sum
    val budget    = broadcastBudget(spark)
    val dim       = countRows.headOption.map(_._3).getOrElse(0)
    if (indexBytes(totalRows, dim, needNorms) > budget)
      return exactGroupedCogrouped(queries, corpus, k, groupCol, metric,
        kernel, maxIndexRows, precomputedCounts = Some(counts))

    if (!anySplit) {
      val fill = scala.collection.mutable.HashMap[Double, (Array[Long], Array[Float], Array[Int])]()
      var dDim = -1
      ds.coalesce(4).toLocalIterator().asScala.foreach { case (g, id, v) =>
        if (dDim < 0) {
          dDim = v.length
          checkBroadcastBudget(totalRows, dDim, needNorms, budget, "Knn.exactGrouped")
        }
        val (ids0, flat0, cur) = fill.getOrElseUpdate(g, {
          val n = counts(g).toInt
          (new Array[Long](n), new Array[Float](n * dDim), Array(0))
        })
        val i = cur(0)
        require(i < ids0.length, s"group $g grew during index build")
        ids0(i) = id
        System.arraycopy(v, 0, flat0, i * dDim, dDim)
        cur(0) = i + 1
      }
      val byGroup = fill.map { case (g, (ids0, flat0, cur)) =>
        require(cur(0) == ids0.length, s"group $g shrank during index build")
        g -> finishIndex(ids0, flat0, cur(0), dDim, needNorms)
      }.toMap
      val bc = spark.sparkContext.broadcast(byGroup)
      queries.select(col(groupCol).cast("double"), col("vec_id"), col("embedding"))
        .as[(Double, Long, Array[Float])]
        .repartition(parts)
        .mapPartitions { it =>
          it.flatMap { case (g, qid, q) =>
            // a query group absent from the corpus contributes no neighbors
            // (e.g. an IVF probe of a cluster emptied by assignment ties) —
            // same convention as the split branch's absent (group, sub)
            bc.value.get(g).iterator.flatMap { idx =>
              searchOne(q, idx, k, maxim, fastL2, fold)
                .iterator.zipWithIndex.map { case ((nid, d), r) => (g, qid, nid, d, r + 1) }
            }
          }
        }
        .toDF(groupCol, "query_id", "neighbor_id", "dist", "rank")
    } else {
      // split build: per-(group, sub) growable primitive builders (sub counts
      // are hash-multinomial, not pre-known; sizeHint keeps regrowth rare)
      final case class Grow(ids: scala.collection.mutable.ArrayBuilder.ofLong,
                            flat: scala.collection.mutable.ArrayBuilder.ofFloat,
                            var n: Int)
      val fill = scala.collection.mutable.HashMap[(Double, Int), Grow]()
      var dDim = -1
      ds.coalesce(4).toLocalIterator().asScala.foreach { case (g, id, v) =>
        if (dDim < 0) {
          dDim = v.length
          checkBroadcastBudget(totalRows, dDim, needNorms, budget, "Knn.exactGrouped")
        }
        val subs = subsOf(g)
        val sub  = if (subs == 1) 0 else graft.functions.Hashing.md5Mod(s"knnsub|$id", subs.toLong).toInt
        val b = fill.getOrElseUpdate((g, sub), {
          val ib = new scala.collection.mutable.ArrayBuilder.ofLong
          val fb = new scala.collection.mutable.ArrayBuilder.ofFloat
          val hint = (counts(g) / subs).toInt + 16
          ib.sizeHint(hint); fb.sizeHint(hint * v.length)
          Grow(ib, fb, 0)
        })
        b.ids += id
        b.flat ++= v
        b.n += 1
      }
      val byKey = fill.map { case (key, b) =>
        key -> finishIndex(b.ids.result(), b.flat.result(), b.n, dDim, needNorms)
      }.toMap
      val bc     = spark.sparkContext.broadcast(byKey)
      val bcSubs = spark.sparkContext.broadcast(subsOf)
      val perSub = queries.select(col(groupCol).cast("double"), col("vec_id"), col("embedding"))
        .as[(Double, Long, Array[Float])]
        // getOrElse, not apply: a query group absent from the corpus must
        // contribute no neighbors in EVERY regime (the cogrouped branch
        // already does) — the byte-budget dispatch boundary between the two
        // must stay invisible, never a crash-vs-empty behavior switch
        .flatMap { case (g, qid, q) => (0 until bcSubs.value.getOrElse(g, 0)).map(s => (g, s, qid, q)) }
        .repartition(parts)
        .mapPartitions { it =>
          it.flatMap { case (g, s, qid, q) =>
            // hash-multinomial sub assignment can leave a (group, sub) bucket
            // empty for small groups under a small maxIndexRows — an absent
            // sub contributes no neighbors, so the merged result is unchanged
            bc.value.get((g, s)).iterator.flatMap { idx =>
              searchOne(q, idx, k, maxim, fastL2, fold)
                .iterator.map { case (nid, d) => (g, qid, nid, d) }
            }
          }
        }
        .toDF(groupCol, "query_id", "neighbor_id", "dist")
      val w = Window.partitionBy(col(groupCol), col("query_id"))
        .orderBy(if (maxim) col("dist").desc else col("dist").asc, col("neighbor_id"))
      perSub.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(groupCol, "query_id", "neighbor_id", "dist", "rank")
    }
  }

  /** EXECUTOR-SIDE grouped search — the beyond-broadcast regime of
    * exactGrouped. The broadcast kernel streams the whole corpus through
    * the driver (toLocalIterator) and ships the index-set as ONE broadcast:
    * unbeatable while it fits (zero shuffle, map-only), a driver/executor
    * memory wall when it doesn't. This shape removes the driver from the
    * data path entirely: corpus and queries SHUFFLE on (group, sub), one
    * cogroup task builds its (group, sub)'s flat index from its own
    * partition and scans its queries through the SAME searchOne kernel —
    * per-task memory is one sub-index (≤ maxIndexRows × d floats), never
    * the resident set, so total corpus size is unbounded. The same
    * hash-multinomial sub split as the broadcast branch spreads a hot
    * group across tasks; the same (dist, id)-ordered window merge re-ranks
    * per-sub top-ks — results are BIT-IDENTICAL to the broadcast kernel
    * (same index sort, same heap, same tie-breaks; KnnWallSpec gates the
    * equality), so the exactGrouped dispatch boundary is invisible.
    *
    * Cost shape vs broadcast: one full shuffle of corpus + |subs|-amplified
    * queries, vs one driver round-trip + broadcast per call. Broadcast wins
    * when the corpus is small and reused across many queries; cogroup wins
    * when the corpus is the big side — exactly the regimes the dispatch
    * picks between (JoinScaleProbe measures the crossover).
    */
  def exactGroupedCogrouped(queries: DataFrame, corpus: DataFrame, k: Int,
                            groupCol: String, metric: String = "l2",
                            kernel: String = "fast",
                            maxIndexRows: Int = 1 << 20,
                            precomputedCounts: Option[Map[Double, Long]] = None): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val maxim  = metric != "l2"
    val fastL2 = metric == "l2" && kernel == "fast"
    val fold   = kernel == "fold"
    val needNorms = fastL2 || metric == "cosine"
    // group sizes are driver-known (one row per group — the same bounded
    // aggregate the broadcast branch pays) to derive the skew splits;
    // exactGrouped's dispatch passes its own counts so the beyond-budget
    // (largest-corpus) path never re-aggregates the corpus it just counted
    val counts = precomputedCounts.getOrElse(
      corpus.groupBy(col(groupCol).cast("double").as("__g")).count()
        .as[(Double, Long)].collect().toMap)
    val subsOf = counts.map { case (g, n) =>
      g -> math.max(1, ((n + maxIndexRows - 1) / maxIndexRows).toInt)
    }
    val bcSubs = spark.sparkContext.broadcast(subsOf)
    val ck = corpus.select(col(groupCol).cast("double"), col("vec_id"), col("embedding"))
      .as[(Double, Long, Array[Float])]
      .map { case (g, id, v) =>
        val subs = bcSubs.value(g)
        val sub  = if (subs == 1) 0
          else graft.functions.Hashing.md5Mod(s"knnsub|$id", subs.toLong).toInt
        (g, sub, id, v)
      }
    val qk = queries.select(col(groupCol).cast("double"), col("vec_id"), col("embedding"))
      .as[(Double, Long, Array[Float])]
      .flatMap { case (g, id, v) =>
        // a query group absent from the corpus contributes no neighbors
        (0 until bcSubs.value.getOrElse(g, 0)).map(s => (g, s, id, v))
      }
    val perSub = ck.groupByKey(r => (r._1, r._2))
      .cogroup(qk.groupByKey(r => (r._1, r._2))) { case ((g, _), cit, qit) =>
        val rows = cit.map(r => (r._3, r._4)).toArray
        if (rows.isEmpty) Iterator.empty // empty hash-multinomial bucket
        else {
          val idx = buildIndex(rows, needNorms) // id-sorted: same order as finishIndex
          qit.flatMap { case (_, _, qid, q) =>
            searchOne(q, idx, k, maxim, fastL2, fold)
              .iterator.map { case (nid, dist) => (g, qid, nid, dist) }
          }
        }
      }
      .toDF(groupCol, "query_id", "neighbor_id", "dist")
    val w = Window.partitionBy(col(groupCol), col("query_id"))
      .orderBy(if (maxim) col("dist").desc else col("dist").asc, col("neighbor_id"))
    perSub.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(groupCol, "query_id", "neighbor_id", "dist", "rank")
  }

  /** Exact top-k against a corpus that differs from `corpus` only in the
    * rows of `modified` (replacement (vec_id, embedding) versions of a SMALL
    * id subset — watermark carriers, attacked rows). Instead of re-scanning
    * the full corpus per query, the result is MERGED from the precomputed
    * `base` pass (top-`depth` of the same queries over the original corpus,
    * same kernel) and one tiny kNN pass against just the modified rows:
    *
    *   after-top-k(q) = top-k of (base(q) minus modified ids) ∪ kNN(q, modified)
    *
    * This is EXACT, not approximate, for every query that keeps ≥ k
    * unmodified survivors in its top-`depth`: every unmodified row outside
    * the base top-`depth` orders strictly after the k-th survivor under the
    * (dist, id) sort, so it cannot enter the merged top-k. Queries that fall
    * below k survivors (possible when modified rows crowd one query's
    * top-depth — e.g. a small corpus with a fixed-size modified set) are
    * detected by ONE aggregate over the (cached) base frame and re-searched
    * in full against the patched corpus; the merge never approximates.
    * Unmodified rows keep their base distances (same kernel ⇒
    * bit-identical), so the result equals a full
    * `exact(queries, patched, k, kernel)` recompute bit-for-bit at a cost of
    * |Q|·|modified| instead of |Q|·|corpus| distance evaluations.
    */
  def topKAfterModify(queries: DataFrame, corpus: DataFrame, base: DataFrame,
                      modified: DataFrame, k: Int,
                      kernel: String = "fold"): DataFrame = {
    val modIds = modified.select(col("vec_id"))
    val surv = base
      .join(broadcast(modIds), base("neighbor_id") === modIds("vec_id"), "left_anti")
      .select("query_id", "neighbor_id", "dist")
    val modTop = exact(queries, modified, k, kernel = kernel)
      .select("query_id", "neighbor_id", "dist")
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("neighbor_id"))
    val merged = surv.unionByName(modTop)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    // exactness guard: one flagged aggregate over the base frame finds
    // queries left with < k unmodified survivors
    val flagged = modified.select(col("vec_id").as("__mid"), lit(1).as("__m"))
    val shortQ = base
      .join(broadcast(flagged), base("neighbor_id") === col("__mid"), "left")
      .groupBy("query_id")
      .agg(sum(when(col("__m").isNull, 1).otherwise(0)).as("__surv"))
      .filter(col("__surv") < k).select(col("query_id"))
    if (shortQ.isEmpty) merged
    else {
      val patched = corpus.select(col("vec_id"), col("embedding"))
        .join(broadcast(modIds), Seq("vec_id"), "left_anti")
        .unionByName(modified.select(col("vec_id"), col("embedding")))
      val fbQ = queries.join(broadcast(shortQ),
        queries("vec_id") === shortQ("query_id"), "left_semi")
      val fb = exact(fbQ, patched, k, kernel = kernel)
        .select("query_id", "neighbor_id", "dist", "rank")
      merged.join(broadcast(shortQ), Seq("query_id"), "left_anti")
        .unionByName(fb)
    }
  }

  /** Built-ins-only variant (crossJoin + left-to-right fold + window):
    * same (dist, id) ordering as the "fold" kernel bit-for-bit.
    */
  def sql(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("neighbor_id"))
    q.crossJoin(c)
      .withColumn("dist", VectorOps.l2Col(col("qe"), col("ce")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "dist", "rank")
  }

  private val toVecUdf = udf((a: Seq[Float]) =>
    org.apache.spark.ml.linalg.Vectors.dense(a.map(_.toDouble).toArray))

  /** The reusable LSH artifact: fitted random projections + the PRE-HASHED
    * corpus. Like the IVF assignment, this is a write-once batch index —
    * fitting and corpus hashing must not be paid per query batch.
    */
  def lshFit(corpus: DataFrame, bucketLength: Double = 2.0, numHashTables: Int = 3)
      : (org.apache.spark.ml.feature.BucketedRandomProjectionLSHModel, DataFrame) = {
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    val c = corpus.select(col("vec_id"), toVecUdf(col("embedding")).as("features"))
    val model = new BucketedRandomProjectionLSH()
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setInputCol("features").setOutputCol("hashes").setSeed(42L)
      .fit(c)
    (model, model.transform(c))
  }

  /** Approximate join path for corpora beyond broadcast reach:
    * random-hyperplane bucketing via spark.ml, then exact re-rank within the
    * candidate set. Recall < 1 by construction; `numHashTables` trades
    * shuffle volume for recall. Pass `prebuilt` (from lshFit) to reuse the
    * fitted model and the already-hashed corpus across query batches.
    */
  def lsh(queries: DataFrame, corpus: DataFrame, k: Int,
          bucketLength: Double = 2.0, numHashTables: Int = 3,
          maxDist: Double = Double.MaxValue,
          prebuilt: Option[(org.apache.spark.ml.feature.BucketedRandomProjectionLSHModel, DataFrame)] = None)
      : DataFrame = {
    val q = queries.select(col("vec_id"), toVecUdf(col("embedding")).as("features"))
    val (model, c) = prebuilt.getOrElse(lshFit(corpus, bucketLength, numHashTables))
    val joined = model.approxSimilarityJoin(q, c, maxDist, "dist")
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("neighbor_id"))
    joined.select(
        col("datasetA.vec_id").as("query_id"),
        col("datasetB.vec_id").as("neighbor_id"),
        col("dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // ---- Deterministic LSH (oracle-replayable, zero spark.ml dependency) ----

  /** Keyed random-projection table: r(t)(j) ~ N(0,1) from md5 Box–Muller on
    * "seed|t|j", float32-quantized so the JVM and libm transcendental paths
    * collapse to the same value (the attack_insert technique), then widened
    * back to double for the dot products.
    */
  def lshDetProjections(numHashTables: Int, d: Int, seed: String): Array[Array[Double]] =
    Array.tabulate(numHashTables, d)((t, j) =>
      graft.functions.Hashing.gauss(s"$seed|$t|$j").toFloat.toDouble)

  /** (vec_id, t, bucket) per hash table: bucket = floor(dot(e, r_t)/width),
    * the dot a sequential left-to-right double fold (bit-identical to the
    * DuckDB list_reduce replay). Map-only; one row per (vector, table).
    */
  def lshDetHash(df: DataFrame, proj: Array[Array[Double]], bucketLength: Double): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(proj)
    val bucketsUdf = udf((e: Seq[Float]) => {
      val rs = bc.value
      Array.tabulate(rs.length) { t =>
        val r = rs(t)
        var s = 0.0
        var i = 0
        while (i < r.length) { s += e(i).toDouble * r(i); i += 1 }
        math.floor(s / bucketLength).toLong
      }
    })
    df.select(col("vec_id"), posexplode(bucketsUdf(col("embedding"))).as(Seq("t", "bucket")))
  }

  /** Random-hyperplane bucket join with keyed (SQL-replayable) projections:
    * hash both sides, equi-join on (table, bucket), dedup candidate pairs,
    * exact fold-L2 re-rank. Same candidate-generation plan shape as `lsh`
    * (spark.ml), but every draw is a keyed md5 so the oracle replays it.
    */
  def lshDet(queries: DataFrame, corpus: DataFrame, k: Int, d: Int,
             bucketLength: Double = 1.0, numHashTables: Int = 5,
             seed: String = "lsh",
             prehashed: Option[DataFrame] = None): DataFrame = {
    val proj = lshDetProjections(numHashTables, d, seed)
    val ch = prehashed.getOrElse(lshDetHash(corpus, proj, bucketLength))
      .withColumnRenamed("vec_id", "neighbor_id")
    val qh = lshDetHash(queries, proj, bucketLength)
      .withColumnRenamed("vec_id", "query_id")
    val cand = qh.join(ch, Seq("t", "bucket"))
      .select("query_id", "neighbor_id").distinct()
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("neighbor_id"))
    cand
      .join(queries.select(col("vec_id").as("query_id"), col("embedding").as("qe")), "query_id")
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce")), "neighbor_id")
      .withColumn("dist", VectorOps.l2Col(col("qe"), col("ce")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "dist", "rank")
  }
}
