package graft.ann

import graft.functions.VectorOps
import graft.knn.Knn
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two physical paths, one result shape (query_id, neighbor_id, score, rank):
  *  - `bruteCosine`: the exact baseline — Knn.exact with the cosine kernel
  *    (broadcast corpus, map-only; right up to ~10^7 corpus rows).
  *  - `ivf`: the 100 TB path — a coarse k-means quantizer (spark.ml, seeded)
  *    splits the corpus into nlist partitions; queries probe their nprobe
  *    nearest centroids and scan only those partitions. The corpus-side scan
  *    becomes a co-partitioned join on cluster id instead of a broadcast:
  *    shuffle volume drops by ~nprobe/nlist, and cluster assignment is a
  *    write-once batch artifact reusable across query batches.
  */
object Ann {

  // memoized per DataFrame identity (same pattern as Tvp.nRows): the
  // driver-known regime check costs one count job per corpus frame, not one
  // per search call — and for the persisted index artifact the count is a
  // parquet-metadata read
  private val rowCounts =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, java.lang.Long]())
  private def nRows(df: DataFrame): Long =
    rowCounts.computeIfAbsent(df, d => d.count()).longValue()

  def bruteCosine(queries: DataFrame, corpus: DataFrame, k: Int,
                  kernel: String = "fast"): DataFrame =
    Knn.exact(queries, corpus, k, metric = "cosine", kernel = kernel)
      .withColumnRenamed("dist", "score")

  private def toMlVec = udf((a: Seq[Float]) =>
    org.apache.spark.ml.linalg.Vectors.dense(a.map(_.toDouble).toArray))

  /** Fit the coarse quantizer + assign corpus rows to inverted lists.
    * Returns (centroids, assignedCorpus with `cluster` column).
    * Seeded random init + few Lloyd iterations: the quantizer only needs a
    * balanced space partition (IVF recall comes from nprobe, not centroid
    * optimality), and k-means|| init alone costs more driver-coordinated
    * passes than the refinement it saves here.
    */
  def ivfIndex(corpus: DataFrame, nlist: Int, seed: Long = 42L): (Array[Array[Double]], DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    val feat  = corpus.withColumn("features", toMlVec(col("embedding")))
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(5)
      .setInitMode("random").setTol(1e-3)
      .setFeaturesCol("features").fit(feat)
    val assigned = model.transform(feat)
      .withColumnRenamed("prediction", "cluster")
      .drop("features")
    (model.clusterCenters.map(_.toArray), assigned)
  }

  /** IVF query: probe the `nprobe` nearest inverted lists per query, exact
    * cosine re-rank within them. FIXTURE-REGIME ALTERNATE: this keeps the
    * probed-join shape (shuffles candidate vectors), which IvfScaleProbe
    * measured 15–50× slower than the grouped broadcast kernel at a 200k
    * corpus — production search is `ivfDetSearch`, which scans inverted
    * lists via Knn.exactGrouped instead. Kept as the spark.ml-quantizer
    * variant for the invariant tests.
    */
  def ivfSearch(queries: DataFrame, assignedCorpus: DataFrame,
                centroids: Array[Array[Double]], k: Int, nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val bc    = spark.sparkContext.broadcast(centroids)
    val probeUdf = udf((q: Seq[Float]) => {
      val cs = bc.value
      val d  = q.length
      val scored = cs.indices.map { c =>
        var s = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < d) {
          val a = q(i).toDouble; val b = cs(c)(i)
          s += a * b; na += a * a; nb += b * b; i += 1
        }
        (c, if (na == 0 || nb == 0) 0.0 else s / math.sqrt(na * nb))
      }
      scored.sortBy(x => (-x._2, x._1)).take(nprobe).map(_._1)
    })
    val probed = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .withColumn("cluster", explode(probeUdf(col("qe"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    probed.join(
        assignedCorpus.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("ce"), col("cluster")),
        Seq("cluster"))
      .withColumn("score", graft.functions.VectorOps.cosineCol(col("qe"), col("ce")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  // ---- Deterministic IVF (oracle-replayable, zero spark.ml dependency) ----

  /** Coarse centroids as a keyed-md5 sample of the corpus itself: cluster c
    * is the c-th corpus row in md5("seed|"+vec_id) order. Sampled data points
    * are a standard coarse-quantizer choice (IVF recall comes from nprobe,
    * not centroid optimality — see ivfIndex's note on Lloyd refinement), and
    * the keyed order makes the whole index closed-form SQL: centroid choice
    * is ORDER BY md5 LIMIT nlist, assignment and probe are fold-L2 argmins.
    * One tiny driver collect (nlist rows); the index stays write-once.
    */
  def ivfDetCentroids(corpus: DataFrame, nlist: Int, seed: String = "ivf"): Array[Array[Float]] =
    corpus.select(col("vec_id"), col("embedding"))
      .orderBy(md5(concat(lit(s"$seed|"), col("vec_id").cast("string"))), col("vec_id"))
      .limit(nlist)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)

  /** Deterministic Lloyd refinement of sampled centroids: `steps` rounds of
    * assign (fold-L2 argmin, ties to the lower id) → per-(cluster, dim)
    * mean. Means accumulate as exact integer MICROS sums (floor(v·10⁶+0.5))
    * so the refined float32 centroids are bit-identical across partition
    * counts and replayable in SQL — the same arithmetic the IVFADC index
    * build has used since r12, now a knob: `steps = 0` returns the sample
    * itself (the closed-form default — IVF recall comes from nprobe, not
    * centroid optimality), `steps ≥ 1` buys balanced cells at one
    * assign-pass + one (nlist × d)-row grouped aggregate per step. An
    * empty cell (possible only under bit-identical duplicate sample
    * vectors) keeps its previous point. The driver state is nlist × d
    * longs per step — bounded, never the corpus.
    */
  def lloydRefine(corpus: DataFrame, cents: Array[Array[Float]],
                  steps: Int): Array[Array[Float]] =
    if (steps <= 0) cents
    else {
      val cstat = ivfDetAssign(corpus, cents)
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("j", "v")))
        .groupBy("cluster", "j")
        .agg(sum(floor(col("v").cast("double") * lit(1000000.0) + lit(0.5))
          .cast("long")).as("m"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      cstat.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) =
          ((r.getLong(2).toDouble / r.getLong(3)) / 1000000.0).toFloat
      }
      lloydRefine(corpus, next, steps - 1)
    }

  /** Assign each corpus row to its nearest sampled centroid (ties to the
    * lower cluster id). Map-only over a broadcast of nlist vectors.
    */
  def ivfDetAssign(corpus: DataFrame, centroids: Array[Array[Float]]): DataFrame = {
    val bc = corpus.sparkSession.sparkContext.broadcast(centroids)
    val assignUdf = udf((e: Seq[Float]) => {
      val cs = bc.value
      val a  = e.toArray // one unboxing pass, not one per (centroid, dim) access
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        val d2 = VectorOps.sqDist(a, cs(c))
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      best
    })
    corpus.withColumn("cluster", assignUdf(col("embedding")))
  }

  /** Probe the nprobe nearest lists per query (fold-L2 to the sampled
    * centroids, ties to the lower id), exact fold-cosine re-rank within
    * them — expressed as a GROUPED BROADCAST-KERNEL search, not a row join.
    *
    * The earlier probed-join shape (probed queries ⋈ corpus on cluster →
    * cosine → global window) shuffled FULL embedding vectors of every
    * (query, probed-member) pair — at a 200k-corpus / nprobe=16 probe that
    * is ~25M joined rows × ~0.5 KB ≈ 13 GB of exchange, measured 15×
    * SLOWER than brute force (IvfScaleProbe). The inverted-list scan is
    * exactly Knn.exactGrouped's shape: per-cluster flat sub-indexes ride
    * one broadcast, each probed (query, cluster) pair is a map-side heap
    * scan, and only |Q|·nprobe·k (id, score) rows ever reach an exchange —
    * the tiny global merge window below. Per-cluster top-k loses nothing:
    * a row outside its own cluster's top-k has ≥ k better rows in that
    * cluster alone, so it can never enter the global top-k; ordering
    * (score desc, neighbor_id asc) matches searchOne's tie-break, keeping
    * results bit-identical to the join shape and the DuckDB oracle.
    * exactGrouped's skew guard also splits any oversized inverted list
    * across tasks — the piece the join shape had no answer for.
    *
    * REGIME GUARD: exactGrouped streams the WHOLE assigned corpus into
    * driver-side flat arrays and ships it as one broadcast — the same
    * driver-memory budget as Knn.exact, just grouped. Above
    * `graft.ann.broadcastMaxRows` (default 10^7 — Knn.exact's documented
    * broadcast regime) the inverted-list scan runs EXECUTOR-SIDE instead
    * (Knn.exactGroupedCogrouped, r17): corpus and probed queries shuffle
    * on cluster id, each task builds its own lists' flat sub-indexes and
    * scans with the SAME searchOne kernel — no driver in the data path,
    * per-task memory one sub-index, results bit-identical to the kernel
    * path (AnnMultimodalStreamSpec + the ann_ivf_join_topk oracle row gate
    * it). This retired the r12 probed equi-join fallback, which shuffled
    * full embedding vectors of every (query, probed-member) pair — the
    * cogrouped shape shuffles each corpus vector ONCE and each query
    * nprobe times, and scans lists with the heap kernel instead of a
    * window over materialized pair rows. (Knn.exactGrouped would also
    * self-dispatch past its byte budget; the row gate here is the
    * IVF-level knob the registered queries exercise.)
    */
  def ivfDetSearch(queries: DataFrame, assignedCorpus: DataFrame,
                   centroids: Array[Array[Float]], k: Int, nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val bc = spark.sparkContext.broadcast(centroids)
    val probeUdf = udf((q: Seq[Float]) => {
      val cs = bc.value
      val a  = q.toArray
      cs.indices.map(c => (VectorOps.sqDist(a, cs(c)), c))
        .sorted.take(nprobe).map(_._2).toArray
    })
    val probed = queries
      .select(col("vec_id"), col("embedding"))
      .withColumn("cluster", explode(probeUdf(col("embedding"))))
    val broadcastMax = spark.conf.get("graft.ann.broadcastMaxRows", "10000000").toLong
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist").desc, col("neighbor_id"))
    val lists = assignedCorpus.select(col("vec_id"), col("embedding"), col("cluster"))
    val per =
      (if (nRows(assignedCorpus) <= broadcastMax)
        Knn.exactGrouped(probed, lists, k, "cluster", metric = "cosine", kernel = "fold")
      else
        Knn.exactGroupedCogrouped(probed, lists, k, "cluster", metric = "cosine", kernel = "fold"))
        .select(col("query_id"), col("neighbor_id"), col("dist"))
    per
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("dist").as("score"), col("rank"))
  }

  /** Rank EVERY centroid per query by fold-L2 (ties to the lower cluster
    * id): (query_id, cluster, pr), pr = 1-based probe rank. Because
    * ivfDetSearch's probe set for any nprobe is exactly { pr ≤ nprobe },
    * one ranking serves a whole nprobe sweep — the accuracy/latency curve
    * of the index costs one map-only pass, not one search per sweep point.
    */
  def probeRanks(queries: DataFrame, centroids: Array[Array[Float]]): DataFrame = {
    val bc = queries.sparkSession.sparkContext.broadcast(centroids)
    val ranksUdf = udf((q: Seq[Float]) => {
      val cs = bc.value
      val a  = q.toArray
      cs.indices.map(c => (VectorOps.sqDist(a, cs(c)), c)).sorted
        .zipWithIndex.map { case ((_, c), i) => (c, i + 1) }
    })
    queries.select(col("vec_id").as("query_id"),
        explode(ranksUdf(col("embedding"))).as("pc"))
      .select(col("query_id"), col("pc._1").as("cluster"), col("pc._2").as("pr"))
  }

  /** Persist a deterministic IVF index (centroids + inverted-list
    * assignment) as parquet — the write-once artifact the 100 TB runbook
    * prescribes: one corpus version → one index directory, reusable across
    * query batches and sessions. Assignment is written bucketed-by-cluster
    * friendly (repartitioned on `cluster`) so a reader's probe join starts
    * co-located.
    */
  def ivfWrite(dir: String, centroids: Array[Array[Float]], assigned: DataFrame): Unit = {
    val spark = assigned.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    assigned.select("vec_id", "embedding", "cluster")
      .repartition(col("cluster"))
      .write.mode("overwrite").parquet(s"$dir/assigned")
  }

  /** Read a persisted IVF index back: (centroids, assignedCorpus). */
  def ivfRead(spark: org.apache.spark.sql.SparkSession, dir: String): (Array[Array[Float]], DataFrame) = {
    val cents = spark.read.parquet(s"$dir/centroids")
      .orderBy("cluster").collect()
      .map(_.getSeq[Float](1).toArray)
    (cents, spark.read.parquet(s"$dir/assigned"))
  }

  // ---- Index maintenance: incremental insert / delete ----

  /** INCREMENTAL INSERT into an IVF index — and unlike the graph family's
    * insertBatch, this one is LOSSLESS: cluster assignment is a per-row
    * pure function of (vector, centroids), so assigning only the new batch
    * against the EXISTING centroids and appending yields exactly the index
    * a from-scratch assignment of the union would build — searches over
    * the incremented index are bit-identical, no recall trade, no
    * within-batch blindness (AnnFilteredSpec pins the equality). The
    * centroids deliberately do NOT move: a quantizer refit would reshuffle
    * every existing row's list membership (a full rebuild in disguise);
    * IVF recall comes from nprobe, not centroid optimality, and the
    * standard production posture is periodic offline refit.
    *
    * 100 TB shape: the new batch's assignment is one map-only pass over
    * the batch (broadcast of nlist centroid vectors); the index artifact
    * update is a pure APPEND — a new parquet directory per batch under
    * the assignment table (TableLog.append on an index-as-table layout),
    * never a rewrite of existing inverted lists.
    */
  def ivfInsert(assignedOld: DataFrame, centroids: Array[Array[Float]],
                newVecs: DataFrame): DataFrame =
    assignedOld.unionByName(
      ivfDetAssign(newVecs, centroids).select(assignedOld.columns.map(col): _*))

  /** INCREMENTAL DELETE from an IVF index: drop the victims' assignment
    * rows. Also lossless — inverted lists are independent row sets, so the
    * filtered index IS the index of the surviving corpus under the same
    * centroids (subset search; the same property filteredTopK's
    * beyond-broadcast pre-filter fallback rides). At scale this is a
    * tombstone/anti-join against the assignment table, compacted on the
    * normal maintenance cadence.
    */
  def ivfDelete(assigned: DataFrame,
                victims: org.apache.spark.sql.Column): DataFrame =
    // null-safe: a row where the victim predicate evaluates to SQL NULL
    // (e.g. a null attribute) is a SURVIVOR — bare filter(!victims) would
    // silently delete it (!NULL is NULL, and filters drop NULL)
    assigned.filter(!coalesce(victims, lit(false)))

  // ---- Filtered (hybrid) search: attribute predicate + vector top-k ----

  /** Pre-filter regime: exact cosine top-k over the predicate's survivors.
    * The survivors ride the same broadcast kernel as bruteCosine — right for
    * SELECTIVE predicates, where σ(C) is small enough to broadcast and the
    * result is exact by construction — the reference's own pattern:
    * compare/roubust.py:50-63 materializes a predicate's survivors
    * (`data[indices_to_keep]`) and every downstream vector query scans
    * that filtered set exactly.
    */
  def filteredBrute(queries: DataFrame, corpus: DataFrame,
                    pred: org.apache.spark.sql.Column, k: Int): DataFrame =
    bruteCosine(queries, corpus.filter(pred), k, kernel = "fold")

  /** Post-filter regime: run the UNfiltered IVF search with an oversampled
    * candidate budget k·oversample, keep the candidates that satisfy the
    * predicate, re-rank to k. Right for UNSELECTIVE predicates, where
    * filtering first would barely shrink the corpus but would invalidate
    * the write-once index layout. Approximate twice over (IVF probe misses
    * + oversample starvation): a query whose top-k·γ candidates are
    * predicate-dense loses nothing; one whose candidates the filter eats
    * returns FEWER than k rows rather than reaching past the budget —
    * the honest contract, gauged by `filteredRecall` consumers.
    *
    * Join shape at scale: the candidate set is |Q|·k·γ (id, score) rows —
    * it is the BROADCAST side; the corpus-side predicate scan streams
    * map-only against it (no corpus shuffle, no candidate-side window
    * until after the filter).
    */
  def filteredIvf(queries: DataFrame, assignedCorpus: DataFrame,
                  centroids: Array[Array[Float]],
                  pred: org.apache.spark.sql.Column, k: Int, nprobe: Int,
                  oversample: Int = 4): DataFrame = {
    val cand = ivfDetSearch(queries, assignedCorpus, centroids, k * oversample, nprobe)
      .select(col("query_id"), col("neighbor_id"), col("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    assignedCorpus.filter(pred).select(col("vec_id").as("neighbor_id"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** Selectivity-dispatched hybrid search. Predicates at or below
    * `graft.ann.prefilterMaxSel` (default 0.5) take the exact pre-filter
    * path; above it, the post-filter oversampled IVF.
    *
    * The selectivity comes from `selectivityHint` when the caller has one
    * — at 100 TB it does: TableLog manifest `statsCols` bound a range
    * predicate's survivors, a catalog or a fixed-size sample bounds the
    * rest, so the gate costs a LOOKUP, not a corpus scan (the dispatch
    * RULE is the part that carries; the hinted exact path keeps one
    * bounded limit(1) existence probe so a wrong hint can never turn
    * "no survivors" into a crash). The hint drives ONLY the regime —
    * results are those of the chosen path over the REAL survivors; the
    * one loud edge is an UNDER-estimated hint admitting a survivor set
    * past Knn.exact's byte wall, which fails naming the IVF alternative.
    * Without a hint, one counting aggregate over the filtered frame
    * measures selectivity exactly; the count doubles as the kept-rows
    * figure the broadcast gate needs, and the SAME filtered frame feeds
    * the chosen pre-filter path — the predicate is planned once per job,
    * never re-derived three times.
    *
    * Pre-filter survivors beyond `graft.ann.broadcastMaxRows` fall back to
    * IVF over the filtered inverted lists (the assignment column survives
    * the filter — an IVF index supports subset search natively), trading
    * exactness for the only shape with no broadcast bound.
    */
  def filteredTopK(queries: DataFrame, assignedCorpus: DataFrame,
                   centroids: Array[Array[Float]],
                   pred: org.apache.spark.sql.Column, k: Int, nprobe: Int,
                   oversample: Int = 4,
                   selectivityHint: Option[Double] = None): DataFrame = {
    val spark    = queries.sparkSession
    val maxSel   = spark.conf.get("graft.ann.prefilterMaxSel", "0.5").toDouble
    val filtered = assignedCorpus.filter(pred) // ONE definition, reused below
    // (sel, kept): hinted → no estimation scans (kept derives from the
    // hint and the memoized total; the exact path pays one bounded
    // limit(1) existence probe); unhinted → one memoized total + one
    // filtered count. A hint is an ESTIMATE that only drives the regime —
    // the chosen path below stays correct when reality disagrees, except
    // that an UNDER-estimated hint can admit a survivor set Knn.exact's
    // byte wall then rejects LOUDLY (the honest failure: the wall names
    // the IVF alternative, and the fix is the honest hint).
    val (sel, kept) = selectivityHint match {
      case Some(h) =>
        require(h >= 0.0 && h <= 1.0, s"selectivityHint=$h outside [0, 1]")
        (h, (h * nRows(assignedCorpus)).toLong)
      case None =>
        val total = nRows(assignedCorpus)
        val n     = filtered.count()
        (if (total == 0) 1.0 else n.toDouble / total.toDouble, n)
    }
    def emptyResult: DataFrame =
      queries.select(col("vec_id").as("query_id"),
        col("vec_id").as("neighbor_id"), lit(0.0).as("score"),
        lit(1).as("rank")).limit(0)
    if (sel <= maxSel) {
      // zero survivors → no neighbors for any query. Shortcut ONLY when
      // kept was measured exactly (unhinted). EVERY hinted kept == 0 —
      // including a hint of exactly 0.0 — falls through to the exact
      // path, whose bounded limit(1) emptiness probe below settles
      // reality: a hint is an estimate (a stats pipeline may round a tiny
      // selectivity down to 0.0), and the invariant is that hints drive
      // the REGIME, never the result.
      if (kept == 0 && selectivityHint.isEmpty) emptyResult
      else {
        // the broadcast gate must be BYTE-consistent with Knn.exact's wall
        // (graft.knn.broadcastMaxBytes): a rows-only gate admits d≥60
        // corpora the wall then rejects. The dimension is DRIVER-LOCAL —
        // centroids are sampled corpus rows (ivfDetCentroids), so the
        // gate costs no probe job.
        val maxRows  = spark.conf.get("graft.ann.broadcastMaxRows", "10000000").toLong
        val maxBytes = spark.conf.get("graft.knn.broadcastMaxBytes", (2L << 30).toString).toLong
        val dim      = if (centroids.nonEmpty) centroids(0).length else 0
        val perRow   = dim.toLong * 4 + 16 // flat + id + norm (cosine)
        if (kept <= maxRows && kept * perRow <= maxBytes) {
          // hinted kept is an estimate: an actually-empty survivor set
          // must return empty, not trip the index build's non-empty
          // require — one bounded limit(1) probe, hinted path only
          if (selectivityHint.isDefined && filtered.isEmpty) emptyResult
          else bruteCosine(queries, filtered, k, kernel = "fold")
        } else ivfDetSearch(queries, filtered, centroids, k, nprobe)
      }
    } else filteredIvf(queries, assignedCorpus, centroids, pred, k, nprobe, oversample)
  }

  /** Recall@k of an approximate result against the exact baseline. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): Double = {
    val hits = approx.filter(col("rank") <= k)
      .join(exact.filter(col("rank") <= k), Seq("query_id", "neighbor_id"), "left_semi")
      .count()
    val total = exact.filter(col("rank") <= k).count()
    if (total == 0) 0.0 else hits.toDouble / total
  }
}
