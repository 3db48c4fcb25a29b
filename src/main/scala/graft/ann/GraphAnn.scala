package graft.ann

import graft.functions.VectorOps
import graft.knn.Knn
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Graph-traversal ANN — the THIRD approximate-search family beside IVF and
  * LSH, and the one shaped like the reference's actual index: FAISS HNSW
  * answers `index.search` (watermarking.py:305) by greedy best-first
  * traversal over adjacency lists, and every reference consumer reads only
  * the level-0 lists (watermarking.py:168–174) — exactly the persisted kNN
  * edge table this engine already builds (KnnGraph G7).
  *
  * This is a deterministic, SQL-replayable BEAM search over that edge
  * artifact:
  *   - entry points: a fixed keyed-md5 corpus sample (the IVF-centroid
  *     trick) shared by all queries — no seed/order-dependent entry node;
  *   - each of R rounds expands the current beam's out-edges, scores the
  *     union {beam ∪ neighbors} by the sequential fold-L2 (bit-identical to
  *     VectorOps.l2Col and the DuckDB lambda fold), and keeps the B best
  *     per query (ties to the lower node id);
  *   - result: top-k of the final beam.
  * Fixed R (not per-query convergence) keeps the traversal replayable as R
  * unrolled SQL rounds and gives the batch a deterministic cost envelope.
  *
  * One traversal (`traverse`: a sequence of phases, each an edge layer, a
  * beam width and a round count) serves the flat search, the layered
  * search and the incremental insert, in two physical regimes with the
  * same rows (GraphAnnSpec gates the parity bit for bit):
  *
  * FUSED (below the wall): when the corpus flat index plus every phase's
  * adjacency fits `graft.knn.broadcastMaxBytes` — the same budget as
  * `Knn.exact`'s broadcast — the corpus is collected into a Knn.FlatIndex
  * (ids ascending, looked up by binary search), each edge layer into CSR
  * arrays, and both are broadcast with the entry nodes; ONE map-only pass
  * over the queries then runs every round of every phase per query with a
  * bounded (dist, node) beam. The decision costs one size probe per input
  * (corpus, each edge frame) before any collect; corpus and edges reach
  * the driver the way `Knn.exact`'s index does (Knn.collectIndex /
  * fetchPacked: packed per-partition blocks, split into as many jobs as
  * `spark.driver.maxResultSize` requires). A multi-frame result (the
  * insert's two phases) is checkpointed eagerly and the broadcast
  * released. A fused operator in the FuseME (SIGMOD 2022) sense: a
  * handful of jobs for the whole search instead of R rounds of shuffle
  * joins.
  *
  * JOIN PLAN (above the wall; the 100 TB shape): batched DiskANN/HNSW-style
  * search — per round ONE equi-join of the frontier against the edge table
  * (co-located BY THE PLANNER: KnnGraph.write buckets the artifact by `src`
  * and KnnGraph.read re-declares the spec, so only the frontier side
  * exchanges — GraphAnnSpec gates that no round re-shuffles the edge table)
  * plus one equi-join against the corpus for scoring; all per-query state
  * is |Q|·B rows. No broadcast of anything unbounded, no global sort — the
  * only windows partition by query_id over ≤ B·(2M+1) rows. The query
  * embedding rides the frontier rows (d floats per row) — the standard
  * batched-traversal trade: re-joining the query table each round would
  * save bytes but add a shuffle per round. The same plan also takes a
  * corpus the flat index does not represent (null or ragged embeddings).
  *
  * Query ids must be unique: the join plan ranks per query_id, the fused
  * pass per query row.
  */
object GraphAnn {

  /** Per-round lineage truncation for the join plan's round loop, LAZILY: a
    * `localCheckpoint(eager = false)` instead of the old eager form. The
    * logical plan still truncates at the call (the round re-plans against
    * a LogicalRDD — the reason the checkpoint existed), but materialization
    * moves into the ONE consuming action instead of R sequential driver
    * jobs — at fixture scale the eager form paid R × (job submission +
    * result round-trip) of pure latency per search (guide §1.2: fix the
    * number of passes before the per-task work; §2.6 on driver-serialized
    * actions). The round's pre-checkpoint Dataset is RETAINED until the
    * bench-pass clear: it is the only strong reference to the physical
    * plan whose SQLMetric accumulators the deferred tasks will update —
    * without it, task-end accumulator updates race GC and log spurious
    * "non-existent accumulator" errors. (A tracked lazy `persist()` was
    * measured first and rejected: InMemoryRelation's columnar build made
    * the ingest/insert paths 3–7× slower.)
    */
  private def stage(df: DataFrame): DataFrame = graft.GraftCache.stage(df)

  /** SEARCH-WIDTH SCHEDULE — efSearch as a function of corpus size, not a
    * constant. The reference pins efSearch = 100 for every experiment at
    * N ≤ 60 000 (impact/impact.py:47; index setup watermarking.py:289); an
    * engine serving 100× that N cannot: HNSW recall at FIXED ef decays
    * roughly linearly in log N (the r18 GraphAnnScaleProbe 5M leg read
    * 0.55/0.62 at beam 16/32 where the 500k exact-built control isolates
    * the build's own price at 3–6% — the decay is search width, not
    * construction). The standard remedy is ef ∝ log N, anchored at the
    * published operating point:
    *
    *   ef(N) = max(k, ceil(efRef · ln N / ln nRef))      (efRef=100 @ 60k)
    *
    * so ef(60k) = 100 exactly (reference parity), ef(2 000) ≈ 70,
    * ef(5M) ≈ 141, ef(100M) ≈ 168 — the growth a user pays for constant
    * recall is logarithmic, which is what makes graph ANN viable at all.
    * The floor is k (beamSearch's own require). Deliberately DOUBLE-free
    * at the call sites: both sides of the oracle compute the identical
    * integer (the DuckDB replay evaluates the same closed form in SQL).
    */
  def efSearch(n: Long, k: Int, efRef: Int = 100, nRef: Long = 60000L): Int = {
    require(n >= 1 && k >= 1 && efRef >= 1 && nRef >= 2,
      s"efSearch(n=$n, k=$k, efRef=$efRef, nRef=$nRef): all must be positive (nRef ≥ 2)")
    math.max(k,
      math.ceil(efRef.toDouble * math.log(n.toDouble) / math.log(nRef.toDouble)).toInt)
  }

  /** HYBRID (filtered) search width: the efSearch schedule evaluated at
    * the ESTIMATED survivor count — the effective corpus the filtered
    * answer lives in — floored at the k·oversample candidate budget the
    * post-filter re-rank needs (in the graph regime the beam IS the
    * candidate budget; the final beam passes the predicate and re-ranks).
    * A selective predicate keeps the traversal near the budget floor
    * instead of paying the full-corpus width (efSearch(5M) = 141 where a
    * 1k-survivor filter needs ~63); an unselective one converges to the
    * unfiltered schedule. The intended `keptEstimate` source is
    * TableLog.survivorBound — a manifest-only integer, no estimation job.
    */
  def filteredBeam(keptEstimate: Long, k: Int, oversample: Int = 2): Int = {
    require(oversample >= 1, s"oversample=$oversample must be ≥ 1")
    math.max(k * oversample, efSearch(math.max(keptEstimate, 1L), k))
  }

  /** Round schedule: the beam needs at least the graph's greedy-descent
    * hop count to REACH a query's neighborhood before width can help —
    * diameter of a degree-`outDeg` navigable graph is ~log_outDeg N — plus
    * `extra` refinement rounds once there. Fixed R per (N, outDeg) keeps
    * the traversal SQL-replayable (the oracle unrolls exactly R blocks).
    */
  def searchRounds(n: Long, outDeg: Int, extra: Int = 1): Int = {
    require(n >= 1 && outDeg >= 2, s"searchRounds(n=$n, outDeg=$outDeg)")
    math.max(1,
      math.ceil(math.log(math.max(n, 2L).toDouble) / math.log(outDeg.toDouble)).toInt
        + extra)
  }

  /** Entry points: the `nEntry` corpus rows in md5("seed|"+vec_id) order —
    * same closed-form sampling as Ann.ivfDetCentroids, so the oracle
    * replays the choice as ORDER BY md5 LIMIT n.
    */
  def entryPoints(corpus: DataFrame, nEntry: Int, seed: String = "gentry"): DataFrame =
    corpus.select(col("vec_id"), col("embedding"))
      .orderBy(md5(concat(lit(s"$seed|"), col("vec_id").cast("string"))), col("vec_id"))
      .limit(nEntry)
      .select(col("vec_id").as("node"))

  /** Beam search; returns (query_id, neighbor_id, dist, rank), rank ≤ k.
    * `queries`: (vec_id, embedding); `corpus`: (vec_id, embedding);
    * `edgesDf`: (src, dst, …) — the persisted kNN graph.
    */
  def beamSearch(queries: DataFrame, corpus: DataFrame, edgesDf: DataFrame,
                 entries: DataFrame, k: Int, beam: Int, rounds: Int): DataFrame = {
    require(beam >= k, s"beam width $beam must cover the requested top-$k")
    topK(traverse(queries, corpus, entries, Seq(Phase(edgesDf, beam, rounds))).last, k)
  }

  /** Two-phase LAYERED beam search — HNSW's actual hierarchy idea in batch
    * form (the r13 GraphAnnScaleProbe finding: what beam search needs at
    * 1M+ nodes is rep-layer NAVIGABILITY, not a wider base beam). Phase 1
    * descends a COARSE layer: `repEdges` is a kNN graph over a keyed-md5
    * 1-in-`RepMod` corpus sample, so its edges are long-range and a narrow
    * beam localizes each query's neighborhood in few rounds over few
    * nodes. Phase 2 refines on the BASE edges starting from the coarse
    * beam — PER-QUERY entry points, already near the answer, which is why
    * the base beam can be half the flat search's width at equal recall
    * (ann_graph_recall_layered is the gauge; the flat search pays its full
    * beam width on every round because it starts from the one shared
    * entry sample). Distances are the same pure fold-L2 either phase, so
    * phase-1 scores carry into phase 2 unchanged and the whole traversal
    * stays SQL-replayable as two unrolled round sequences.
    *
    * 100 TB shape: the rep layer is ~corpus/RepMod rows and its OWN
    * bucketed artifact — phase-1 rounds join the frontier against a table
    * 8× smaller (and far better connected) than the base graph, phase-2
    * rounds run at HALF the frontier rows of the flat search; both layers'
    * joins consume their bucket layouts (the GraphAnnSpec gate applies to
    * each).
    */
  def layeredSearch(queries: DataFrame, corpus: DataFrame,
                    repEdges: DataFrame, baseEdges: DataFrame,
                    entries: DataFrame, k: Int,
                    repBeam: Int, baseBeam: Int,
                    repRounds: Int, baseRounds: Int): DataFrame = {
    require(baseBeam >= k, s"base beam $baseBeam must cover the requested top-$k")
    topK(traverse(queries, corpus, entries,
      Seq(Phase(repEdges, repBeam, repRounds), Phase(baseEdges, baseBeam, baseRounds))).last, k)
  }

  /** INCREMENTAL INSERT — HNSW's add operation in batch form (r16). A corpus
    * delta `newVecs` joins an EXISTING layered artifact without a rebuild:
    *
    *   1. every new vector runs the layered search against the OLD artifact
    *      (coarse descend over `repEdgesOld`, refine over `baseEdgesOld`)
    *      with an insert-time beam ≥ the out-degree cap — HNSW's
    *      efConstruction ≥ M discipline: the final beam IS the candidate
    *      list neighbors are selected from;
    *   2. the new node's out-edges are its final beam's best `outDeg`
    *      (dist ASC, node ASC — the engine's universal tie rule);
    *   3. REVERSE edges: each selected neighbor n gains a candidate edge
    *      n → q, and n's adjacency re-trims to its best `outDeg` over
    *      {old edges of n} ∪ {reverse candidates} — HNSW's shrink step,
    *      batched: all new nodes' reverse candidates land in ONE grouped
    *      re-rank (no per-insert sequential dependency);
    *   4. a new node that passes the rep-layer membership predicate repeats
    *      2–3 on the rep layer using its PHASE-1 final beam (which holds
    *      only rep nodes by construction).
    *
    * Batch semantics, documented trade: new nodes link only AGAINST THE
    * EXISTING corpus — within-batch blindness (two new near-duplicates
    * don't link to each other until a later batch or compaction re-inserts
    * them), the standard bulk-add bargain every LSM-shaped ANN system
    * makes; ann_graph_insert_recall gauges the effect against the
    * from-scratch rebuild. Determinism: every step is (dist, id)-ordered
    * and arrival-order-free, so the incremented artifact is a pure function
    * of (old corpus, batch) — the whole procedure replays as SQL
    * (graphSearchCtesOver + two grouped re-ranks).
    *
    * 100 TB shape: cost is |batch| searches (the read path's own economics)
    * plus two grouped top-`outDeg` re-ranks over |batch|·outDeg reverse
    * candidates — no rebuild, no global sort; the touched adjacency lists
    * are ≤ |batch|·outDeg rows, so the artifact update is a partition-local
    * upsert (TableLog.overwritePartitions by src bucket in a production
    * loop).
    */
  final case class LayerInsert(newEdges: DataFrame, retrimmed: DataFrame,
                               incremented: DataFrame)

  /** One layer's steps 2–3: `finalBeam` is (query_id, node, dist) from the
    * search over this layer's OLD edges; returns the new nodes' out-edges,
    * the touched neighbors' re-trimmed adjacencies, and the full
    * incremented edge table (untouched ∪ re-trimmed ∪ new), all shaped
    * (src, dst, dist).
    */
  def insertLayer(finalBeam: DataFrame, oldEdges: DataFrame, outDeg: Int): LayerInsert = {
    val wq = Window.partitionBy("query_id").orderBy(col("dist"), col("node"))
    val ws = Window.partitionBy("src").orderBy(col("dist"), col("dst"))
    val newEdges = finalBeam
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= outDeg)
      .select(col("query_id").as("src"), col("node").as("dst"), col("dist"))
    val reverse = newEdges.select(col("dst").as("src"), col("src").as("dst"), col("dist"))
    val touched = reverse.select("src").distinct()
    val retrimmed = oldEdges.select("src", "dst", "dist").join(touched, "src")
      .unionByName(reverse)
      .withColumn("rn", row_number().over(ws)).filter(col("rn") <= outDeg)
      .drop("rn")
    val incremented = oldEdges.select("src", "dst", "dist")
      .join(touched, Seq("src"), "left_anti")
      .unionByName(retrimmed)
      .unionByName(newEdges)
    LayerInsert(newEdges, retrimmed, incremented)
  }

  /** The full layered add: searches the old artifact once per new vector
    * (both phases at `insBeam` ≥ outDeg width) and applies insertLayer to
    * the base layer (every new node) and the rep layer (the `isRep` subset,
    * from the phase-1 beam). Returns (base, rep) layer results.
    */
  def insertBatch(newVecs: DataFrame, repEdgesOld: DataFrame,
                  baseEdgesOld: DataFrame, entries: DataFrame,
                  corpusOld: DataFrame, isRep: org.apache.spark.sql.Column,
                  outDeg: Int, insBeam: Int,
                  repRounds: Int, baseRounds: Int): (LayerInsert, LayerInsert) = {
    require(insBeam >= outDeg,
      s"insert beam $insBeam must cover the out-degree cap $outDeg (efConstruction >= M)")
    val Seq(repFinal, baseFinal) = traverse(newVecs, corpusOld, entries,
      Seq(Phase(repEdgesOld, insBeam, repRounds), Phase(baseEdgesOld, insBeam, baseRounds)),
      shared = true)
    val repQueries = newVecs.filter(isRep).select(col("vec_id").as("query_id"))
    (insertLayer(baseFinal, baseEdgesOld, outDeg),
      insertLayer(repFinal.join(repQueries, "query_id"), repEdgesOld, outDeg))
  }

  /** INCREMENTAL DELETE — the repair half of the LSM bargain (r16,
    * complement of insertBatch). Dropping a node's rows is trivial; the
    * graph property that must be REPAIRED is the navigability its in-edges
    * provided: a search path that used to route s → victim → target dies
    * with the victim unless s inherits a way around. The standard
    * consolidation rule (FreshDiskANN's delete, batched):
    *
    *   1. drop the victims' own adjacency lists (src ∈ V) and every edge
    *      INTO a victim (dst ∈ V);
    *   2. each surviving node s that lost an edge to victim v inherits v's
    *      surviving out-neighbors as CANDIDATE edges s → c (c ∉ V, c ≠ s,
    *      c not already adjacent to s), scored by a fresh fold-L2 — the
    *      two-hop bridge over the hole the victim leaves;
    *   3. s re-trims to its best `outDeg` over {remaining edges ∪
    *      candidates} ((dist, dst) order — the engine's universal tie
    *      rule). A loser with too few candidates keeps a SHORT list
    *      rather than fabricating far edges.
    *
    * Untouched nodes' lists survive VERBATIM — the update is a
    * partition-local upsert of ≤ |in-neighbors of V| adjacency lists, not
    * a rebuild. Determinism: every step is a pure set/argmin function of
    * (corpus, victims, old edges) — no sequencing — so the repaired
    * artifact replays as closed-form SQL (no unrolled search needed; the
    * repair rule is cheaper to verify than the insert's).
    *
    * 100 TB shape: victims' lists are |V|·outDeg rows, losers are the
    * victims' in-neighborhood (≤ |V|·in-degree), candidates ≤ |lost
    * edges|·outDeg — every join is an equi-join on node id against the
    * bucketed edge/corpus artifacts, every window partitions by src over
    * ≤ outDeg·(1+outDeg) rows. Within-batch semantics: victims deleted
    * TOGETHER never bridge through each other (v1's candidates exclude
    * v2's targets) — the mirror of insertBatch's within-batch blindness,
    * and the same bargain.
    */
  final case class LayerDelete(retrimmed: DataFrame, repaired: DataFrame)

  /** One layer's delete repair: `victims` is (node); `oldEdges` (src, dst,
    * dist); `corpus` (vec_id, embedding) scores the inherited candidates.
    * Returns the touched (re-trimmed) lists and the full repaired layer.
    */
  def deleteLayer(victims: DataFrame, oldEdges: DataFrame,
                  corpus: DataFrame, outDeg: Int): LayerDelete = {
    val vs   = victims.select(col("node")).distinct()
    val vSrc = vs.withColumnRenamed("node", "src")
    val vDst = vs.withColumnRenamed("node", "dst")
    val owned = oldEdges.select("src", "dst", "dist").join(vSrc, Seq("src"), "left_anti")
    val keep  = owned.join(vDst, Seq("dst"), "left_anti")
    // (loser s, victim v): s survives, s → v was an edge
    val lost  = owned.join(vDst, Seq("dst"), "left_semi")
      .select(col("src"), col("dst").as("vv"))
    // victims' surviving out-neighbors — the inheritance pool
    val vAdj  = oldEdges.select("src", "dst").join(vSrc, Seq("src"), "left_semi")
      .join(vDst, Seq("dst"), "left_anti")
      .select(col("src").as("vv"), col("dst").as("cand"))
    val candPairs = lost.join(vAdj, "vv")
      .filter(col("cand") =!= col("src"))
      .select("src", "cand").distinct()
      .join(keep.select(col("src"), col("dst").as("cand")), Seq("src", "cand"), "left_anti")
    val scored = candPairs
      .join(corpus.select(col("vec_id").as("src"), col("embedding").as("se")), "src")
      .join(corpus.select(col("vec_id").as("cand"), col("embedding").as("ce")), "cand")
      .withColumn("dist", VectorOps.l2Col(col("se"), col("ce")))
      .select(col("src"), col("cand").as("dst"), col("dist"))
    val touched = lost.select("src").distinct()
    val ws = Window.partitionBy("src").orderBy(col("dist"), col("dst"))
    val retrimmed = keep.join(touched, "src").unionByName(scored)
      .withColumn("rn", row_number().over(ws)).filter(col("rn") <= outDeg)
      .drop("rn")
    val repaired = keep.join(touched, Seq("src"), "left_anti")
      .unionByName(retrimmed)
    LayerDelete(retrimmed, repaired)
  }

  // ---- the traversal: one round rule, two physical regimes ----

  /** One leg of a traversal: `rounds` expansions over `edges` (src, dst, …)
    * at beam width `beam`.
    */
  private final case class Phase(edges: DataFrame, beam: Int, rounds: Int)

  /** Runs `phases` in order from the shared entry set and returns each
    * phase's final beam as (query_id, node, dist, rank), rank 1..|beam| by
    * (dist, node). Round 0 scores the entries at the first phase's width; at
    * each transition the beam is cut to the next phase's width; every round
    * is topB(beam ∪ score(neighbours(beam) \ beam)). Dispatches on the
    * broadcast wall (see the object doc). `shared`: the caller reads more
    * than one of the returned frames.
    */
  private def traverse(queries: DataFrame, corpus: DataFrame, entries: DataFrame,
                       phases: Seq[Phase], shared: Boolean = false): Seq[DataFrame] =
    fusedSizes(corpus, phases.map(_.edges).distinct) match {
      case Some(sz) => fusedTraverse(queries, corpus, sz, entries, phases, shared)
      case None     => joinTraverse(queries, corpus, entries, phases)
    }

  /** The join plan: each round is an edge join, a dedup, an anti-join, a
    * corpus scoring join and a window, lineage-truncated by `stage`.
    */
  private def joinTraverse(queries: DataFrame, corpus: DataFrame, entries: DataFrame,
                           phases: Seq[Phase]): Seq[DataFrame] = {
    val byQuery = Window.partitionBy("query_id").orderBy(col("dist"), col("node"))
    def topB(df: DataFrame, b: Int): DataFrame =
      df.withColumn("rank", row_number().over(byQuery)).filter(col("rank") <= b)
        .transform(stage)
    var beamDf = topB(scoreCandidates(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        .crossJoin(broadcast(entries)), corpus), phases.head.beam)
    var width = phases.head.beam
    phases.map { p =>
      if (p.beam < width) beamDf = topB(beamDf.drop("rank"), p.beam)
      width = p.beam
      for (_ <- 0 until p.rounds) {
        val beamRows = beamDf.drop("rank")
        beamDf = topB(beamRows.unionByName(scoreCandidates(
          frontierCandidates(beamRows, p.edges), corpus)), p.beam)
      }
      beamDf.select("query_id", "node", "dist", "rank")
    }
  }

  /** What the regime decision learned: the corpus probe and each distinct
    * edge frame's (src, dst) row count.
    */
  private[graft] final case class FusedSizes(corpus: Knn.CorpusShape, edges: Map[DataFrame, Long])

  /** The regime decision: Some when the corpus flat index plus every edge
    * frame's (src, dst) pairs fit the broadcast wall. One probe job per
    * input before any collect (Knn.probeCorpus; a row count per edge frame
    * that, like it, stops each partition at the rows the budget admits). A
    * corpus the flat index cannot hold row for row the way the scoring
    * join reads it — empty, a NULL embedding, ragged dimensions — takes
    * the join plan.
    */
  private[graft] def fusedSizes(corpus: DataFrame, edgeFrames: Seq[DataFrame]): Option[FusedSizes] = {
    val spark = corpus.sparkSession
    val shape = Knn.probeCorpus(corpus)
    val corpusBytes = Knn.indexBytes(shape.rows, shape.maxDim, needNorms = false)
    if (!shape.uniform || !Knn.fitsBroadcast(spark, corpusBytes)) return None
    val cap = Knn.rowCap(spark, 16) // src + dst longs
    val edges = edgeFrames.map { e =>
      e -> edgePairs(e).mapPartitions { it =>
        var n = 0L
        while (n < cap && it.hasNext) { it.next(); n += 1 }
        Iterator(n)
      }(org.apache.spark.sql.Encoders.scalaLong).collect().sum
    }.toMap
    if (Knn.fitsBroadcast(spark, corpusBytes + edges.values.sum * 16)) Some(FusedSizes(shape, edges))
    else None
  }

  private def edgePairs(e: DataFrame): org.apache.spark.sql.Dataset[(Long, Long)] = {
    import e.sparkSession.implicits._
    e.select(col("src"), col("dst")).na.drop().as[(Long, Long)]
  }

  /** One edge layer as CSR: `src` distinct ascending; node src(i)'s distinct
    * out-neighbours are dst(off(i) until off(i + 1)), ascending.
    */
  private final case class Csr(src: Array[Long], off: Array[Int], dst: Array[Long])

  /** `m` (src, dst) rows of `e` as CSR: the pairs arrive through
    * Knn.fetchPacked into pre-sized arrays, then are bucketed by `src`.
    */
  private def csrOf(e: DataFrame, m: Long): Csr = {
    require(m <= Int.MaxValue, s"fused traversal: $m edges")
    val srcs = new Array[Long](m.toInt)
    val dsts = new Array[Long](m.toInt)
    var at = 0
    Knn.fetchPacked(edgePairs(e), m * 16) { it =>
      val s = Array.newBuilder[Long]; val t = Array.newBuilder[Long]
      it.foreach { case (a, b) => s += a; t += b }
      (s.result(), t.result())
    } { case (s, t) =>
      require(at + s.length <= m, "edge table grew during the fused build")
      System.arraycopy(s, 0, srcs, at, s.length)
      System.arraycopy(t, 0, dsts, at, t.length)
      at += s.length
    }
    require(at == m, s"edge table shrank during the fused build: expected $m rows, got $at")
    val sorted = srcs.clone()
    java.util.Arrays.sort(sorted)
    val src = sorted.distinct
    val start = new Array[Int](src.length + 1)
    srcs.foreach(x => start(java.util.Arrays.binarySearch(src, x) + 1) += 1)
    for (j <- src.indices) start(j + 1) += start(j)
    val fill = start.clone()
    val dst = new Array[Long](dsts.length)
    for (i <- srcs.indices) {
      val j = java.util.Arrays.binarySearch(src, srcs(i))
      dst(fill(j)) = dsts(i); fill(j) += 1
    }
    // sort each list and drop duplicate edge rows, compacting in place
    val off = new Array[Int](src.length + 1)
    var w = 0
    for (j <- src.indices) {
      java.util.Arrays.sort(dst, start(j), start(j + 1))
      off(j) = w
      for (i <- start(j) until start(j + 1))
        if (i == start(j) || dst(i) != dst(i - 1)) { dst(w) = dst(i); w += 1 }
    }
    off(src.length) = w
    Csr(src, off, java.util.Arrays.copyOf(dst, w))
  }

  /** The fused regime's broadcast: corpus index, one CSR per phase (a layer
    * shared by two phases is one object), the entry node multiset.
    */
  private final case class FusedGraph(index: Knn.FlatIndex, d: Int,
                                      layers: Array[Csr], entries: Array[Long])

  /** (dist, node) ascending in Spark's SQL order for doubles (-0.0 = 0.0). */
  private val byDistNode: Ordering[(Double, Long)] = (a, b) => {
    val c = if (a._1 == b._1) 0 else java.lang.Double.compare(a._1, b._1)
    if (c != 0) c else java.lang.Long.compare(a._2, b._2)
  }

  /** One query's whole traversal against the broadcast graph: each phase's
    * final beam, (dist, node) ascending. Scoring mirrors the join: one
    * (dist, node) per corpus row with that id — none for an id without a
    * row, several for a duplicated id. A null query scores every node as
    * the join's null dist does: all equal, so the beam orders by node.
    */
  private def walk(q: Array[Float], g: FusedGraph,
                   beams: Array[Int], rounds: Array[Int]): Array[Array[(Double, Long)]] = {
    if (q != null && q.length != g.d) throw new IllegalArgumentException(
      s"graft fold kernel: dimension mismatch (${q.length} vs ${g.d})")
    val ids = g.index.ids
    val cand = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
    def score(node: Long): Unit = {
      var j = java.util.Arrays.binarySearch(ids, node)
      if (j >= 0) {
        while (j > 0 && ids(j - 1) == node) j -= 1
        while (j < ids.length && ids(j) == node) {
          val dist = if (q == null) 0.0 else math.sqrt(VectorOps.sqDist(q, g.index.flat, j * g.d))
          cand += ((dist, node)); j += 1
        }
      }
    }
    def topB(b: Int): Array[(Double, Long)] = cand.sorted(byDistNode).take(b).toArray
    g.entries.foreach(score)
    var beam = topB(beams(0))
    Array.tabulate(beams.length) { p =>
      beam = beam.take(beams(p))
      val layer = g.layers(p)
      for (_ <- 0 until rounds(p)) {
        val inBeam = beam.map(_._2).sorted
        val next = inBeam.flatMap { n =>
          val i = java.util.Arrays.binarySearch(layer.src, n)
          if (i < 0) Array.empty[Long] else layer.dst.slice(layer.off(i), layer.off(i + 1))
        }.sorted.distinct
        cand.clear(); cand ++= beam
        next.foreach(n => if (java.util.Arrays.binarySearch(inBeam, n) < 0) score(n))
        beam = topB(beams(p))
      }
      beam
    }
  }

  /** The fused regime: collect corpus, edge layers and entries, broadcast
    * them, and run every round of every phase per query in ONE map-only
    * pass. A `shared` result feeds one frame per phase, so it is
    * checkpointed eagerly and the broadcast released: the frames then read
    * the checkpoint, and nothing pins the corpus index.
    */
  private def fusedTraverse(queries: DataFrame, corpus: DataFrame, sizes: FusedSizes,
                            entries: DataFrame, phases: Seq[Phase],
                            shared: Boolean): Seq[DataFrame] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val index = Knn.collectIndex(corpus, sizes.corpus, needNorms = false)
    val layerOf = sizes.edges.map { case (e, m) => e -> csrOf(e, m) }
    val entryIds = entries.select(col("node")).na.drop().as[Long].collect()
    val bc = spark.sparkContext.broadcast(FusedGraph(index, sizes.corpus.maxDim,
      phases.map(p => layerOf(p.edges)).toArray, entryIds))
    val beams = phases.map(_.beam).toArray
    val rounds = phases.map(_.rounds).toArray
    val out = queries.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val g = bc.value
        it.flatMap { case (qid, q) =>
          walk(q, g, beams, rounds).iterator.zipWithIndex.flatMap { case (beam, p) =>
            beam.iterator.zipWithIndex.map { case ((dist, node), r) =>
              (p, qid, node, Option.when(q != null)(dist), r + 1)
            }
          }
        }
      }
      .toDF("phase", "query_id", "node", "dist", "rank")
    val read = if (shared) {
      val ck = out.localCheckpoint()
      bc.unpersist()
      ck
    } else out
    phases.indices.map(p => read.filter(col("phase") === p).drop("phase"))
  }

  /** The final top-k of a traversal's beam in the public result shape. */
  private def topK(beam: DataFrame, k: Int): DataFrame =
    beam.filter(col("rank") <= k)
      .select(col("query_id"), col("node").as("neighbor_id"), col("dist"), col("rank"))

  /** The round's scoring join: score candidates (query_id, qe, node) by
    * fold-L2 against the corpus. Exposed for the plan gate like
    * frontierCandidates: when `corpus` is a BUCKETED table (bucketed by
    * vec_id — the layout any serious deployment gives its vector corpus),
    * this equi-join must consume the layout and shuffle only the
    * |Q|·B·2M-row candidate side — a corpus-side Exchange here also
    * multiplies by R rounds.
    */
  private[graft] def scoreCandidates(cand: DataFrame, corpus: DataFrame): DataFrame =
    cand.join(corpus.select(col("vec_id").as("node"), col("embedding").as("ne")), "node")
      .withColumn("dist", VectorOps.l2Col(col("qe"), col("ne")))
      .select(col("query_id"), col("qe"), col("node"), col("dist"))

  /** One round's frontier expansion: neighbors of the beam not already IN
    * the beam; a node dropped in an earlier round may be re-scored — dist
    * is a pure function, so the result equals the oracle's simpler
    * "score(beam ∪ neighbors)" rule. Exposed for the plan gate: when
    * `edgesDf` is the BUCKETED persisted artifact (KnnGraph.read), this
    * equi-join must consume the edge table's bucket layout and shuffle only
    * the frontier side — an edge-side Exchange here multiplies by R rounds
    * and is exactly the regression GraphAnnSpec pins.
    */
  private[graft] def frontierCandidates(beamDf: DataFrame, edgesDf: DataFrame): DataFrame =
    beamDf.select("query_id", "qe", "node")
      .join(edgesDf.select(col("src").as("node"), col("dst")), "node")
      .select(col("query_id"), col("qe"), col("dst").as("node"))
      .dropDuplicates("query_id", "node")
      .join(beamDf.select("query_id", "node"), Seq("query_id", "node"), "left_anti")
}
