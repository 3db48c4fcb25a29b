package graft

import graft.ann.{Ann, GraphAnn}
import graft.attacks.Attacks
import graft.events.EventOps
import graft.experiments.Experiments
import graft.functions.Hashing
import graft.multimodal.Multimodal
import graft.functions.GraftCols
import graft.text.{Bm25, Dedup, Pii, TextOps}
import graft.graph.KnnGraph
import graft.knn.Knn
import graft.metrics.Metrics
import graft.operators.{AsOfJoin, RangeJoin, SkewJoin}
import graft.watermark.{Scpw, ScpwKey, TabularMark, TmKey, Tvp, WmKey}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with bit-exact DuckDB oracle SQL wherever the operator is
  * SQL-expressible (FIXTURES.md oracle-parity note). Non-SQL operators (the
  * bit codec of watermarking.py:53–117) are registered without oracle SQL and
  * carry invariant-based ScalaTest coverage instead.
  */
object SparkEntry {

  private val key       = WmKey(seed = "20")
  private val D         = 64 // fixture embedding dimensionality
  private val WM        = "10101"
  private val Strength  = 0.6
  private val DeleteP   = 0.3
  private val Seed      = "42"
  private val M         = 8 // HNSW parameter of the reference (watermarking.py:285)
  private val scpwKey   = ScpwKey(topK = 20, position = 30, stdE = 0.05, seed = "20")
  private val tmKey     = TmKey(nw = 100, p = 4.0, k = 40, position = 50)
  // Graph-traversal ANN (GraphAnn): beam width 16, 4 expansion rounds from
  // 4 shared keyed-md5 entry points — ≤ B·(2M+1)·R candidate scorings per
  // query, replayed in SQL as unrolled rounds
  private val GraphEntries = 4
  private val GraphBeam    = 16
  private val GraphRounds  = 4
  // GraphAnn.searchRounds(N, 2·M) for every shipped fixture N (500 and
  // 2000 both land on 4); the scaled oracle unrolls exactly this many
  // rounds, and ann_graph_topk_scaled REQUIRES the runtime schedule to
  // agree — a regenerated fixture that moves the schedule fails loudly
  // instead of silently diverging from the replay.
  private val ScaledGraphRounds = 4
  // Layered graph-ANN (GraphAnn.layeredSearch): a 1-in-RepMod keyed-md5 rep
  // layer descended with a narrow beam, then a base refine at HALF the flat
  // search's beam width — ann_graph_recall_layered gauges the equal-recall
  // claim against ann_graph_recall's flat beam-16 numbers.
  private val RepMod     = 8
  private val RepBeam    = 8
  private val RepRounds  = 2
  private val BaseBeam   = 10 // must cover top-k=10; 10 vs the flat 16
  private val BaseRounds = 2
  // text_surprisal_topk's bounded vocabulary broadcast: K = 16 keeps the
  // fixture's 31-type vocab split across both scoring paths (15 tail types)
  // so the smoothed-tail rule is oracle-exercised, not just documented
  private val SurprisalTopK = 16
  // H1 strength_analysis sweep — the reference's FULL published grid shape
  // (roubust/roubust.py:225–227: strl × pl = 6 × 13)
  private val StrengthGridSts = Seq(0.55, 0.6, 0.7, 0.8, 0.9, 1.0)
  private val StrengthGridPs  =
    Seq(0.1, 0.2, 0.3, 0.35, 0.4, 0.45, 0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8)
  // the reference averages each cell over 10 re-seeded repetitions
  // (roubust/roubust.py:228 `cnum`) — matched exactly: 6×13×10 = 780 cells
  private val StrengthGridReps = 10
  // H1 th_analysis sweep — the published thl grid (roubust/roubust.py:265–267)
  private val ThGridThs = Seq(0.2, 0.4, 0.6, 0.8, 1.0)
  // TabularMark deletion curve — the published p grid (BASELINE.md)
  private val TmGridPs = Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)
  // robustness-grid rate axis: the published 8-rate curve axis
  // (compare/roubust.py:162–176) plus the p=0 control — shared between the
  // engine queries and the grid oracle so the cells can never drift apart
  private val RobGridPs = Seq(0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)
  // RESULTS.md quality-curve parameters — the reference's exact published
  // configuration (compare/roubust.py:162–176): 21-bit message, p = 0.1…0.8
  private val CurveWm = "001010010101001010010"
  private val CurvePs = Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)
  private val CurveReps = 10 // seeded attacks average over 10 reps (roubust.py)
  // TM modification-attack seed; its keyed dim0 (md5Mod("…|dim0", 64) = 37)
  // must avoid the TM position dim (50) so the attack's [min,max] scan
  // replays from the raw table (the embed only perturbs dim 50)
  private val TmModSeed = s"tmmod-$Seed"
  private lazy val modGridDim0 = Hashing.md5Mod(s"$TmModSeed|dim0", D.toLong).toInt
  private lazy val dims = key.dims(D)
  // fixed dim of K3 random modification (Attacks.modifyRows draws it once)
  private lazy val modDim0 = Hashing.md5Mod(s"$Seed|dim0", D.toLong).toInt

  // ---- shared derived frames, memoized per sf dir (GraftCache) ----
  private def rawKnn(s: SparkSession, dir: String) =
    GraftCache.memo(s"$dir/rawknn") {
      KnnGraph.rawKnn(Tables.embeddings(s, dir), 2 * M + 1)
    }
  private def edges(s: SparkSession, dir: String) =
    GraftCache.memo(s"$dir/edges") {
      KnnGraph.edges(Tables.embeddings(s, dir), M, Some(rawKnn(s, dir)))
    }
  /** Exact brute-cosine top-10 of the standard query sample — the ground
    * truth every ANN recall gauge (LSH excepted — it ranks by L2) compares
    * against, and ann_brute_topk's own result. One memoized pass instead of
    * five independent 100×N kernel scans.
    */
  private def cosKnn(s: SparkSession, dir: String) =
    GraftCache.memo(s"$dir/cosknn") {
      val emb = Tables.embeddings(s, dir)
      Ann.bruteCosine(emb.filter(col("vec_id") < 100), emb, 10, kernel = "fold")
    }
  private def ai(s: SparkSession, dir: String) =
    GraftCache.memo(s"$dir/ai") {
      KnnGraph.accessibility(Tables.embeddings(s, dir), edges(s, dir))
    }
  /** Verified MinHash-LSH near-dup pairs of the documents table at τ=0.5 —
    * a derived artifact of (corpus, τ) exactly like the kNN graph, memoized
    * because both the pair query and the cluster query consume it (the LSH
    * band + verify passes are the whole cost of both). localCheckpoint
    * truncates the multi-join lineage so the cluster iteration replans from
    * a flat scan.
    */
  private def nearDupPairsShared(s: SparkSession, dir: String): DataFrame =
    GraftCache.memo(s"$dir/ndpairs") {
      Dedup.nearDupPairs(Tables.documents(s, dir), threshold = 0.5)
        .localCheckpoint()
    }
  /** Driver-known APPROXIMATE vocabulary cardinality (HLL, ±~2%) of the
    * documents table, memoized per scale dir — the regime input for the
    * surprisal vocab join. One map-side tokenize + sketch pass: the HLL
    * partials merge without ever shuffling the vocabulary itself, so the
    * gate costs a scan, not the groupBy it gates. Gating on the vocab's OWN
    * cardinality (not the old doc-count proxy) closes the
    * few-but-enormous-documents corner: a 100-doc corpus of book-length
    * texts can carry a broadcast-hostile type count.
    */
  private def vocabEstimate(s: SparkSession, dir: String): Long =
    GraftCache.memoAny(s"$dir/vocabest") {
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .agg(approx_count_distinct(col("token")).as("v")).head().getLong(0)
    }
  /** Per-doc unigram surprisal (doc_id, n_tokens, surprisal_micros) — the
    * dual-regime vocab join documented at the text_surprisal registration;
    * shared with pipeline_doc_manifest's high-surprisal rule.
    */
  private def surprisalPerDoc(s: SparkSession, dir: String): DataFrame = {
    def toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
    val tot = vocab.agg(sum("cnt").as("tot"))
    // ×5/4 headroom absorbs the HLL estimate's error band: a vocab sitting
    // right at the knob must never broadcast on an undercount
    val smallVocab = vocabEstimate(s, dir) * 5L / 4L <= Tvp.smallRankMax(s)
    val scored = if (smallVocab) toks.join(broadcast(vocab), "token")
                 else toks.join(vocab.hint("shuffle_merge"), "token")
    scored
      .crossJoin(broadcast(tot))
      .withColumn("sm",
        floor((-log(col("cnt").cast("double") / col("tot").cast("double")))
          .cast("float").cast("double") * lit(1000000.0) + lit(0.5)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("sm").as("surprisal_micros"))
  }
  /** In-session deterministic-IVF index (sampled centroids + assignment) for
    * a scale dir, memoized per (dir, nlist) — the nlist axis exists for the
    * index-size sweep; every other consumer rides the default 16.
    */
  private def ivfDet(s: SparkSession, dir: String, nlist: Int = 16): (Array[Array[Float]], DataFrame) =
    GraftCache.memoAny(s"$dir/ivfdet-$nlist") {
      val emb = Tables.embeddings(s, dir)
      val c = Ann.ivfDetCentroids(emb, nlist = nlist)
      (c, GraftCache.track(Ann.ivfDetAssign(emb, c)))
    }

  /** Incrementally-maintained IVF index: centroids sampled from the OLD
    * corpus (1-in-16 keyed-md5 rows held out as the "new" batch), old rows
    * assigned, batch inserted via Ann.ivfInsert — lossless by the per-row
    * purity of assignment (the spec pins bit-equality with the
    * from-scratch union assignment under the same centroids).
    */
  private def ivfIns(s: SparkSession, dir: String): (Array[Array[Float]], DataFrame) =
    GraftCache.memoAny(s"$dir/ivfins") {
      val emb = Tables.embeddings(s, dir)
      val isNew = GraftCols.md5Mod(
        concat(col("vec_id").cast("string"), lit("|iins")), 16) === 0L
      val oldC = emb.filter(!isNew)
      val c = Ann.ivfDetCentroids(oldC, nlist = 16)
      (c, GraftCache.track(
        Ann.ivfInsert(Ann.ivfDetAssign(oldC, c), c, emb.filter(isNew))))
    }

  /** INDEX-AS-TABLE: the deterministic IVF assignment persisted as a
    * TableLog table partitioned by CLUSTER tag — the layout the ivfInsert
    * scaladoc prescribes for 100 TB. A search's nprobe then becomes
    * MANIFEST-LEVEL partition pruning: the probed cluster ids resolve to
    * exactly their directories (readWhere on the tag set), unprobed
    * inverted lists are never listed, never opened. Incremental insert on
    * this layout is overwritePartitions of the touched clusters only.
    */
  private def ivfLogDir(s: SparkSession, dir: String): String =
    GraftCache.memoAny(s"$dir/ivflog") {
      val k = ArtifactIO.contentKey(s"$dir|ivflog|v1",
        new java.io.File(s"$dir/embeddings.parquet"))
      val out = new java.io.File(sys.props("java.io.tmpdir"), s"graft_ivflog_$k")
      ArtifactIO.publishDir(out, valid = o =>
        graft.sources.TableLog.headVersion(o.getAbsolutePath) >= 1) { staging =>
        val (_, assigned) = ivfDet(s, dir)
        graft.sources.TableLog.overwritePartitions(
          assigned.select(col("vec_id"), col("embedding"), col("cluster")),
          staging.getAbsolutePath, "cluster")
      }
    }

  /** Deterministic-LSH top-5 of the first 100 queries, built per consumer
    * over the SHARED pre-hashed corpus memo. Deliberately NOT a memoized
    * result frame: the bucket join + re-rank over the (tiny) query side is
    * cheap once the corpus hashes are persisted, and both sharing variants
    * measured SLOWER than rebuilding — a lazy persist let the first
    * consumer's broadcast-side read compute the plan without populating the
    * cache (the second consumer rebuilt anyway), and an eager
    * persist+count paid materialization + storage overhead exceeding the
    * ~0.4 s rebuild it saved (driver bench r10: shared 3.1–3.2 s combined
    * vs 2.6 s unshared for the recall+topk pair).
    */
  /** The SHARED pre-hashed LSH corpus (5 keyed hyperplane tables, width 1.0)
    * — the write-once artifact every LSH consumer rides (top-k, recall
    * gauge, and the r11 table-count sweep).
    */
  private def lshHashedShared(s: SparkSession, dir: String): DataFrame =
    GraftCache.memoAny(s"$dir/lshdet") {
      GraftCache.track(Knn.lshDetHash(
        Tables.embeddings(s, dir), Knn.lshDetProjections(5, D, "lsh"), 1.0))
    }

  private def lshDetShared(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Knn.lshDet(emb.filter(col("vec_id") < 100), emb, 5, D,
      bucketLength = 1.0, numHashTables = 5, seed = "lsh",
      prehashed = Some(lshHashedShared(s, dir)))
  }

  /** The persisted deterministic-IVF index dir for a scale dir — built once
    * per (fixture-fingerprint, nlist) key (staging + atomic-rename publish;
    * an existing valid artifact is reused without rewriting) and shared by
    * every query that rides the parquet index (crossmodal_ann,
    * ann_ivf_nprobe_sweep, ann_ivf_nlist_sweep).
    */
  private def ivfArtifactDir(s: SparkSession, dir: String, nlist: Int = 16): String =
    GraftCache.memoAny(s"$dir/ivfdir-$nlist") {
      val k = ArtifactIO.contentKey(s"$dir|nlist=$nlist|v1",
        new java.io.File(s"$dir/embeddings.parquet"))
      val out = new java.io.File(sys.props("java.io.tmpdir"), s"graft_ivf_$k")
      ArtifactIO.publishDir(out, valid = o =>
        new java.io.File(o, "centroids/_SUCCESS").isFile &&
          new java.io.File(o, "assigned/_SUCCESS").isFile) { staging =>
        val (c, a) = ivfDet(s, dir, nlist)
        Ann.ivfWrite(staging.getAbsolutePath, c, a)
      }
    }

  /** The DATE-PARTITIONED events artifact (Hive-style `day=YYYY-MM-DD/`
    * directories, one file per day via a pre-write repartition on the
    * partition column) — the layout every 100 TB event store uses so that
    * time-ranged queries PRUNE at the scan instead of reading the corpus.
    * The day index is pure long arithmetic on ts_ns (tz-proof, like every
    * event query); partition values round-trip as DATE through Spark's
    * partition-type inference. Same publish discipline as the IVF index:
    * content-keyed, staged, atomically renamed, reused across JVMs.
    */
  /** FLOOR division on the long, not `div` (which truncates toward zero): a
    * pre-1970 ts_ns must land one day EARLIER, matching the oracle's
    * cast(ts AS date) floor semantics — latent with the 2024-only fixture,
    * but the artifact layout shouldn't depend on it.
    */
  private def eventsWithDay(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("day", date_add(lit("1970-01-01").cast("date"),
        expr("cast(if(ts_ns >= 0, ts_ns div 86400000000000, " +
          "-((-ts_ns + 86400000000000 - 1) div 86400000000000)) as int)")))

  /** Z-ORDERED events artifact: rows range-partitioned and sorted by the
    * Morton interleave of (user_id, hour-index) — Delta/Iceberg's OPTIMIZE
    * ZORDER BY as a plain parquet layout choice. Every file (and row group)
    * then spans a narrow min/max range on BOTH filter columns, so a
    * selective predicate on either prunes at the parquet-statistics level;
    * a single-column sort gives that to one column only. ZOrderSpec pins
    * the locality property quantitatively; ZOrderScaleProbe counts the
    * row-group-skipping win at 5M rows. The fixture's VARYING bit widths
    * are balanced here (user_id 11 bits vs ~10 varying hour bits — the
    * hour index's constant high bits never affect the ordering); columns
    * with skewed domains must normalize through ZOrder.zBucket first, or
    * the wide column owns the code's high bits and the layout degenerates
    * to a 1-D sort (the probe demonstrates that failure deliberately).
    */
  private def eventsZorderDir(s: SparkSession, dir: String): String =
    GraftCache.memoAny(s"$dir/eventszorder") {
      val k = ArtifactIO.contentKey(s"$dir|zorder|v1",
        new java.io.File(s"$dir/events.parquet"))
      val out = new java.io.File(sys.props("java.io.tmpdir"), s"graft_eventszorder_$k")
      ArtifactIO.publishDir(out, valid = o => new java.io.File(o, "_SUCCESS").isFile) { staging =>
        val hourNs = 3600L * 1000000000L
        Tables.events(s, dir)
          .withColumn("__z", graft.functions.ZOrder.morton2(
            col("user_id"), expr(s"ts_ns div $hourNs")))
          .repartitionByRange(8, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
          .write.mode("overwrite").parquet(staging.getAbsolutePath)
      }
    }

  /** THREE-column Z-order layout (ZOrder.morton3): user × hour × value
    * band, the generalization q_events_zorder's 2-D layout cedes — a value
    * predicate gets pruning power the 2-D code cannot give it, at a
    * bounded cost to user/time locality (each column keeps ~1/3 of its
    * resolution instead of ~1/2; ZOrderScaleProbe quantifies the trade and
    * where a further column would stop paying). The value coordinate is
    * floor(value) — integral, 0..~560 ≈ 10 bits, comparable to the other
    * coordinates' varying widths.
    */
  private def eventsZorder3Dir(s: SparkSession, dir: String): String =
    GraftCache.memoAny(s"$dir/eventszorder3") {
      val k = ArtifactIO.contentKey(s"$dir|zorder3|v1",
        new java.io.File(s"$dir/events.parquet"))
      val out = new java.io.File(sys.props("java.io.tmpdir"), s"graft_eventszorder3_$k")
      ArtifactIO.publishDir(out, valid = o => new java.io.File(o, "_SUCCESS").isFile) { staging =>
        val hourNs = 3600L * 1000000000L
        Tables.events(s, dir)
          .withColumn("__z", graft.functions.ZOrder.morton3(
            col("user_id"), expr(s"ts_ns div $hourNs"),
            floor(col("value")).cast("long")))
          .repartitionByRange(8, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
          .write.mode("overwrite").parquet(staging.getAbsolutePath)
      }
    }

  /** HILBERT-clustered events artifact (ZOrder.hilbert2): the same 2-D
    * (user, hour) clustering as eventsZorderDir but along the CONTINUOUS
    * curve — no Morton Z-seams, so a sort chunk is one connected blob and
    * range slices keep strictly fewer surviving chunks (ZOrderSpec's
    * survivor table quantifies where it wins and where the two tie). The
    * hour coordinate is re-based to the fixture's first day so both
    * coordinates genuinely occupy [0, 2^11) — Hilbert's rotations are NOT
    * invariant to constant high bits the way Morton's plain interleave is,
    * so the re-base is load-bearing, not cosmetic.
    */
  private def eventsHilbertDir(s: SparkSession, dir: String): String =
    GraftCache.memoAny(s"$dir/eventshilbert") {
      val k = ArtifactIO.contentKey(s"$dir|hilbert|v1",
        new java.io.File(s"$dir/events.parquet"))
      val out = new java.io.File(sys.props("java.io.tmpdir"), s"graft_eventshilbert_$k")
      ArtifactIO.publishDir(out, valid = o => new java.io.File(o, "_SUCCESS").isFile) { staging =>
        val hourNs = 3600L * 1000000000L
        val baseNs = 1704067200L * 1000000000L // 2024-01-01, the fixture's floor
        Tables.events(s, dir)
          .withColumn("__h", graft.functions.ZOrder.hilbert2(
            col("user_id"), expr(s"(ts_ns - ${baseNs}L) div $hourNs"), bits = 11))
          .repartitionByRange(8, col("__h"))
          .sortWithinPartitions("__h")
          .drop("__h")
          .write.mode("overwrite").parquet(staging.getAbsolutePath)
      }
    }

  /** SMB (sort-merge-bucket) join substrate: two per-user rollups written as
    * BUCKETED, bucket-SORTED tables on the join key. Joining them is the
    * zero-exchange, zero-sort join — both sides' layouts already satisfy the
    * SortMergeJoin's distribution AND ordering requirements, so the join
    * reads bucket files straight into the merge. At 100 TB this is the
    * fact-fact join discipline: pay the layout once at write time, never
    * shuffle either side again (the graph artifact already does this for
    * one side; this is the both-sides form).
    */
  private def eventsSmbDir(s: SparkSession, dir: String): String =
    GraftCache.memoAny(s"$dir/eventssmb") {
      val k = ArtifactIO.contentKey(s"$dir|smb|v1",
        new java.io.File(s"$dir/events.parquet"))
      val out = new java.io.File(sys.props("java.io.tmpdir"), s"graft_eventssmb_$k")
      ArtifactIO.publishDir(out, valid = o =>
        new java.io.File(o, "purch/_SUCCESS").isFile &&
          new java.io.File(o, "clicks/_SUCCESS").isFile) { staging =>
        val ev = Tables.events(s, dir)
        ArtifactIO.writeBucketed(
          ev.filter(col("event_type") === "purchase")
            .groupBy("user_id")
            .agg(count(lit(1)).as("n_p"), sum(micros(col("value"))).as("sum_p_us")),
          s"${staging.getAbsolutePath}/purch", "user_id", KnnGraph.EdgeBuckets)
        ArtifactIO.writeBucketed(
          ev.filter(col("event_type") === "click")
            .groupBy("user_id").agg(count(lit(1)).as("n_c")),
          s"${staging.getAbsolutePath}/clicks", "user_id", KnnGraph.EdgeBuckets)
      }
    }

  /** TableLog demo table: version 1 = events before the incremental cut
    * day, version 2 = the full table (a non-overlapping partition-level
    * append). Both commits go through `overwritePartitions`, so every
    * manifest entry carries its day TAG — version contents are identical
    * to the plain overwrite+append history (the day sets are disjoint),
    * but readers get manifest-level pruning (readWhere) and version pairs
    * diff row-level (changeFeed) on top. Built once per fixture content
    * under ArtifactIO's staged-publish discipline so concurrent builders
    * can't double-commit.
    */
  private def eventsTimetravelDir(s: SparkSession, dir: String): String =
    GraftCache.memoAny(s"$dir/eventstt") {
      val k = ArtifactIO.contentKey(s"$dir|timetravel|v3", // v3: + ts_ns stats
        new java.io.File(s"$dir/events.parquet"))
      val out = new java.io.File(sys.props("java.io.tmpdir"), s"graft_eventstt_$k")
      ArtifactIO.publishDir(out,
        valid = o => graft.sources.TableLog.headVersion(o.getAbsolutePath) == 3) { staging =>
        val cut = lit(IncrCutDay).cast("date")
        val withDay = eventsWithDay(s, dir)
          .select(col("event_id"), col("ts_ns"), col("event_type"),
            micros(col("value")).as("us"), col("day"))
        // every commit records per-directory ts_ns min/max into its
        // manifest entries — the data-skipping demo (q_events_stats_pruned)
        // prunes on a VALUE predicate over these, orthogonally to the tags
        val stats = Seq("ts_ns")
        graft.sources.TableLog.overwritePartitions(
          withDay.filter(col("day") < cut), staging.getAbsolutePath, "day",
          statsCols = stats)
        graft.sources.TableLog.overwritePartitions(
          withDay.filter(col("day") >= cut), staging.getAbsolutePath, "day",
          statsCols = stats)
        // v3: replace the prune day with its click rows only — a
        // partition-level delete, so a version pair exists whose change
        // feed carries BOTH ops (q_events_changefeed)
        graft.sources.TableLog.overwritePartitions(
          withDay.filter(col("day") === lit(TtPruneDay).cast("date") &&
            col("event_type") === "click"),
          staging.getAbsolutePath, "day", statsCols = stats)
      }
    }

  /** SCHEMA-EVOLUTION artifact: v1 commits the pre-cut events WITHOUT the
    * value column (the early pipeline didn't extract it), v2 appends the
    * post-cut slice WITH it. Both DDLs live in the manifest; the head read
    * resolves the drift from the log (old dirs null-backfill `us`, newest
    * column order wins) — TableLog.readEntries, never a footer merge.
    */
  private def eventsEvolveDir(s: SparkSession, dir: String): String =
    GraftCache.memoAny(s"$dir/eventsevo") {
      val k = ArtifactIO.contentKey(s"$dir|evolve|v1",
        new java.io.File(s"$dir/events.parquet"))
      val out = new java.io.File(sys.props("java.io.tmpdir"), s"graft_eventsevo_$k")
      ArtifactIO.publishDir(out, valid = o =>
        graft.sources.TableLog.headVersion(o.getAbsolutePath) == 2) { staging =>
        val cut = lit(IncrCutDay).cast("date")
        val withDay = eventsWithDay(s, dir)
        graft.sources.TableLog.overwrite(
          withDay.filter(col("day") < cut)
            .select(col("event_id"), col("ts_ns"), col("event_type")),
          staging.getAbsolutePath)
        graft.sources.TableLog.append(
          withDay.filter(col("day") >= cut)
            .select(col("event_id"), col("ts_ns"), col("event_type"),
              micros(col("value")).as("us")),
          staging.getAbsolutePath)
      }
    }

  /** CLUSTERED-OPTIMIZE artifact: v1 commits the events projection as one
    * unclustered directory; v2 is `TableLog.overwriteClustered` by the top
    * 4 bits of the Hilbert code over (user_id, rebased hour) — 16 curve
    * quadrants, one directory each — with per-dir min/max on BOTH ts_ns
    * and user_id. After the rewrite a range predicate on EITHER dimension
    * (or their conjunction — readWhereRanges) prunes at the manifest; the
    * 1-D day-tag layout (eventsTimetravelDir) gives that to time alone.
    */
  private def eventsOptimizeDir(s: SparkSession, dir: String): String =
    GraftCache.memoAny(s"$dir/eventsopt") {
      val k = ArtifactIO.contentKey(s"$dir|optimize|v2", // v2: zBucket-normalized curve
        new java.io.File(s"$dir/events.parquet"))
      val out = new java.io.File(sys.props("java.io.tmpdir"), s"graft_eventsopt_$k")
      ArtifactIO.publishDir(out, valid = o =>
        graft.sources.TableLog.headVersion(o.getAbsolutePath) == 2) { staging =>
        val hourNs = 3600L * 1000000000L
        val baseNs = 1704067200L * 1000000000L // 2024-01-01, the fixture floor
        val hourIx = expr(s"(ts_ns - ${baseNs}L) div $hourNs")
        val ev = Tables.events(s, dir).select(col("event_id"), col("ts_ns"),
          col("user_id"), col("event_type"), micros(col("value")).as("us"))
        graft.sources.TableLog.overwrite(ev, staging.getAbsolutePath)
        // OPTIMIZE legitimately scans; the domain bounds for the zBucket
        // normalization come from that scan (raw coordinates occupy a
        // corner of their bit range — unnormalized, most top-level curve
        // cells would be empty and the bucketization collapses; ZOrder's
        // scaladoc documents exactly this trap)
        val head = graft.sources.TableLog.read(s, staging.getAbsolutePath, Some(1))
        val b = head.agg(max("user_id"), max(hourIx)).head()
        val curve = graft.functions.ZOrder.hilbert2(
          graft.functions.ZOrder.zBucket(col("user_id"), b.getLong(0) + 1, 5),
          graft.functions.ZOrder.zBucket(hourIx, b.getLong(1) + 1, 5),
          bits = 5)
        graft.sources.TableLog.overwriteClustered(
          head, staging.getAbsolutePath,
          shiftright(curve, 6), // 16 top-level curve cells, one dir each
          statsCols = Seq("ts_ns", "user_id"))
      }
    }

  /** RESTORE artifact: v1 the pre-cut slice, v2 an "accidental" overwrite
    * (click rows only), v3 = TableLog.restore(1) — the undo. The head
    * must read back as v1's exact content with zero data copied (the
    * restore commit references v1's directories verbatim).
    */
  private def eventsRestoreDir(s: SparkSession, dir: String): String =
    GraftCache.memoAny(s"$dir/eventsrestore") {
      val k = ArtifactIO.contentKey(s"$dir|restore|v1",
        new java.io.File(s"$dir/events.parquet"))
      val out = new java.io.File(sys.props("java.io.tmpdir"), s"graft_eventsrst_$k")
      ArtifactIO.publishDir(out, valid = o =>
        graft.sources.TableLog.headVersion(o.getAbsolutePath) == 3) { staging =>
        val cut = lit(IncrCutDay).cast("date")
        val ev = eventsWithDay(s, dir).select(col("event_id"), col("ts_ns"),
          col("event_type"), micros(col("value")).as("us"), col("day"))
        graft.sources.TableLog.overwrite(ev.filter(col("day") < cut),
          staging.getAbsolutePath)
        graft.sources.TableLog.overwrite(
          ev.filter(col("event_type") === "click"), staging.getAbsolutePath)
        graft.sources.TableLog.restore(staging.getAbsolutePath, 1)
      }
    }

  /** CDC replay fixture: the events table as FIVE parquet micro-batch files
    * with strictly increasing mtimes — four upsert slices time-contiguous
    * in (ts_ns, event_id) with op='U', then one tombstone batch (op='D')
    * deleting every event_id ≡ 0 (mod 37), each tombstone carrying its
    * key's day (the partition-pruned read-back contract). Built once per
    * fixture content, same staged-publish discipline as the other replay
    * artifacts.
    */
  private def eventsCdcReplayDir(s: SparkSession, dir: String): String =
    GraftCache.memoAny(s"$dir/eventscdc") {
      val k = ArtifactIO.contentKey(s"$dir|cdc|v1",
        new java.io.File(s"$dir/events.parquet"))
      val out = new java.io.File(sys.props("java.io.tmpdir"), s"graft_eventscdc_$k")
      ArtifactIO.publishDir(out, valid = o =>
        Option(o.listFiles((f: java.io.File) => f.getName.endsWith(".parquet")))
          .map(_.length).getOrElse(0) == 5) { staging =>
        val base = eventsWithDay(s, dir)
          .select(col("event_id"), col("ts_ns"), col("day"),
            col("event_type"), micros(col("value")).as("us"))
        val n = base.count()
        val w = org.apache.spark.sql.expressions.Window.orderBy("ts_ns", "event_id")
        val ranked = base.withColumn("__rn", row_number().over(w))
          .withColumn("__b", (((col("__rn") - 1) * 4) / lit(n)).cast("int"))
        val raw = new java.io.File(staging, "raw")
        (0 until 4).foreach { b =>
          ranked.filter(col("__b") === b).drop("__rn", "__b")
            .select(lit("U").as("op"), col("event_id"), col("ts_ns"),
              col("day"), col("event_type"), col("us"))
            .coalesce(1).write.mode("overwrite")
            .parquet(new java.io.File(raw, s"b$b").getAbsolutePath)
        }
        base.filter(pmod(col("event_id"), lit(37)) === 0)
          .select(lit("D").as("op"), col("event_id"), col("ts_ns"),
            col("day"), col("event_type"), col("us"))
          .coalesce(1).write.mode("overwrite")
          .parquet(new java.io.File(raw, "b4").getAbsolutePath)
        val t0 = System.currentTimeMillis() - 5 * 10000L
        (0 until 5).foreach { b =>
          val part = new java.io.File(raw, s"b$b")
            .listFiles((f: java.io.File) =>
              f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
          val dst = new java.io.File(staging, f"batch_$b%03d.parquet")
          java.nio.file.Files.move(part.toPath, dst.toPath)
          dst.setLastModified(t0 + b * 5000L) // file source lists oldest-first
        }
        rmTree(new java.io.File(raw.getAbsolutePath))
      }
    }

  private def eventsByDateDir(s: SparkSession, dir: String): String =
    GraftCache.memoAny(s"$dir/eventsbydate") {
      val k = ArtifactIO.contentKey(s"$dir|bydate|v2", // v2: floor-day arithmetic
        new java.io.File(s"$dir/events.parquet"))
      val out = new java.io.File(sys.props("java.io.tmpdir"), s"graft_eventsbydate_$k")
      ArtifactIO.publishDir(out, valid = o => new java.io.File(o, "_SUCCESS").isFile) { staging =>
        eventsWithDay(s, dir)
          .repartition(col("day"))
          .write.mode("overwrite").partitionBy("day")
          .parquet(staging.getAbsolutePath)
      }
    }

  /** Incrementally-maintained variant of the date-partitioned artifact: a
    * bootstrap load of days before `IncrCutDay`, then a DELTA batch (the
    * cutover day minus one onward — a one-day overlap, the late-data /
    * reprocessing case) applied with `partitionOverwriteMode=dynamic`, so
    * only the day partitions the delta TOUCHES are replaced and the
    * bootstrap days' files are never rewritten. This is the 100 TB
    * maintenance pattern: daily ingestion replaces O(delta) partitions, not
    * the store — and the mode matters, because the default STATIC overwrite
    * semantics of `mode("overwrite")` on a partitioned path truncates every
    * partition first (IncrementalSpec pins both behaviors). The final
    * content must equal the one-shot full build — the oracle replays the
    * raw table.
    */
  private[graft] val IncrCutDay = "2024-01-20"
  /** Day the manifest-pruned TableLog read targets (inside the fixture's
    * 2024-01-01..30 span at every sf). */
  private[graft] val TtPruneDay = "2024-01-05"
  private def eventsIncrementalDir(s: SparkSession, dir: String): String =
    GraftCache.memoAny(s"$dir/eventsincr") {
      val k = ArtifactIO.contentKey(s"$dir|incr|v1",
        new java.io.File(s"$dir/events.parquet"))
      val out = new java.io.File(sys.props("java.io.tmpdir"), s"graft_eventsincr_$k")
      ArtifactIO.publishDir(out, valid = o => new java.io.File(o, "_SUCCESS").isFile) { staging =>
        val cut = lit(IncrCutDay).cast("date")
        val withDay = eventsWithDay(s, dir)
        withDay.filter(col("day") < cut)
          .repartition(col("day"))
          .write.mode("overwrite").partitionBy("day")
          .parquet(staging.getAbsolutePath)
        val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try withDay.filter(col("day") >= date_sub(cut, 1))
          .repartition(col("day"))
          .write.mode("overwrite").partitionBy("day")
          .parquet(staging.getAbsolutePath)
        finally prev match {
          case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
      }
    }

  /** The persisted kNN-graph artifact dir (edges + accessibility) for a
    * scale dir — same publish discipline as the IVF index:
    * fixture-fingerprint key, staging build, one atomic rename; an existing
    * valid artifact is reused without rewriting (write-once across JVMs,
    * not per session). The ai statistic is one integer-nano-sum form in
    * every run mode now (no parity/scale split), so the artifact key needs
    * no mode tag — the `v3` bump retires any mode-tagged artifact a
    * pre-round-15 JVM left on the machine. Shared by graph_cold_read
    * and every graph-traversal ANN consumer.
    */
  private def graphArtifactDir(s: SparkSession, dir: String): String =
    GraftCache.memoAny(s"$dir/graphdir") {
      val k = ArtifactIO.contentKey(s"$dir|m=$M|v3", // v3: nano-sum ai, no mode tag
        new java.io.File(s"$dir/embeddings.parquet"))
      val out = new java.io.File(sys.props("java.io.tmpdir"), s"graft_knngraph_$k")
      ArtifactIO.publishDir(out, valid = o =>
        new java.io.File(o, "edges/_SUCCESS").isFile &&
          new java.io.File(o, "ai/_SUCCESS").isFile) { staging =>
        KnnGraph.write(staging.getAbsolutePath, edges(s, dir), ai(s, dir))
      }
    }

  /** The rep layer: the 1-in-RepMod keyed-md5 corpus sample (a per-row
    * predicate, not a LIMIT — closed-form, so the oracle replays membership
    * row-by-row with the shared Horner md5-mod).
    */
  private def repsOf(emb: DataFrame): DataFrame =
    emb.filter(graft.functions.GraftCols.md5Mod(
      concat(col("vec_id").cast("string"), lit("|grep")), RepMod) === 0L)

  /** The LAYERED graph-ANN artifact: the rep layer's own kNN edge table,
    * persisted bucketed by src exactly like the base graph — at scale the
    * coarse layer is a table 8× smaller than the base graph that phase-1
    * rounds join against with no edge-side exchange. The base layer is the
    * existing graphArtifactDir; together they are HNSW's hierarchy as two
    * write-once parquet tables.
    */
  private def graphLayeredDir(s: SparkSession, dir: String): String =
    GraftCache.memoAny(s"$dir/graphlayered") {
      val k = ArtifactIO.contentKey(s"$dir|m=$M|rep=$RepMod|v1",
        new java.io.File(s"$dir/embeddings.parquet"))
      val out = new java.io.File(sys.props("java.io.tmpdir"), s"graft_graphrep_$k")
      ArtifactIO.publishDir(out, valid = o =>
        new java.io.File(o, "repedges/_SUCCESS").isFile) { staging =>
        ArtifactIO.writeBucketed(
          KnnGraph.edges(repsOf(Tables.embeddings(s, dir)), M)
            .select(col("src"), col("dst"), col("dist")),
          s"${staging.getAbsolutePath}/repedges", "src", KnnGraph.EdgeBuckets)
      }
    }

  /** The widened-beam layered traversal both graph-hybrid queries consume:
    * ann_filtered_graph_topk (the answer) and ann_filtered_graph_recall
    * (its acceptance gauge) ran the IDENTICAL search — same probes, same
    * layers, same survivor-aware beam — twice per pass. One memoized
    * traversal serves both (the graphAnnLayeredShared discipline).
    */
  private def filteredGraphCandShared(s: SparkSession, dir: String): DataFrame =
    GraftCache.memo(s"$dir/filteredgraphcand") {
      val emb = Tables.embeddings(s, dir)
      val (baseEdges, _) = KnnGraph.read(s, graphArtifactDir(s, dir))
      val repEdges = ArtifactIO.readBucketed(s,
        s"${graphLayeredDir(s, dir)}/repedges",
        "src BIGINT, dst BIGINT, dist DOUBLE", "src", KnnGraph.EdgeBuckets)
      val bw = filteredGraphBeam(s, dir)
      GraphAnn.layeredSearch(emb.filter(col("vec_id") < 100),
        embBucketed(s, dir), repEdges, baseEdges,
        GraphAnn.entryPoints(repsOf(emb), GraphEntries),
        k = bw, repBeam = RepBeam, baseBeam = bw,
        repRounds = RepRounds, baseRounds = BaseRounds)
    }

  private def graphAnnLayeredShared(s: SparkSession, dir: String): DataFrame =
    GraftCache.memo(s"$dir/graphannlayered") {
      val emb = Tables.embeddings(s, dir)
      val (baseEdges, _) = KnnGraph.read(s, graphArtifactDir(s, dir))
      val repEdges = ArtifactIO.readBucketed(s,
        s"${graphLayeredDir(s, dir)}/repedges",
        "src BIGINT, dst BIGINT, dist DOUBLE", "src", KnnGraph.EdgeBuckets)
      GraphAnn.layeredSearch(emb.filter(col("vec_id") < 100),
        embBucketed(s, dir), repEdges, baseEdges,
        GraphAnn.entryPoints(repsOf(emb), GraphEntries),
        k = 10, repBeam = RepBeam, baseBeam = BaseBeam,
        repRounds = RepRounds, baseRounds = BaseRounds)
    }

  /** INCREMENTAL-INSERT artifact (GraphAnn.insertBatch): the corpus is split
    * by a keyed-md5 1-in-InsMod predicate into an OLD corpus (whose layered
    * artifact — base + rep kNN edges — is built from scratch) and a NEW
    * batch inserted HNSW-style: layered search against the old artifact at
    * insert beam 2M (efConstruction = out-degree cap), final beams become
    * the new nodes' out-edges, touched neighbors re-trim to their best 2M.
    * The artifact persists the OLD layers, both INCREMENTED layers (all
    * bucketed by src — searches over them consume the layout exchange-free
    * like the main graph), and the insert SUMMARY (per-src adjacency
    * fingerprints of every new/re-trimmed list — what ann_graph_insert
    * checks against the SQL replay of the whole procedure).
    */
  private val InsMod  = 16
  private val InsBeam = 2 * M // efConstruction = outDeg: final beam IS the edge list
  private def graphInsertDir(s: SparkSession, dir: String): String =
    GraftCache.memoAny(s"$dir/graphins") {
      val k = ArtifactIO.contentKey(s"$dir|m=$M|ins=$InsMod|rep=$RepMod|v1",
        new java.io.File(s"$dir/embeddings.parquet"))
      val out = new java.io.File(sys.props("java.io.tmpdir"), s"graft_graphins_$k")
      ArtifactIO.publishDir(out, valid = o =>
        Seq("inedges", "inrep", "summary").forall(d =>
          new java.io.File(o, s"$d/_SUCCESS").isFile)) { staging =>
        val emb = Tables.embeddings(s, dir)
        val isNew = graft.functions.GraftCols.md5Mod(
          concat(col("vec_id").cast("string"), lit("|gins")), InsMod) === 0L
        val oldC = emb.filter(!isNew)
        val newC = emb.filter(isNew)
        val oldBase = KnnGraph.edges(oldC, M).select("src", "dst", "dist")
          .localCheckpoint()
        val oldRep = KnnGraph.edges(repsOf(oldC), M).select("src", "dst", "dist")
          .localCheckpoint()
        val isRep = graft.functions.GraftCols.md5Mod(
          concat(col("vec_id").cast("string"), lit("|grep")), RepMod) === 0L
        val (base, rep) = GraphAnn.insertBatch(newC, oldRep, oldBase,
          GraphAnn.entryPoints(repsOf(oldC), GraphEntries), oldC, isRep,
          outDeg = 2 * M, insBeam = InsBeam,
          repRounds = RepRounds, baseRounds = BaseRounds)
        ArtifactIO.writeBucketed(base.incremented,
          s"${staging.getAbsolutePath}/inedges", "src", KnnGraph.EdgeBuckets)
        ArtifactIO.writeBucketed(rep.incremented,
          s"${staging.getAbsolutePath}/inrep", "src", KnnGraph.EdgeBuckets)
        adjacencyFp(base.newEdges, "base_new")
          .unionByName(adjacencyFp(base.retrimmed, "base_trim"))
          .unionByName(adjacencyFp(rep.newEdges, "rep_new"))
          .unionByName(adjacencyFp(rep.retrimmed, "rep_trim"))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"${staging.getAbsolutePath}/summary")
      }
    }

  /** INCREMENTAL-DELETE artifact (GraphAnn.deleteLayer): victims are a
    * keyed-md5 1-in-DelMod slice of the corpus; BOTH layers of the standard
    * full-corpus layered artifact (base kNN graph + rep layer) are repaired
    * by the delete-consolidation rule — losers inherit their victims'
    * surviving out-neighbors, grouped re-trim to 2M. Persists the repaired
    * layers (bucketed by src, searches consume the layout exchange-free)
    * and the delete SUMMARY (per-src fingerprints of every re-trimmed
    * list — what ann_graph_delete checks against the closed-form SQL
    * replay of the repair rule).
    */
  /** Per-src adjacency-list fingerprint (edge count, nano-sum of dists,
    * dst sum) — the summary layout BOTH mutation artifacts persist and
    * their oracles replay; one definition so the formula can never drift
    * between the insert and delete summaries and their SQL mirrors.
    */
  private def adjacencyFp(df: DataFrame, part: String): DataFrame =
    df.groupBy("src").agg(
      count(lit(1)).as("n_edges"),
      sum(floor(col("dist") * lit(1.0e9) + lit(0.5)).cast("long"))
        .as("sum_dist_nanos"),
      sum("dst").as("sum_dst"))
      .select(lit(part).as("part"), col("src"), col("n_edges"),
        col("sum_dist_nanos"), col("sum_dst"))

  private val DelMod = 16
  private def graphDeleteDir(s: SparkSession, dir: String): String =
    GraftCache.memoAny(s"$dir/graphdel") {
      val k = ArtifactIO.contentKey(s"$dir|m=$M|del=$DelMod|rep=$RepMod|v1",
        new java.io.File(s"$dir/embeddings.parquet"))
      val out = new java.io.File(sys.props("java.io.tmpdir"), s"graft_graphdel_$k")
      ArtifactIO.publishDir(out, valid = o =>
        Seq("deledges", "delrep", "summary").forall(d =>
          new java.io.File(o, s"$d/_SUCCESS").isFile)) { staging =>
        val emb = Tables.embeddings(s, dir)
        val victims = emb.filter(isDelVictim).select(col("vec_id").as("node"))
        val (baseEdges, _) = KnnGraph.read(s, graphArtifactDir(s, dir))
        val repEdges = ArtifactIO.readBucketed(s,
          s"${graphLayeredDir(s, dir)}/repedges",
          "src BIGINT, dst BIGINT, dist DOUBLE", "src", KnnGraph.EdgeBuckets)
        val base = GraphAnn.deleteLayer(victims,
          baseEdges.select("src", "dst", "dist"), emb, 2 * M)
        val rep = GraphAnn.deleteLayer(
          victims.join(repsOf(emb).select(col("vec_id").as("node")), "node"),
          repEdges.select("src", "dst", "dist"), emb, 2 * M)
        ArtifactIO.writeBucketed(base.repaired,
          s"${staging.getAbsolutePath}/deledges", "src", KnnGraph.EdgeBuckets)
        ArtifactIO.writeBucketed(rep.repaired,
          s"${staging.getAbsolutePath}/delrep", "src", KnnGraph.EdgeBuckets)
        adjacencyFp(base.retrimmed, "base_trim")
          .unionByName(adjacencyFp(rep.retrimmed, "rep_trim"))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"${staging.getAbsolutePath}/summary")
      }
    }
  private def isDelVictim: org.apache.spark.sql.Column =
    graft.functions.GraftCols.md5Mod(
      concat(col("vec_id").cast("string"), lit("|gdel")), DelMod) === 0L

  /** BUILD-BY-INSERTION artifact (KnnGraph.buildByInsertion): the whole
    * layered graph built WITHOUT one exact all-pairs pass — a keyed-md5
    * SeedChunks-in-BuildChunks seed exact-built, the other chunks added
    * HNSW-style through GraphAnn.insertBatch chained (each batch searches
    * the artifact built so far). Persists both final layers (bucketed by
    * src — searches consume the layout exchange-free) and the summary
    * (per-src adjacency fingerprints of the FINAL layers, which pin the
    * entire chained procedure — what ann_graph_build_incremental checks
    * against the chained SQL replay of seed + every insert step).
    */
  private val BuildChunks = 8
  private val SeedChunks  = 4 // seed = half; each batch 1/8, ≤ 1/4 of its graph
  private val BuildBeam   = 4 * M // efConstruction = 2× the out-degree cap
  private def graphBuildDir(s: SparkSession, dir: String): String =
    GraftCache.memoAny(s"$dir/graphbuild") {
      val k = ArtifactIO.contentKey(
        s"$dir|m=$M|bld=$SeedChunks/$BuildChunks|eb=$BuildBeam|rep=$RepMod|v1",
        new java.io.File(s"$dir/embeddings.parquet"))
      val out = new java.io.File(sys.props("java.io.tmpdir"), s"graft_graphbld_$k")
      ArtifactIO.publishDir(out, valid = o =>
        Seq("bldedges", "bldrep", "summary").forall(d =>
          new java.io.File(o, s"$d/_SUCCESS").isFile)) { staging =>
        val emb = Tables.embeddings(s, dir)
        val isRep = graft.functions.GraftCols.md5Mod(
          concat(col("vec_id").cast("string"), lit("|grep")), RepMod) === 0L
        val (base, rep) = KnnGraph.buildByInsertion(emb, M, isRep, GraphEntries,
          BuildChunks, RepRounds, BaseRounds, seedChunks = SeedChunks,
          insBeam = BuildBeam)
        ArtifactIO.writeBucketed(base,
          s"${staging.getAbsolutePath}/bldedges", "src", KnnGraph.EdgeBuckets)
        ArtifactIO.writeBucketed(rep,
          s"${staging.getAbsolutePath}/bldrep", "src", KnnGraph.EdgeBuckets)
        adjacencyFp(base, "base")
          .unionByName(adjacencyFp(rep, "rep"))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"${staging.getAbsolutePath}/summary")
      }
    }

  /** NN-DESCENT-refined base layer (KnnGraph.refine, one round over the
    * chunk-built artifact): the r19 graph-QUALITY pass. Chunked insertion
    * compounds within-batch blindness at scale — the 5M probe's artifact
    * held 13.5% of the true top-10 as direct edges, capping beam recall at
    * 0.70 at ANY width — and one local-join round recovers most of it
    * (probe numbers in DESIGN). At fixture scale the same round is cheap
    * and oracle-replayable (ann_graph_refine pins every capped window and
    * candidate score in SQL).
    */
  private def graphRefinedShared(s: SparkSession, dir: String): DataFrame =
    GraftCache.memo(s"$dir/graphrefined") {
      val art = graphBuildDir(s, dir)
      KnnGraph.refine(
        ArtifactIO.readBucketed(s, s"$art/bldedges",
          "src BIGINT, dst BIGINT, dist DOUBLE", "src", KnnGraph.EdgeBuckets),
        embBucketed(s, dir), 2 * M, rounds = 1)
    }

  /** The corpus as a BUCKETED-by-vec_id table — the edge artifact's layout
    * treatment applied to graph search's OTHER per-round join (candidate
    * scoring): beam rounds then join candidates against the corpus with no
    * corpus-side exchange either (GraphAnnSpec gates both joins). Any
    * serious vector deployment stores its corpus bucketed/clustered by id;
    * this artifact is that table for a scale dir. Same content-keyed
    * publish discipline as the graph/IVF artifacts.
    */
  private def embBucketedDir(s: SparkSession, dir: String): String =
    GraftCache.memoAny(s"$dir/embbucket") {
      val k = ArtifactIO.contentKey(s"$dir|embbucket|v1",
        new java.io.File(s"$dir/embeddings.parquet"))
      val out = new java.io.File(sys.props("java.io.tmpdir"), s"graft_embbucket_$k")
      ArtifactIO.publishDir(out, valid = o => new java.io.File(o, "_SUCCESS").isFile) { staging =>
        ArtifactIO.writeBucketed(
          Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
          staging.getAbsolutePath, "vec_id", 32)
      }
    }

  private def embBucketed(s: SparkSession, dir: String): DataFrame =
    ArtifactIO.readBucketed(s, embBucketedDir(s, dir),
      "vec_id BIGINT, embedding ARRAY<FLOAT>", "vec_id", 32)

  /** Shared per-(query, doc) BM25 scores for the fixed query set — the OR
    * and AND top-k variants differ only in the arity filter, so the
    * postings build pays once (the checkpoint inside Bm25.scores holds the
    * materialized tf frame for both consumers).
    */
  private def bm25ScoredShared(s: SparkSession, dir: String): DataFrame =
    GraftCache.memo(s"$dir/bm25scores") {
      import s.implicits._
      Bm25.scores(Tables.documents(s, dir), bm25Queries.toDF("query_id", "term"))
    }

  /** The shared graph-traversal ANN result for the standard query sample
    * (first 100 vectors, top-10): both the top-k dump and the recall gauge
    * consume it, and the beam search is the whole cost — memoized like
    * rawKnn. Rides the PERSISTED edge artifact
    * (read cold from parquet), not the in-session edges frame: graph search
    * is the index's query path, and its 100 TB deployment reads the
    * write-once graph table.
    */
  private def graphAnnShared(s: SparkSession, dir: String): DataFrame =
    GraftCache.memo(s"$dir/graphann") {
      val emb = Tables.embeddings(s, dir)
      val (edgesDf, _) = KnnGraph.read(s, graphArtifactDir(s, dir))
      GraphAnn.beamSearch(emb.filter(col("vec_id") < 100), embBucketed(s, dir),
        edgesDf, GraphAnn.entryPoints(emb, GraphEntries),
        k = 10, beam = GraphBeam, rounds = GraphRounds)
    }

  /** Deterministic cross-modal probe vectors: asset payload → keyed md5
    * gaussians, float32 like the corpus — the stand-in for a real encoder
    * (no model weights in this toolchain); the whole chain SQL-replayable.
    * Shared by the IVF and graph-traversal cross-modal queries.
    */
  private def assetProbes(s: SparkSession, dir: String): DataFrame = {
    val dCount = D
    val probeUdf = udf((payload: Array[Byte]) => {
      val key = Hashing.md5Hex(new String(payload, java.nio.charset.StandardCharsets.UTF_8))
      Array.tabulate(dCount)(i => Hashing.gauss(s"xm|$key|$i").toFloat)
    })
    Multimodal.assetsFromDocuments(Tables.documents(s, dir))
      .filter(col("asset_id") < 100)
      .select(col("asset_id").as("vec_id"), probeUdf(col("payload")).as("embedding"))
  }

  /** The PQ/ADC scan for the standard query sample: corpus rows are
    * PQ-encoded then RECONSTRUCTED in the map (argmin code per subspace,
    * ties to the lower code — identical to embed_pq), and the exact fold-L2
    * kernel runs queries against the reconstructed corpus. Memoized like
    * rawKnn (both the top-k dump and the recall gauge consume it).
    */
  private def pqReconSearch(s: SparkSession, dir: String, k: Int): DataFrame =
    GraftCache.memo(s"$dir/pqadc") {
      val emb = Tables.embeddings(s, dir)
      Knn.exact(emb.filter(col("vec_id") < 100), pqReconCorpus(s, dir), k, kernel = "fold")
    }

  /** The probed-ADC composite search (IVF coarse probe over real-vector
    * assignments, asymmetric-cosine re-rank against the PQ reconstruction),
    * memoized like the other derived search frames — the top-k dump and the
    * recall gauge both consume it.
    */
  private def ivfPqSearch(s: SparkSession, dir: String): DataFrame =
    GraftCache.memo(s"$dir/ivfpqadc") {
      val emb = Tables.embeddings(s, dir)
      val (centroids, assigned) = ivfDet(s, dir)
      val reconAssigned = assigned.select(col("vec_id"), col("cluster"))
        .join(pqReconCorpus(s, dir), "vec_id")
      Ann.ivfDetSearch(emb.filter(col("vec_id") < 100), reconAssigned, centroids,
        k = 10, nprobe = 4)
    }

  /** The IVFADC index build: a TRAINED coarse quantizer + a TRAINED
    * residual codebook, both refined one Lloyd step from the closed-form
    * keyed samples — because residual encoding only pays when the coarse
    * centroids are cell MEANS: a sampled-data-point "centroid" leaves
    * residuals ~1.5× the raw vector's energy in high dimension (two random
    * points are near-orthogonal), and the prototype sweep measured residual
    * coding LOSING recall against raw coding under sampled centroids
    * (0.177 vs 0.194 @ sf0.1) but winning 0.243 once both stages take one
    * mean step (DESIGN.md "IVFADC"). Every mean is ORDER-FREE and
    * oracle-replayable: per-element integer-micros sums (exact bigints,
    * associative) divided driver-side — the embed_quantize technique — so
    * the whole trained index stays closed-form SQL. Driver state is
    * bounded: two 1024-row stats collects + a 16-row sample; every
    * distributed pass is map-only over broadcast codebooks (the write-once
    * 100 TB index-build shape). Returns (refined float32 centroids,
    * assignment frame vs them, per-(subspace, code) refined codewords).
    */
  private def ivfAdcIndex(s: SparkSession, dir: String)
      : (Array[Array[Float]], DataFrame, Array[Array[Array[Double]]]) =
    GraftCache.memoAny(s"$dir/ivfadcidx") {
      val emb = Tables.embeddings(s, dir)
      val mSub = 8; val dSub = D / 8
      def foldArgmin(v: Array[Float], cs: Array[Array[Float]]): Int = {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          var s2 = 0.0; var j = 0
          while (j < v.length) {
            val d = v(j).toDouble - cs(c)(j).toDouble
            s2 += d * d; j += 1
          }
          if (s2 < bestD) { bestD = s2; best = c } // ties to the lower id
          c += 1
        }
        best
      }
      // one coarse Lloyd step from the shared "ivf" sample (Ann.lloydRefine:
      // micros-sum means, empty cells keep their init point) — steps = 1 is
      // this index's pinned default; the knob's recall-vs-steps behavior is
      // quantified by IvfScaleProbe's refine gauge (DESIGN §4)
      val cents1 = Ann.lloydRefine(emb, Ann.ivfDetCentroids(emb, nlist = 16), steps = 1)
      val assigned = GraftCache.track(Ann.ivfDetAssign(emb, cents1))
      // residual codebook init: the "pqres" keyed sample's residuals vs
      // their OWN refined cell (the same fold argmin the corpus pass uses)
      val rcb0: Array[Array[Double]] = emb.select(col("vec_id"), col("embedding"))
        .orderBy(md5(concat(lit("pqres|"), col("vec_id").cast("string"))), col("vec_id"))
        .limit(16)
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray)
        .map { v =>
          val mu = cents1(foldArgmin(v, cents1))
          Array.tabulate(v.length)(j => v(j).toDouble - mu(j).toDouble)
        }
      // one codebook Lloyd step on the residuals: assign every (row,
      // subspace) against the init codebook, micros-sum per (u, code, j)
      val bcC = s.sparkContext.broadcast(cents1)
      val bcR0 = s.sparkContext.broadcast(rcb0)
      val statUdf = udf((e: Seq[Float], cluster: Int) => {
        val cs = bcC.value; val rb = bcR0.value
        val a = e.toArray; val mu = cs(cluster)
        val r = new Array[Double](a.length)
        var j = 0
        while (j < a.length) { r(j) = a(j).toDouble - mu(j).toDouble; j += 1 }
        val out = new Array[(Int, Int, Int, Long)](a.length)
        var u = 0
        while (u < mSub) {
          val off = u * dSub
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < rb.length) {
            var s2 = 0.0; var k = 0
            while (k < dSub) {
              val d = r(off + k) - rb(c)(off + k)
              s2 += d * d; k += 1
            }
            if (s2 < bestD) { bestD = s2; best = c }
            c += 1
          }
          var k = 0
          while (k < dSub) {
            out(off + k) = (u, best, k,
              math.floor(r(off + k) * 1000000.0 + 0.5).toLong)
            k += 1
          }
          u += 1
        }
        out.toSeq
      })
      val rstat = assigned
        .select(explode(statUdf(col("embedding"), col("cluster"))).as("t"))
        .groupBy(col("t._1").as("u"), col("t._2").as("code"), col("t._3").as("j"))
        .agg(sum(col("t._4")).as("m"), count(lit(1)).as("n"))
        .collect()
      val rcb1: Array[Array[Array[Double]]] =
        Array.tabulate(mSub)(u => Array.tabulate(rcb0.length)(c =>
          Array.tabulate(dSub)(j => rcb0(c)(u * dSub + j))))
      rstat.foreach { r =>
        rcb1(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          (r.getLong(3).toDouble / r.getLong(4)) / 1000000.0
      }
      (cents1, assigned, rcb1)
    }

  /** IVFADC proper — the probed-ADC composite over the TRAINED index:
    * every corpus row's residual vs its refined coarse centroid is
    * PQ-assigned against the refined residual codebook (argmin per
    * subspace, ties to the lower code), reconstruction = centroid +
    * codeword, float32-cast (the lane both engines share). Same probe
    * shape and 8×16 code budget as ivfPqSearch — the recall delta between
    * the two gauges is the residual(+training) gain. Map-only recon over
    * two tiny broadcasts, then the unchanged ivfDetSearch machinery;
    * memoized (top-k dump + recall gauge both consume it).
    */
  private def ivfAdcSearch(s: SparkSession, dir: String): DataFrame =
    GraftCache.memo(s"$dir/ivfadc") {
      val emb = Tables.embeddings(s, dir)
      val (cents1, assigned, rcb1) = ivfAdcIndex(s, dir)
      val mSub = 8; val dSub = D / 8
      val bcC = s.sparkContext.broadcast(cents1)
      val bcR = s.sparkContext.broadcast(rcb1)
      val reconUdf = udf((e: Seq[Float], cluster: Int) => {
        val cs = bcC.value; val rb = bcR.value
        val a  = e.toArray; val mu = cs(cluster)
        val r  = new Array[Double](a.length)
        var j = 0
        while (j < a.length) { r(j) = a(j).toDouble - mu(j).toDouble; j += 1 }
        val out = new Array[Float](a.length)
        var u = 0
        while (u < mSub) {
          val off = u * dSub
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < rb(u).length) {
            var s2 = 0.0; var k = 0
            while (k < dSub) {
              val d = r(off + k) - rb(u)(c)(k)
              s2 += d * d; k += 1
            }
            if (s2 < bestD) { bestD = s2; best = c } // ties to the lower code
            c += 1
          }
          var k = 0
          while (k < dSub) {
            out(off + k) = (mu(off + k).toDouble + rb(u)(best)(k)).toFloat
            k += 1
          }
          u += 1
        }
        out
      })
      val reconAssigned = assigned.select(col("vec_id"),
        reconUdf(col("embedding"), col("cluster")).as("embedding"), col("cluster"))
      Ann.ivfDetSearch(emb.filter(col("vec_id") < 100), reconAssigned, cents1,
        k = 10, nprobe = 4)
    }

  /** The PQ-RECONSTRUCTED corpus (vec_id, embedding): every row replaced by
    * its codeword stitch — argmin code per subspace, ties to the lower
    * code, identical to embed_pq. Map-only over a broadcast codebook; the
    * frame both ADC scans (flat ann_pq_topk, probed ann_ivfpq_topk) decode
    * against.
    */
  private def pqReconCorpus(s: SparkSession, dir: String): DataFrame = {
    val mSub = 8; val dSub = D / 8
    val cents = Ann.ivfDetCentroids(Tables.embeddings(s, dir), nlist = 16, seed = "pq")
    val bc = s.sparkContext.broadcast(cents)
    val reconUdf = udf((e: Seq[Float]) => {
      val cs  = bc.value
      val a   = e.toArray
      val out = new Array[Float](a.length)
      var u = 0
      while (u < mSub) {
        val off = u * dSub
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          var s2 = 0.0; var j = 0
          while (j < dSub) {
            val d = a(off + j).toDouble - cs(c)(off + j).toDouble
            s2 += d * d; j += 1
          }
          if (s2 < bestD) { bestD = s2; best = c }
          c += 1
        }
        var j = 0
        while (j < dSub) { out(off + j) = cs(best)(off + j); j += 1 }
        u += 1
      }
      out
    })
    Tables.embeddings(s, dir)
      .select(col("vec_id"), reconUdf(col("embedding")).as("embedding"))
  }

  /** Per-carrier bit-level dump: (vec_id, group, message bit, keyed carrier
    * dim, embedded float32 value) — the oracle replays the codec in SQL.
    */
  private def carrierDump(carriers: DataFrame, wmDf: DataFrame): DataFrame = {
    val dimsArr = dims
    val dCount  = D
    val posUdf  = udf((cid: String) =>
      graft.functions.Bits.carrierDim(Hashing.md5Big(cid), dCount, dimsArr))
    carriers
      .join(wmDf.select(col("vec_id"), col("embedding")), "vec_id")
      .withColumn("carrier_dim", posUdf(col("content_id")).cast("long"))
      .select(col("vec_id"),
        col("group_id").cast("long").as("group_id"),
        col("wm_bit").cast("long").as("wm_bit"),
        col("carrier_dim"),
        element_at(col("embedding"), (col("carrier_dim") + 1).cast("int")).cast("double").as("new_val"))
      .orderBy("vec_id")
  }

  /** Flagship on sf0.001: RS watermark round-trip — embeds WM, extracts it
    * back, returns per-bit (wm_bit, extracted_bit) rows.
    */
  def entry(spark: SparkSession): DataFrame =
    rsRoundtrip(spark, "/root/testdata/sf0.001")

  private def rsRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val emb  = Tables.embeddings(spark, dir)
    val wmDf = Tvp.embedRs(emb, WM, Strength, D, key)
    Tvp.bitsDf(spark, WM)
      .join(Tvp.extract(wmDf, WM.length, D, key), "bit_pos")
      .select(col("bit_pos").cast("long"), col("wm_bit").cast("long"),
        col("extracted_bit").cast("long"))
      .orderBy("bit_pos")
  }

  /** Monetary/measure aggregates are exchanged as exact integer MICROS
    * (floor(x·1e6 + 0.5) per row, bigint sums): decimal sums are value-equal
    * across engines but stringify differently between the driver's read
    * paths, and double sums are partition-order dependent. Integer micros are
    * exact, associative (map-side partial agg distributes), and render
    * identically everywhere. See EventOps.micros.
    */
  private def micros(c: org.apache.spark.sql.Column) = EventOps.micros(c)
  private val streamSinkSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The fixed BM25 query set (query_id, term): common terms, a rare
    * high-idf term ('dup' occurs only in planted duplicate docs), and a
    * 4-term mix. Shared verbatim by the Spark relation and the oracle's
    * VALUES list.
    */
  private val bm25Queries: Seq[(Int, String)] = Seq(
    0 -> "spark", 0 -> "join", 0 -> "window",
    1 -> "dup", 1 -> "vector", 1 -> "hash",
    2 -> "customer", 2 -> "order", 2 -> "query", 2 -> "fast")

  /** Checkpoint base (offset/commit logs + state store files) for a finite
    * stream replay, on a RAM-backed path when one exists: a replay's
    * checkpoint is throwaway by construction (the memory sink holds the
    * result; the memo re-runs the replay on invalidation), so per-micro-
    * batch log+state fsyncs buy nothing. A real deployment points this at
    * durable storage. The path embeds the JVM pid: memory-sink queries
    * cannot RESUME a checkpoint, so colliding with a leftover dir from a
    * previous process (whose per-JVM counter restarts at 1) fails the whole
    * build. Stale same-user dirs from dead JVMs are purged best-effort
    * here — within-process cleanup happens in each memo's onClear.
    */
  private def replayCkptBase(n: Int): java.io.File = {
    val shm = new java.io.File("/dev/shm")
    val base = if (shm.isDirectory && shm.canWrite) shm
      else new java.io.File(sys.props("java.io.tmpdir"))
    val prefix = s"graft_ckpt_${sys.props("user.name")}_"
    val pid = ProcessHandle.current().pid()
    // purge only dirs whose embedded pid is DEAD — another live JVM of the
    // same user (sbt test beside a bench run) must keep its in-use state
    val stale = base.listFiles((f: java.io.File) =>
      f.getName.startsWith(prefix) && !f.getName.startsWith(s"$prefix${pid}_") && {
        val owner = scala.util.Try(
          f.getName.stripPrefix(prefix).takeWhile(_.isDigit).toLong).toOption
        !owner.exists(p => ProcessHandle.of(p)
          .map[java.lang.Boolean](_.isAlive).orElse(false))
      })
    if (stale != null) stale.foreach(rmTree)
    val d = new java.io.File(base, s"$prefix${pid}_$n")
    d.mkdirs(); d
  }
  private def rmTree(f: java.io.File): Unit = {
    val kids = f.listFiles(); if (kids != null) kids.foreach(rmTree); f.delete()
  }

  /** Run a finite stream replay with a reduced state-partition count: the
    * state store creates one instance per shuffle partition PER MICRO-BATCH,
    * so a 4-batch replay of a small fixture pays 32×4 state commits at the
    * session default. 4 partitions cut that 8× with no result change (every
    * stream query's math is partition-invariant); a real deployment sizes
    * this to its key cardinality instead. Measured at sf0.1: the remaining
    * trio cost is per-micro-batch fixed overhead (planning + offset/commit
    * logs), not state commits — 8 vs 4 partitions differs by <3%. The
    * session conf is restored afterwards — the sink table is already
    * materialized by then.
    */
  private def withStreamShufflePartitions[A](s: SparkSession, n: Int)(f: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }
  /** 1e9-scale variant for sub-micro statistics (per-dim column stats). */
  private def nanos(c: org.apache.spark.sql.Column) =
    floor(c.cast("double") * lit(1.0e9) + lit(0.5))

  /** cdcLogTableShared WITH the v6 compaction the change-feed consumers
    * expect in the shared history — the head guard keeps the table
    * deterministic whichever of the four sharing queries runs first (and
    * if one runs twice in a session). One definition; the guard was
    * copy-pasted at every consumer before r19's review.
    */
  private def cdcLogCompactedShared(s: SparkSession, dir: String): String =
    // memoAny: the compaction must land exactly once per session — a bare
    // headVersion==5 check at every consumer would let two racing callers
    // (concurrent queries on one session) BOTH compact (v6 AND v7),
    // changing every version-enumerating reader
    GraftCache.memoAny(s"$dir/cdclogcompacted") {
      val table = cdcLogTableShared(s, dir) // v1–5 (shared with merge_cdc)
      if (graft.sources.TableLog.headVersion(table) == 5)
        graft.sources.TableLog.compact(s, table) // v6: empty change feed
      table
    }

  /** The CDC-merged TableLog table (versions 1–5: four upsert slices then
    * the tombstone batch, via the five-micro-batch streaming MERGE), built
    * ONCE per session and shared by q_stream_merge_cdc (reads v4/v5) and
    * q_stream_changefeed_ivm (compacts v6, then consumes the change feed)
    * — the nearDupPairsShared discipline applied to the lake demo: the
    * streaming merge is the dominant cost of both queries and their inputs
    * are the same deterministic table, so building it twice per bench pass
    * measured duplication, not operators (r16: the pair cost ~15 s/pass,
    * shared ~10 s). Built on a CLONED session: the build mutates the
    * stream shuffle-partition setting, so the clone keeps that conf change
    * out of the caller's session.
    */
  private def cdcLogTableShared(s: SparkSession, dir: String): String =
    GraftCache.memoAny(s"$dir/cdclogtable") { cdcLogTableBuild(s.newSession(), dir) }

  private def cdcLogTableBuild(s: SparkSession, dir: String): String = {
      val n = streamSinkSeq.incrementAndGet()
      val base = replayCkptBase(n)
      val table = new java.io.File(base, "cdclog").getAbsolutePath
      // cleanup registered BEFORE the stream starts (the graphIngestBuild
      // pattern): a build that fails mid-flight must still have its
      // /dev/shm dirs reclaimed at cache clear, not only on the success path
      GraftCache.onClear(() => rmTree(base))
      withStreamShufflePartitions(s, 4) {
        val replay = eventsCdcReplayDir(s, dir)
        val src = s.readStream
          .schema(s.read.option("pathGlobFilter", "*.parquet").parquet(replay).schema)
          .option("maxFilesPerTrigger", "1")
          .option("latestFirst", "false")
          .option("pathGlobFilter", "*.parquet")
          .parquet(replay)
        val q = src.writeStream
          .foreachBatch(graft.streaming.StreamOps.upsertBatchLogCdc(table) _)
          .option("checkpointLocation",
            new java.io.File(base, "cdcckpt").getAbsolutePath)
          .start()
        // stop in finally: if the wait is interrupted or fails, the
        // StreamingQuery's own execution thread must not keep running the
        // replay for the rest of the session
        try q.processAllAvailable() finally q.stop()
      }
      table
    }

  /** The shared graph-ANN recall-gauge body: the standard layered search
    * over (repE, baseE) for probes vec_id < 100, scored against the exact
    * full-corpus top-10 — ONE definition of the gauge arithmetic (k, the
    * probe cut, the hit join, the n_hit/recall shape) so it can never
    * drift between the insert/build/ingest acceptance queries. (The
    * delete gauge stays separate: its ground truth is the SURVIVING
    * corpus, not the full one.)
    */
  private def graphRecallGauge(s: SparkSession, dir: String,
                               repE: DataFrame, baseE: DataFrame): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    recallVs(
      rawKnn(s, dir).filter(col("query_id") < 100 && col("rank") <= 10),
      GraphAnn.layeredSearch(emb.filter(col("vec_id") < 100),
        embBucketed(s, dir), repE, baseE,
        GraphAnn.entryPoints(repsOf(emb), GraphEntries),
        k = 10, repBeam = RepBeam, baseBeam = BaseBeam,
        repRounds = RepRounds, baseRounds = BaseRounds))
  }

  /** The shared acceptance-gauge tail (r19: one definition for the 11
    * copies the r18 review flagged): per-query hits of `approx` within
    * `truth` — both carrying (query_id, neighbor_id) — as
    * (query_id, n_hit, recall). Pure refactor; every consumer's rows are
    * bit-identical to the inlined form this replaces.
    */
  private def recallVs(truth: DataFrame, approx: DataFrame): DataFrame =
    truth.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"))
          .withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_base"), sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(col("query_id"), col("n_hit").cast("long").as("n_hit"),
        (col("n_hit").cast("double") / col("n_base").cast("double")).as("recall"))
      .orderBy("query_id")

  /** The IVF-assigned corpus as a TableLog table PARTITIONED BY label with
    * label stats (which now carry per-entry row counts) — the corpus
    * layout that makes TableLog.selectivityBound TIGHT: each directory
    * holds exactly one label, so the bound for a label predicate is the
    * true row fraction, read from the manifest alone. Shared by
    * ann_filtered_logbound_topk.
    */
  private def ivfLogCorpusShared(s: SparkSession, dir: String): String =
    GraftCache.memoAny(s"$dir/ivflogcorpus") {
      val n = streamSinkSeq.incrementAndGet()
      val base = replayCkptBase(n)
      val table = new java.io.File(base, "ivfcorpus").getAbsolutePath
      val (_, assigned) = ivfDet(s, dir)
      graft.sources.TableLog.overwritePartitions(assigned, table, "label",
        statsCols = Seq("label"))
      GraftCache.onClear(() => rmTree(base))
      table
    }

  /** The graph-hybrid candidate beam, sized from the LAKE: the `label !=
    * 3` predicate's survivor count bounded from the log corpus manifest
    * (TableLog.survivorBound — complement range, integer, zero estimation
    * jobs) through GraphAnn.filteredBeam (efSearch of the survivors,
    * floored at k·γ = 20). Shared by both graph-hybrid queries; the
    * oracle replays the identical arithmetic over count(*).
    */
  private def filteredGraphBeam(s: SparkSession, dir: String): Int = {
    val table = ivfLogCorpusShared(s, dir)
    val kept = graft.sources.TableLog.survivorBound(table, "label",
      Seq((Long.MinValue, 2L), (4L, Long.MaxValue))).getOrElse(
      throw new IllegalStateException(
        s"$table carries no row-count stats — it is always committed " +
          "with statsCols; rebuild the log corpus"))
    GraphAnn.filteredBeam(kept, 10, 2)
  }

  /** STREAMING GRAPH-ANN INGEST tables (q_stream_graph_ingest + its recall
    * gauge): a vec_id-ordered IngestChunks-batch replay of the embeddings
    * fixture streams through foreachBatch — batch 0 exact-builds the seed
    * layers, every later batch runs GraphAnn.insertBatch against the
    * CURRENT layers and commits the incremented layers as the next
    * TableLog version (every intermediate graph time-travelable; the
    * corpus table appends in lockstep). Each step is the same pure
    * function the batch chain (KnnGraph.insertChunks) computes — reading
    * the layers back through the log changes no row — so the final
    * adjacency is BIT-IDENTICAL to the batch build of the same quartile
    * chunks, which is exactly what the oracle replays (buildCtesFor with
    * the replay's ntile membership). Within-batch blindness carries over
    * unchanged: nodes of one micro-batch never link to each other.
    */
  private val IngestChunks = 4

  /** Both graph layers live in ONE TableLog table PARTITIONED BY the
    * `layer` column ("base" | "rep"), so each micro-batch's increment is
    * ONE atomic commit (r18 committed the layers separately — two manifest
    * swaps and two write jobs per batch for what is logically one
    * transaction; a reader landing between them saw base@k+1 beside
    * rep@k). Because the commit is partition-tagged, reading one layer
    * prunes the other AT THE MANIFEST (readWhere) — the rep read never
    * scans the 8×-larger base directories; the residual filter is a
    * row-wise no-op guarding mixed tables.
    */
  private def layerOf(s: SparkSession, layersT: String, which: String) =
    graft.sources.TableLog.readWhere(s, layersT, _ == which)
      .filter(col("layer") === which).drop("layer")

  private def graphIngestBuild(s: SparkSession, dir: String): (String, String) = {
      val n = streamSinkSeq.incrementAndGet()
      val base = replayCkptBase(n)
      val layersT = new java.io.File(base, "gilayers").getAbsolutePath
      val corpT   = new java.io.File(base, "gicorp").getAbsolutePath
      val isRep = graft.functions.GraftCols.md5Mod(
        concat(col("vec_id").cast("string"), lit("|grep")), RepMod) === 0L
      def tag(df: DataFrame, l: String) =
        df.select("src", "dst", "dist").withColumn("layer", lit(l))
      // cleanup registered BEFORE the stream starts: a build that fails
      // mid-flight must still have its dirs reclaimed at cache clear, not
      // only on the success path
      GraftCache.onClear(() => rmTree(base))
      withStreamShufflePartitions(s, 4) {
        val replay = graft.streaming.StreamOps.multiBatchTableDir(
          s, dir, "embeddings", Seq("vec_id"), IngestChunks)
        val q = s.readStream
          .schema(s.read.option("pathGlobFilter", "*.parquet").parquet(replay).schema)
          .option("maxFilesPerTrigger", "1")
          .option("latestFirst", "false")
          .option("pathGlobFilter", "*.parquet")
          .parquet(replay)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            import graft.sources.TableLog
            val b = batch.select(col("vec_id"),
              col("embedding").cast("array<float>").as("embedding"))
              .localCheckpoint()
            if (TableLog.headVersion(layersT) == 0) {
              TableLog.overwritePartitions(
                tag(KnnGraph.edges(b, M), "base")
                  .unionByName(tag(KnnGraph.edges(b.filter(isRep), M), "rep")),
                layersT, "layer")
            } else {
              val old = TableLog.read(s, corpT)
              val (bi, ri) = GraphAnn.insertBatch(b,
                layerOf(s, layersT, "rep"), layerOf(s, layersT, "base"),
                GraphAnn.entryPoints(old.filter(isRep), GraphEntries),
                old, isRep, outDeg = 2 * M, insBeam = BuildBeam,
                repRounds = RepRounds, baseRounds = BaseRounds)
              TableLog.overwritePartitions(
                tag(bi.incremented, "base").unionByName(tag(ri.incremented, "rep")),
                layersT, "layer")
            }
            TableLog.append(b, corpT)
            ()
          }
          .option("checkpointLocation",
            new java.io.File(base, "gickpt").getAbsolutePath)
          .start()
        // stop in finally: an interrupted or failed wait must not leave
        // the query's own execution thread polling the replay dir for the
        // rest of the session
        try q.processAllAvailable() finally q.stop()
      }
      require(graft.sources.TableLog.headVersion(layersT) == IngestChunks,
        s"the $IngestChunks-batch replay must land $IngestChunks graph versions")
      (layersT, corpT)
  }

  /** The ingest tables, built once per scale dir on a CLONED session (own
    * SQLConf — withStreamShufflePartitions mutates session state, so the
    * clone keeps the 4-partition stream setting out of the caller's plans).
    */
  private def graphIngestShared(s: SparkSession, dir: String): (String, String) =
    GraftCache.memoAny(s"$dir/graphingest") { graphIngestBuild(s.newSession(), dir) }

  /** The four streaming queries (watermarked tumbling windows, dedup under
    * duplicate delivery, the stateful sessionizer, and the documents-replay
    * LSH near-dup) run CONCURRENTLY over their memoized-per-scale-dir
    * replays. Each query alone is dominated by per-micro-batch fixed
    * overhead (planning + offset/commit logs — the measured floor, see
    * withStreamShufflePartitions); parallel queries overlap those waits, so
    * the block costs ~max, not sum. Results are identical to sequential
    * runs — the queries share only the immutable replay files, never state.
    */
  private def streamTrio(s: SparkSession, dir: String): Map[String, DataFrame] =
    GraftCache.memoAny(s"$dir/streamtrio") { streamTrioBuild(s.newSession(), dir) }

  /** The replay build, run on a CLONED session: it mutates the stream
    * shuffle-partition conf, and the memory sinks' temp views live in the
    * building session's catalog — the legs are returned as that session's
    * Datasets and every consumer reads its leg standalone.
    */
  private def streamTrioBuild(s: SparkSession, dir: String): Map[String, DataFrame] = {
      import s.implicits._
      val n = streamSinkSeq.incrementAndGet()
      val ckptBase = replayCkptBase(n)
      def ckpt(leg: String) = new java.io.File(ckptBase, leg).getAbsolutePath
      // cleanup registered BEFORE any leg starts (the graphIngestBuild
      // pattern): a build that fails mid-flight must still have its
      // checkpoint dirs reclaimed and any already-registered memory-sink
      // views dropped at cache clear. The memory sinks live in the session
      // catalog and hold their rows on the driver; "stream_*_$n" names are
      // pass-unique, and dropTempView on a never-created view is a no-op.
      GraftCache.onClear { () =>
        Seq(s"stream_tumbling_$n", s"stream_dedup_$n", s"stream_sessions_$n",
            s"stream_neardup_$n", s"stream_join_$n")
          .foreach(s.catalog.dropTempView(_))
        rmTree(ckptBase) // throwaway replay checkpoints — RAM-backed, pass-unique
      }
      withStreamShufflePartitions(s, 4) {
        val started = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.spark.sql.streaming.StreamingQuery]
        try {
        val tumbling = graft.streaming.StreamOps.eventsStreamBatched(s, dir)
          .withWatermark("event_time", "30 minutes")
          .groupBy(window(col("event_time"), "600 seconds"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(micros(col("value"))).as("sum_value_micros"))
          .select((unix_timestamp(col("window.start")) / 600).cast("long").as("bucket"),
            col("event_type"), col("n"), col("sum_value_micros"),
            ((unix_timestamp(col("window.start")) / 600).cast("long") * 600).as("bucket_start"))
          .writeStream.format("memory").queryName(s"stream_tumbling_$n")
          .option("checkpointLocation", ckpt("tumbling"))
          .outputMode("complete").start()
        started += tumbling
        // duplicate delivery simulated IN-STREAM (each row exploded into two
        // copies of the same micro-batch): the previous two-source union
        // delivered both copies in the same trigger anyway (lockstep file
        // sources), but planned, listed, and scanned the replay twice per
        // batch — one source halves that fixed cost with identical semantics
        val dedup = graft.streaming.StreamOps.eventsStreamBatched(s, dir)
          .withColumn("__dup", explode(array(lit(0), lit(1)))).drop("__dup")
          .withWatermark("event_time", "30 minutes")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), col("user_id"), col("event_type"),
            micros(col("value")).as("value_micros"),
            EventOps.epochSecNs(col("ts_ns")).as("es"))
          .writeStream.format("memory").queryName(s"stream_dedup_$n")
          .option("checkpointLocation", ckpt("dedup"))
          .outputMode("append").start()
        started += dedup
        val ev = graft.streaming.StreamOps.eventsStreamBatched(s, dir)
          .select(col("user_id"), EventOps.epochSecNs(col("ts_ns")).as("es"), col("value"))
          .as[graft.streaming.StreamOps.Ev]
        val sessions = graft.streaming.StreamOps
          .sessionizeStream(ev, gapSec = 1800, lateness = "1800500 milliseconds")
          .writeStream.format("memory").queryName(s"stream_sessions_$n")
          .option("checkpointLocation", ckpt("sessions"))
          .outputMode("append").start()
        started += sessions
        // fourth leg — the documents-replay LSH near-dup (its source is the
        // docs fixture, not events, but the per-micro-batch planning/commit
        // floor it pays is the same one the trio already overlaps; running it
        // alone re-paid that floor measured ~2 s per bench pass)
        val bandObs = Dedup.minhashBands(
            graft.streaming.StreamOps.docsStreamBatched(s, dir))
          .select(col("band"), col("band_key"), col("doc_id"))
          .as[graft.streaming.StreamOps.BandObs]
        val neardup = graft.streaming.StreamOps.bandOwnerStream(bandObs)
          .writeStream.format("memory").queryName(s"stream_neardup_$n")
          .option("checkpointLocation", ckpt("neardup"))
          .outputMode("append").start()
        started += neardup
        // fifth leg — stream-stream interval join (purchases within 2 h
        // after a click, same user): both sides watermarked, and the join
        // condition bounds p_time in BOTH directions so Spark can size and
        // evict each side's state from the watermark (the unbounded-state
        // trap of an unconstrained stream-stream join). The time-contiguous
        // replay keeps arrival order monotone in event time, so no pair is
        // ever dropped by state eviction and the finite replay lands on
        // exactly the batch interval join — the oracle.
        // both sides of the self-join derive from ONE source stream — the
        // dedup leg's lesson: a second eventsStreamBatched would plan, list,
        // and scan the replay twice per trigger. The leg also consumes the
        // replay in a single trigger (filesPerTrigger = 0): a stream-stream
        // join pays per-trigger state-store commits on BOTH sides, the
        // block's dominant fixed cost at fixture scale, and the cross-batch
        // retention this single-trigger run no longer exercises is pinned
        // by StreamJoinSpec's synthetic two-file replay.
        val joinSrc = graft.streaming.StreamOps.eventsStreamBatched(s, dir,
          filesPerTrigger = 0)
        val clicks = joinSrc
          .filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("event_time").as("click_time"))
          .withWatermark("click_time", "30 minutes")
        val purchases = joinSrc
          .filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
            micros(col("value")).as("p_val_us"), col("event_time").as("p_time"))
          .withWatermark("p_time", "30 minutes")
        val sjoin = clicks.join(purchases,
            col("user_id") === col("p_user") &&
              col("p_time") >= col("click_time") &&
              col("p_time") < col("click_time") + expr("INTERVAL 7200 SECONDS"))
          .select(col("user_id"), col("click_id"), col("p_id"), col("p_val_us"))
          .writeStream.format("memory").queryName(s"stream_join_$n")
          .option("checkpointLocation", ckpt("join"))
          .outputMode("append").start()
        started += sjoin
        started.foreach(_.processAllAvailable())
        // stop in finally: if one leg fails or the wait is interrupted,
        // every ALREADY-STARTED leg's execution thread must be stopped, or
        // it keeps running for the rest of the session
        } finally started.foreach(q =>
          try q.stop() catch { case _: Throwable => () })
      }
      Map("tumbling" -> s.table(s"stream_tumbling_$n"),
        "dedup"    -> s.table(s"stream_dedup_$n"),
        "sessions" -> s.table(s"stream_sessions_$n"),
        "neardup"  -> s.table(s"stream_neardup_$n"),
        "join"     -> s.table(s"stream_join_$n"))
    }

  // ---- watermark-grid shared artifacts ---------------------------------
  // The h_* grid queries' checkpointed embed/ranking stages, one named
  // memo per stage: the classify checkpoint, the per-rep deletion rankings
  // and the corpus count serve several grids; the rest keep one grid's
  // driver-serialized checkpoint chain out of its vote plan.
  /** The ONE per-pass classify checkpoint: h_impact_compare,
    * impact_embed_missfalse, h_impact_sweep, and the strength grid all
    * consume the identical Tvp.classify(emb, D, WM.length, key) frame —
    * r20 consolidates what were two memo keys ("impcmp-cl" and
    * "strgrid-cl") holding bit-identical frames into one build per pass.
    */
  private def classifiedShared(s: SparkSession, dir: String): DataFrame =
    GraftCache.memo(s"$dir/impcmp-cl") {
      Tvp.classify(Tables.embeddings(s, dir), D, WM.length, key).localCheckpoint()
    }
  private def strgridCarriers(s: SparkSession, dir: String): DataFrame =
    GraftCache.memo(s"$dir/strgrid-carriers") {
      Tvp.carriersRsSwept(classifiedShared(s, dir), Tvp.bitsDf(s, WM), StrengthGridSts,
        Seq(0 -> key.seed)).drop("rep").localCheckpoint()
    }
  private def strgridRankedAll(s: SparkSession, dir: String): DataFrame =
    GraftCache.memo(s"$dir/strgrid-rankedall") {
      (0 until StrengthGridReps).map { rep =>
        Attacks.keyedRanked(Tables.embeddings(s, dir).select(col("vec_id")),
            GraftCols.keyedHash(col("vec_id"), lit("del"), lit(s"$Seed-r$rep")))
          .withColumn("rep", lit(rep))
      }.reduce(_ unionByName _).localCheckpoint()
    }
  private def strgridN(s: SparkSession, dir: String): Long =
    GraftCache.memoAny(s"$dir/strgrid-n") { Tables.embeddings(s, dir).count() }
  private def strgridWmAll(s: SparkSession, dir: String): DataFrame =
    GraftCache.memo(s"$dir/strgrid-wmall") {
      import s.implicits._
      Tvp.applyEmbedTagged(Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding"))
          .crossJoin(broadcast(StrengthGridSts.toDF("st"))),
        strgridCarriers(s, dir), D, key, Seq("st"))
        .localCheckpoint()
    }
  private def thCarriersSwept(s: SparkSession, dir: String): DataFrame =
    GraftCache.memo(s"$dir/tvp-carriers-swept") {
      Tvp.carriersAiSwept(
        Tvp.classify(Tables.embeddings(s, dir), D, WM.length, key),
        Tvp.bitsDf(s, WM), Strength, ThGridThs, ai(s, dir)).localCheckpoint()
    }
  private def thWmAll(s: SparkSession, dir: String): DataFrame =
    GraftCache.memo(s"$dir/thgrid-wmall") {
      import s.implicits._
      Tvp.applyEmbedTagged(Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding"))
          .crossJoin(broadcast(ThGridThs.toDF("th"))),
        thCarriersSwept(s, dir), D, key, Seq("th"))
        .localCheckpoint()
    }
  private def rsWmDf(s: SparkSession, dir: String): DataFrame =
    GraftCache.memo(s"$dir/wm-rs") {
      Tvp.embedRs(Tables.embeddings(s, dir), WM, Strength, D, key)
    }
  private def rsDelRanked(s: SparkSession, dir: String): DataFrame =
    GraftCache.memo(s"$dir/wm-rs-delranked") {
      Attacks.keyedRanked(rsWmDf(s, dir).select(col("vec_id"), col("embedding")),
        GraftCols.keyedHash(col("vec_id"), lit("del"), lit(Seed))).localCheckpoint()
    }
  private def tmModTagged(s: SparkSession, dir: String): DataFrame =
    GraftCache.memo(s"$dir/tmmod-tagged") {
      Attacks.attackGrid(TabularMark.embed(Tables.embeddings(s, dir), tmKey),
        Seq("random_modify"), TmGridPs, TmModSeed, D, None).localCheckpoint()
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(micros(col("l_quantity"))).as("sum_qty_micros"),
          sum(micros(col("l_extendedprice"))).as("sum_base_price_micros"),
          sum(micros(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_price_micros"),
          sum(micros(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))).as("sum_charge_micros"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "wm_content_id" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          GraftCols.contentIdCol(col("embedding"), dims.init.toSeq, key.scale).as("content_id"))
        .orderBy("vec_id")
    }),

    "wm_group_sizes" -> ((s, dir) => {
      Tvp.classify(Tables.embeddings(s, dir), D, WM.length, key)
        .groupBy(col("group_id").cast("long").as("group_id"))
        .agg(count(lit(1)).as("n"))
        .orderBy("group_id")
    }),

    "wm_rs_roundtrip" -> ((s, dir) => rsRoundtrip(s, dir)),

    "attack_random_delete" -> ((s, dir) => {
      Attacks.randomDelete(Tables.embeddings(s, dir), DeleteP, Seed)
        .select("vec_id").orderBy("vec_id")
    }),

    // J1 — broadcast-kernel kNN, oracle-checked on a 100-query sample (the
    // kernel folds squared diffs left-to-right in double, bit-matching the
    // DuckDB lambda fold).
    "knn_topk_sample" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Knn.exact(emb.filter(col("vec_id") < 100), emb, 5, kernel = "fold")
        .select(col("query_id"), col("neighbor_id"), col("dist"), col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // J1, split path — grouped kNN with maxIndexRows forced BELOW every
    // group's size, so the skew-guard split-build + window-merge path
    // (Knn.exactGrouped's anySplit branch: keyed sub-indexes, per-sub
    // search, (dist, id) window re-rank, absent-sub skip) is hash-gated
    // end-to-end against the naive per-group window oracle — not just
    // probed. 16-row sub-indexes split every group at every fixture SF.
    "knn_topk_grouped_split" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      def grouped(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"), col("embedding"))
          .withColumn("grp", pmod(col("vec_id"), lit(3)).cast("int"))
      Knn.exactGrouped(grouped(emb.filter(col("vec_id") < 100)), grouped(emb),
          5, "grp", kernel = "fold", maxIndexRows = 16)
        .select(col("grp").cast("long"), col("query_id"), col("neighbor_id"),
          col("dist"), col("rank").cast("long"))
        .orderBy("grp", "query_id", "rank")
    }),

    // A6 — query-traffic profile over the deterministic kNN graph.
    "wm_query_counts" -> ((s, dir) => {
      KnnGraph.queryCounts(Tables.embeddings(s, dir), rawKnn(s, dir), k = 10)
        .orderBy("vec_id")
    }),

    // J5 + A9 — histogram of bidirectional-edge counts (t_vector/e4).
    "graph_bidir_hist" -> ((s, dir) => {
      KnnGraph.bidirectionalEdges(Tables.embeddings(s, dir), edges(s, dir))
        .groupBy(col("bidir_edges")).agg(count(lit(1)).as("n"))
        .orderBy("bidir_edges")
    }),

    // A5 — accessibility index (z-blend of J5/J6 metrics); raw doubles —
    // the decimal-exact stats make them bit-identical to the oracle.
    "wm_accessibility" -> ((s, dir) => {
      ai(s, dir).select(col("vec_id"), col("ai")).orderBy("vec_id")
    }),

    // K2 — adaptive deletion by accessibility rank.
    "attack_adaptive_delete" -> ((s, dir) => {
      Attacks.adaptiveDelete(Tables.embeddings(s, dir), ai(s, dir), DeleteP)
        .select("vec_id").orderBy("vec_id")
    }),

    // E1(TVP)+E2 — full accessibility-guided embed/extract round-trip.
    "wm_tvp_roundtrip" -> ((s, dir) => {
      val emb  = Tables.embeddings(s, dir)
      val wmDf = Tvp.embedAi(emb, WM, Strength, 0.5, ai(s, dir), D, key)
      Tvp.bitsDf(s, WM)
        .join(Tvp.extract(wmDf, WM.length, D, key), "bit_pos")
        .select(col("bit_pos").cast("long"), col("wm_bit").cast("long"),
          col("extracted_bit").cast("long"))
        .orderBy("bit_pos")
    }),

    // W1/P7 bit-level parity dump: the RS carrier set with each carrier's
    // keyed dim and embedded float32 value — oracle-checked against the
    // closed-form SQL replay of the ENTIRE codec (rsCodecCtes), the
    // strongest per-row check of Bits.floatToBin/embedLsb semantics.
    "wm_carriers" -> ((s, dir) => {
      val emb      = Tables.embeddings(s, dir)
      val cl       = Tvp.classify(emb, D, WM.length, key)
      val carriers = Tvp.carriersRs(cl, Tvp.bitsDf(s, WM), Strength, key.seed)
      carrierDump(carriers, Tvp.applyEmbed(emb, carriers, D, key))
    }),

    // W1 bit-level: the TVP accessibility-guided carrier selection — rank
    // threshold, qualification split and backfill — replayed in SQL over the
    // shared graph CTEs' bit-exact ai, plus the codec-embedded values.
    "wm_tvp_carriers" -> ((s, dir) => {
      val emb      = Tables.embeddings(s, dir)
      val cl       = Tvp.classify(emb, D, WM.length, key)
      val carriers = Tvp.carriersAi(cl, Tvp.bitsDf(s, WM), Strength, 0.5, ai(s, dir))
      carrierDump(carriers, Tvp.applyEmbed(emb, carriers, D, key))
    }),

    // A7/E2 under attack, bit-exact: embed → keyed random deletion →
    // blind extraction. The oracle replays every step in SQL: post-embed
    // hidden bits (wm_bit for carriers, the codec's original bit otherwise),
    // the keyed keep-set, and the per-group majority over survivors.
    "wm_extract_after_delete" -> ((s, dir) => {
      // the embedded table is bit-identical to h_rs_delete_grid's wm-rs memo
      // (same emb/WM/Strength/D/key) — share it instead of re-embedding
      val wmDf     = rsWmDf(s, dir)
      val attacked = Attacks.randomDelete(wmDf, DeleteP, Seed)
      Tvp.bitsDf(s, WM)
        .join(Tvp.extract(attacked, WM.length, D, key), "bit_pos")
        .select(col("bit_pos").cast("long"), col("wm_bit").cast("long"),
          col("extracted_bit").cast("long"))
        .orderBy("bit_pos")
    }),

    // H1 (RS × deletion-rate row of the robustness grid), oracle-exact:
    // one embed, extraction after keyed deletion at four rates. The whole
    // curve is a single SQL replay — post-embed bits once, one keyed
    // ranking, four cutoffs.
    "h_rs_delete_grid" -> ((s, dir) => {
      import s.implicits._
      // one shared keyed ranking serves all four cutoffs (the oracle's shape:
      // one ranked CTE, four rn filters), one grouped vote for the whole
      // grid; the embed + ranking memos are rsWmDf/rsDelRanked
      val ranked = rsDelRanked(s, dir)
      val n  = ranked.count()
      val ps = Seq(0.0, 0.3, 0.5, 0.7)
      val tagged = ps.map { p =>
        ranked.filter(col("__grank") <= n - math.ceil(n * p).toLong)
          .drop("__grank").withColumn("p", lit(p))
      }.reduce(_ unionByName _)
      val votes = Tvp.classify(tagged, D, WM.length, key)
        .groupBy("p", "group_id")
        .agg(sum("hidden_bit").as("n_one"), count(lit(1)).as("n"))
        .select(col("p").as("vp"), col("group_id"),
          when(col("n_one") * 2 > col("n"), 1).otherwise(0).as("vote_bit"))
      ps.toDF("p").crossJoin(broadcast(Tvp.bitsDf(s, WM)))
        .join(votes, col("p") === col("vp") && col("bit_pos") === col("group_id"), "left")
        .select(col("p"), col("bit_pos").cast("long"), col("wm_bit").cast("long"),
          coalesce(col("vote_bit"), lit(0)).cast("long").as("extracted_bit"))
        .orderBy("p", "bit_pos")
    }),

    // H1 (the reference's published strength_analysis sweep,
    // roubust/roubust.py:226–263): RS BER over strength × deletion-rate,
    // oracle-exact. One embed per strength (checkpointed, with the shared
    // keyed deletion rank joined on), every (strength, p) cell a map-side
    // rank filter; one grouped vote for the whole grid. The oracle replays
    // the codec with one shared classification prefix and a per-strength
    // deficit/carrier tail (rsCarrierCtes).
    "h_strength_grid" -> ((s, dir) => {
      import s.implicits._
      // The WATERMARK KEY (content-id dims) stays fixed across reps — a rep
      // re-rolls only the free randomness: the carrier pick inside each
      // group and the deletion draw (the reference's per-rep np.random
      // re-seed, roubust.py:228). Re-seeding WmKey itself would change the
      // classification and make it a different watermark, not a repetition.
      //
      // Faithful rep semantics (roubust.py:236–238 + watermarking.py:276):
      // every embed call re-seeds `random` with the SAME random_seed, so the
      // key dims and the per-group carrier pick are IDENTICAL across reps —
      // a repetition re-rolls only the attack (the advancing np.random
      // stream). So carriers sweep over strengths only, and the rep axis
      // lives purely in the per-rep deletion rankings, joined at vote time.
      //
      // The memo chain (classify → swept carriers → 6-strength tagged embed
      // as ONE checkpointed frame, plus the per-rep rankings) lives in the
      // strgrid* builders. Reps × deletion rates ride broadcast joins in
      // the single vote plan below.
      val rankedAll = strgridRankedAll(s, dir)
      val n = strgridN(s, dir)
      val wmAll = strgridWmAll(s, dir)
      val pdf = StrengthGridPs.toDF("p")
      val votes = Tvp.classify(wmAll.join(rankedAll, Seq("vec_id")), D, WM.length, key)
        .crossJoin(broadcast(pdf))
        .filter(col("__grank") <= lit(n) - ceil(lit(n.toDouble) * col("p")).cast("long"))
        .groupBy(col("st").as("strength"), col("rep"), col("p"), col("group_id"))
        .agg(sum("hidden_bit").as("n_one"), count(lit(1)).as("n"))
        .select(col("strength").as("vs"), col("rep").as("vr"), col("p").as("vp"),
          col("group_id"),
          when(col("n_one") * 2 > col("n"), 1).otherwise(0).as("vote_bit"))
      val cells = (for (st <- StrengthGridSts; rep <- 0 until StrengthGridReps;
                        p <- StrengthGridPs) yield (st, rep, p))
        .toDF("strength", "rep", "p")
      cells.crossJoin(broadcast(Tvp.bitsDf(s, WM)))
        .join(votes, col("strength") === col("vs") && col("rep") === col("vr") &&
          col("p") === col("vp") && col("bit_pos") === col("group_id"), "left")
        .select(col("strength"), col("rep").cast("long"), col("p"),
          col("bit_pos").cast("long"), col("wm_bit").cast("long"),
          coalesce(col("vote_bit"), lit(0)).cast("long").as("extracted_bit"))
        .orderBy("strength", "rep", "p", "bit_pos")
    }),

    // H1 th_analysis (roubust/roubust.py:263–306): TVP BER over carrier
    // threshold × deletion rate × rep, oracle-exact. Carrier selection for
    // EVERY th in one swept plan (carriersAiSwept); like the strength grid,
    // a rep re-rolls only the attack draw (roubust.py times=50, fixed embed
    // seed), so the rep axis is the shared per-rep deletion rankings and the
    // whole grid is one vote plan over the tagged embed frame.
    "h_th_grid" -> ((s, dir) => {
      import s.implicits._
      // carrier selection for EVERY th in one swept plan + the th-tagged
      // embed grid as one checkpointed frame; the memo chain (thCarriersSwept
      // → thWmAll) shares strgridRankedAll's per-rep rankings
      val rankedAll = strgridRankedAll(s, dir)
      val n = strgridN(s, dir)
      val wmAll = thWmAll(s, dir)
      val pdf = StrengthGridPs.toDF("p")
      val votes = Tvp.classify(wmAll.join(rankedAll, Seq("vec_id")), D, WM.length, key)
        .crossJoin(broadcast(pdf))
        .filter(col("__grank") <= lit(n) - ceil(lit(n.toDouble) * col("p")).cast("long"))
        .groupBy(col("th"), col("rep"), col("p"), col("group_id"))
        .agg(sum("hidden_bit").as("n_one"), count(lit(1)).as("n"))
        .select(col("th").as("vt"), col("rep").as("vr"), col("p").as("vp"),
          col("group_id"),
          when(col("n_one") * 2 > col("n"), 1).otherwise(0).as("vote_bit"))
      val cells = (for (th <- ThGridThs; rep <- 0 until StrengthGridReps;
                        p <- StrengthGridPs) yield (th, rep, p))
        .toDF("th", "rep", "p")
      cells.crossJoin(broadcast(Tvp.bitsDf(s, WM)))
        .join(votes, col("th") === col("vt") && col("rep") === col("vr") &&
          col("p") === col("vp") && col("bit_pos") === col("group_id"), "left")
        .select(col("th"), col("rep").cast("long"), col("p"),
          col("bit_pos").cast("long"), col("wm_bit").cast("long"),
          coalesce(col("vote_bit"), lit(0)).cast("long").as("extracted_bit"))
        .orderBy("th", "rep", "p", "bit_pos")
    }),

    // H3/SO1 — embedding impact on kNN results: per-carrier miss/false
    // averages. Fold kernel on the after-pass so the rank-10 cutoff is
    // bit-identical to the oracle's lambda-fold kNN over the SQL-replayed
    // watermarked table.
    // H3/H2 — the published multi-scheme embed-impact comparison
    // (compare/impact.py:175–235), ALL FOUR schemes: per scheme, average
    // missed/false kNN queries per carrier after embedding. Each replays
    // end-to-end in SQL (SCPW since the micros-rendered value hash made its
    // embed SQL-expressible — scpwEmbedCtes).
    "h_impact_compare" -> ((s, dir) => {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      import s.implicits._
      val emb  = Tables.embeddings(s, dir)
      val raw  = rawKnn(s, dir)
      val base = raw.filter(col("rank") <= 10)
      // classify feeds BOTH carrier selections below — the one shared
      // checkpoint (classifiedShared) so no consumer recomputes the
      // content-id/md5 expression chain
      val cl   = classifiedShared(s, dir)
      val bits = Tvp.bitsDf(s, WM)
      val aiDf = ai(s, dir) // force the shared memo before forking
      // each carrier frame feeds both its embed branch and the hit
      // accounting — checkpoint once instead of re-running the selection
      // windows per reference. The three selections are independent job
      // chains on a mostly-idle local[32]; forking them overlaps their
      // scheduling + window latencies (distinct memo keys, so the concurrent
      // getOrElseUpdate races are harmless)
      val fRs = Future(GraftCache.memo(s"$dir/impcmp-rsc") {
        Tvp.carriersRs(cl, bits, Strength, key.seed).localCheckpoint()
      })
      val fTv = Future(GraftCache.memo(s"$dir/impcmp-tvc") {
        Tvp.carriersAi(cl, bits, Strength, 0.1, aiDf).localCheckpoint()
      })
      val fSc = Future(GraftCache.memo(s"$dir/impcmp-scc") {
        Scpw.carriers(emb, WM, Strength, scpwKey).localCheckpoint()
      })
      val fPrep = Future(GraftCache.memoAny(s"$dir/scpw-prep") {
        Scpw.prepare(emb, scpwKey)
      })
      val rsC = Await.result(fRs, Duration.Inf)
      val tvC = Await.result(fTv, Duration.Inf)
      val scC = Await.result(fSc, Duration.Inf)
      val scpwPrep = Await.result(fPrep, Duration.Inf)
      val cases = Seq(
        ("rs",  Tvp.applyEmbed(emb, rsC, D, key), rsC.select("vec_id")),
        ("tvp", Tvp.applyEmbed(emb, tvC, D, key), tvC.select("vec_id")),
        ("tm",  TabularMark.embed(emb, tmKey),
          emb.filter(col("vec_id") < tmKey.nw).select("vec_id")),
        ("scpw", Scpw.embed(emb, WM, Strength, scpwKey, Some(scC), Some(scpwPrep)),
          scC.select("vec_id")))
      val tagOf   = cases.map(_._1).zipWithIndex.toMap
      val schemes = cases.map { case (n, _, _) => (n, tagOf(n)) }
        .toDF("scheme", "sch")
      // Each scheme's embedding only REPLACES its carrier rows, so its
      // after-kNN is MERGED from the shared base pass: per (scheme, query),
      // top-10 of (base top-17 minus that scheme's modified ids) ∪ one tiny
      // grouped pass against just the modified rows. Bit-identical to the
      // full 4×|corpus|² grouped recompute the oracle replays (unmodified
      // rows keep their base fold distances; a query left with < 10
      // unmodified survivors would make the merge lossy, and that case
      // fails LOUDLY via an in-plan assert — see the witness below), at
      // |corpus|·|carriers| cost: the scale shape for a 100 TB corpus with
      // a few thousand carriers.
      val modAll = cases.map { case (n, wmDf, ids) =>
        wmDf.select(col("vec_id"), col("embedding"))
          .join(broadcast(ids), Seq("vec_id"), "left_semi")
          .withColumn("sch", lit(tagOf(n)))
      }.reduce(_ unionByName _).transform(GraftCache.stage)
      val qAll = cases.map { case (n, _, _) =>
        emb.select(col("vec_id"), col("embedding")).withColumn("sch", lit(tagOf(n)))
      }.reduce(_ unionByName _)
      val modIds = modAll.select(col("sch").as("msch"), col("vec_id").as("mid"))
      val rawTag = cases.map { case (n, _, _) =>
        raw.select(col("query_id"), col("neighbor_id"), col("dist"))
          .withColumn("sch", lit(tagOf(n)))
      }.reduce(_ unionByName _)
      val surv = rawTag.join(broadcast(modIds),
          col("sch") === col("msch") && col("neighbor_id") === col("mid"), "left_anti")
      val modTop = Knn.exactGrouped(qAll, modAll, 10, "sch", kernel = "fold")
        .select(col("sch"), col("query_id"), col("neighbor_id"), col("dist"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("sch"), col("query_id"))
        .orderBy(col("dist"), col("neighbor_id"))
      // Exactness guard: ONE flagged aggregate over the persisted raw frame
      // finds schemes where some query keeps < 10 unmodified survivors in
      // its base top-17 (real at small SF — TM's fixed 100-row set is 20% of
      // the sf0.01 corpus). Those schemes take the full grouped recompute;
      // the rest ride the merge. The guard scans raw ONCE (untagged) — not
      // the 4× tagged union.
      val modFlag = modAll.select(col("vec_id").as("__mid"), col("sch").as("__msch"))
      val shortSchemes = raw
        .join(broadcast(modFlag), col("neighbor_id") === col("__mid"))
        .groupBy(col("__msch"), col("query_id")).agg(count(lit(1)).as("nmod"))
        // base depth is rawKnn's 2*M+1 — derive, don't hardcode, so the
        // guard tracks the depth if M ever changes
        .filter(col("nmod") > lit(2 * M + 1 - 10))
        .select("__msch").distinct().collect().map(_.getInt(0)).toSet
      val merged = surv.unionByName(modTop)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
      val afterAll =
        if (shortSchemes.isEmpty) merged
        else {
          val corpusShort = cases.collect {
            case (n, wmDf, _) if shortSchemes(tagOf(n)) =>
              wmDf.select(col("vec_id"), col("embedding"))
                .withColumn("sch", lit(tagOf(n)))
          }.reduce(_ unionByName _).localCheckpoint()
          val qShort = qAll.filter(col("sch").isInCollection(shortSchemes))
          merged.filter(!col("sch").isInCollection(shortSchemes))
            .unionByName(
              Knn.exactGrouped(qShort, corpusShort, 10, "sch", kernel = "fold"))
        }
      // ONE grouped metrics plan for all four schemes (tag-keyed carrier
      // hits → full-outer miss/false fold → per-scheme averages)
      val carrTag = cases.map { case (n, _, ids) =>
        ids.withColumn("sch", lit(tagOf(n)))
      }.reduce(_ unionByName _)
        .select(col("sch").as("csch"), col("vec_id").as("cid"))
      val hitsB = base.join(broadcast(carrTag), col("neighbor_id") === col("cid"))
        .select(col("csch").as("sch"), col("cid").as("carrier"), col("query_id").as("query"))
      val hitsA = afterAll.join(broadcast(carrTag),
          col("sch") === col("csch") && col("neighbor_id") === col("cid"))
        .select(col("sch"), col("cid").as("carrier"), col("query_id").as("query"))
      hitsB.withColumn("in_base", lit(1))
        .join(hitsA.withColumn("in_after", lit(1)),
          Seq("sch", "carrier", "query"), "full_outer")
        .groupBy("sch", "carrier")
        .agg(
          sum(when(col("in_base").isNotNull && col("in_after").isNull, 1)
            .otherwise(0)).as("miss"),
          sum(when(col("in_after").isNotNull && col("in_base").isNull, 1)
            .otherwise(0)).as("false_hits"))
        .groupBy("sch")
        .agg(round(avg("miss"), 6).as("avg_miss"),
          round(avg("false_hits"), 6).as("avg_false"),
          count(lit(1)).as("n_carriers"))
        .join(broadcast(schemes), "sch")
        .select("scheme", "n_carriers", "avg_miss", "avg_false")
        .orderBy("scheme")
    }),

    "impact_embed_missfalse" -> ((s, dir) => {
      val emb  = Tables.embeddings(s, dir)
      val base = rawKnn(s, dir).filter(col("rank") <= 10)
      // classify + RS carrier selection are bit-identical to
      // h_impact_compare's — share its memo keys so whichever query runs
      // first pays the window/checkpoint build and the other rides the cache
      val cl   = classifiedShared(s, dir)
      val carriers = GraftCache.memo(s"$dir/impcmp-rsc") {
        Tvp.carriersRs(cl, Tvp.bitsDf(s, WM), Strength, key.seed).localCheckpoint()
      }
      val wmDf  = Tvp.applyEmbed(emb, carriers, D, key)
      // after-kNN merged from the shared base pass + a pass over just the
      // modified carrier rows (bit-identical to a full recompute — see
      // Knn.topKAfterModify)
      val mod = wmDf.select(col("vec_id"), col("embedding"))
        .join(broadcast(carriers.select(col("vec_id"))), Seq("vec_id"), "left_semi")
      val after = Knn.topKAfterModify(emb, emb, rawKnn(s, dir), mod, 10)
      val mf = Metrics.missFalse(
        Metrics.carrierHits(base, carriers),
        Metrics.carrierHits(after, carriers))
      mf.agg(
        round(avg("miss"), 6).as("avg_miss"),
        round(avg("false_hits"), 6).as("avg_false"),
        count(lit(1)).as("n_carriers"))
    }),

    // H4/SO2 — attack impact on kNN accuracy after random deletion. Exact
    // integer counts (oracle-checkable); hit_rate = n_common/(n_queries·k).
    // H4 — the published hit-rate-vs-deletion curve (data_attack.py:260:
    // adaptive deletion p = 0.1…0.9 on unwatermarked data): hit rate =
    // |base ∩ after| / (n·k). One grouped fold-kNN pass serves all nine
    // cells (queries × p against the tagged union of nested keep-sets).
    "h_hitrate_curve" -> ((s, dir) => {
      import s.implicits._
      val emb  = Tables.embeddings(s, dir)
      val base = rawKnn(s, dir).filter(col("rank") <= 10)
      val ps   = (1 to 9).map(_ / 10.0)
      val aiDf = ai(s, dir)
      // ONE ai ranking serves every cutoff (identical keep-sets to
      // Attacks.adaptiveDelete's per-cell two-pass selection: rank order is
      // (ai desc, vec_id), kept = rank > ceil(n·p))
      val ranked = GraftCache.memo(s"$dir/hitrate-airank") {
        Attacks.scoreRanked(emb.join(aiDf, "vec_id").select(col("vec_id"), col("ai")), "ai")
          .select(col("vec_id"), col("__grank")).localCheckpoint()
      }
      val n0 = GraftCache.memoAny(s"$dir/strgrid-n") { emb.count() }
      val embR = emb.join(ranked, "vec_id")
      val keptAll = ps.map(p => embR
          .filter(col("__grank") > ceil(lit(n0.toDouble) * lit(p)).cast("long"))
          .select(col("vec_id"), col("embedding")).withColumn("p", lit(p)))
        .reduce(_ unionByName _).localCheckpoint()
      val qAll = ps.map(p => emb.select(col("vec_id"), col("embedding"))
          .withColumn("p", lit(p))).reduce(_ unionByName _)
      val after = Knn.exactGrouped(qAll, keptAll, 10, "p", kernel = "fold")
      val nq = GraftCache.memoAny(s"$dir/strgrid-n") { emb.count() }
      val common = after.select(col("p"), col("query_id"), col("neighbor_id"))
        .join(base.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("p").agg(count(lit(1)).as("n_common"))
      ps.toDF("p").join(common, Seq("p"), "left")
        .select(col("p"), coalesce(col("n_common"), lit(0L)).as("n_common"),
          lit(nq).as("n_queries"), lit(10L).as("k"),
          (coalesce(col("n_common"), lit(0L)).cast("double") / (lit(nq.toDouble) * 10.0)).as("hit_rate"))
        .orderBy("p")
    }),

    "attack_hit_rate" -> ((s, dir) => {
      import s.implicits._
      val emb   = Tables.embeddings(s, dir)
      val base  = rawKnn(s, dir).filter(col("rank") <= 10)
      val att   = Attacks.randomDelete(emb, DeleteP, Seed)
      val after = Knn.exact(emb, att, 10, kernel = "fold")
      val nq    = base.select("query_id").distinct().count()
      val nCommon = base.select("query_id", "neighbor_id")
        .join(after.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"), "left_semi")
        .count()
      Seq((nCommon, nq, 10L)).toDF("n_common", "n_queries", "k")
    }),

    // SCPW A1 — md5 grouping over the first-topK-dims content id.
    "scpw_group_sizes" -> ((s, dir) => {
      Scpw.classify(Tables.embeddings(s, dir), WM.length, scpwKey)
        .groupBy(col("group_id").cast("long").as("group_id"))
        .agg(count(lit(1)).as("n"))
        .orderBy("group_id")
    }),

    // A4/P10 — exact column stats feeding the SCPW noise constants
    // (integer nano-sums so DuckDB matches bit-for-bit; μ/σ² derive from these).
    "scpw_column_stats" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(element_at(col("embedding"), scpwKey.position + 1).cast("double").as("v"))
        .agg(
          sum(nanos(col("v"))).as("sum_val_nanos"),
          sum(nanos(col("v") * col("v"))).as("sum_sq_nanos"),
          count(lit(1)).as("n"))
    }),

    // SCPW end-to-end embed/extract round-trip.
    "scpw_roundtrip" -> ((s, dir) => {
      val emb  = Tables.embeddings(s, dir)
      val wmDf = Scpw.embed(emb, WM, Strength, scpwKey,
        prep = Some(GraftCache.memoAny(s"$dir/scpw-prep") { Scpw.prepare(emb, scpwKey) }))
      Tvp.bitsDf(s, WM)
        .join(Scpw.extract(wmDf, WM.length, scpwKey), "bit_pos")
        .select(col("bit_pos").cast("long"), col("wm_bit").cast("long"),
          col("extracted_bit").cast("long"))
        .orderBy("bit_pos")
    }),

    // J2 — content-key equi-join with first-match semantics (self-match run).
    "tm_match_clean" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      TabularMark.matchTuples(emb, emb, tmKey)
        .orderBy("wm_id")
    }),

    // A8 — TabularMark embed + z-test detection.
    "tm_detect" -> ((s, dir) => {
      val emb  = Tables.embeddings(s, dir)
      val wmDf = TabularMark.embed(emb, tmKey)
      TabularMark.detect(emb, wmDf, tmKey)
        .select(col("nw"), col("n_matched"), col("ng"), round(col("z"), 9).as("z"), col("detected"))
    }),

    // The FOURTH scheme's published robustness curve (BASELINE.md row:
    // TabularMark match-loss under deletion p = 0.1…0.8; attack kernel
    // tabularMark.py:192–219): per-row match + green category once
    // (deletion-invariant), every rate a cutoff filter on the shared keyed
    // ranking, one grouped aggregate. Oracle-exact.
    "h_tm_delete_grid" -> ((s, dir) => {
      import s.implicits._
      val emb  = Tables.embeddings(s, dir)
      val wmDf = TabularMark.embed(emb, tmKey)
      val ranked = GraftCache.memo(s"$dir/strgrid-ranked") {
        Attacks.keyedRanked(emb.select(col("vec_id")),
          GraftCols.keyedHash(col("vec_id"), lit("del"), lit(Seed))).localCheckpoint()
      }
      val n  = ranked.count()
      val nw = tmKey.nw.toDouble
      val mc = GraftCache.stage(TabularMark.matchedCats(emb, wmDf, tmKey)
        .join(ranked.withColumnRenamed("vec_id", "wm_id"), "wm_id"))
      val pdf = TmGridPs.toDF("p")
      val agg = mc.crossJoin(broadcast(pdf))
        .filter(col("__grank") <= lit(n) - ceil(lit(n) * col("p")))
        .groupBy("p")
        .agg(count(lit(1)).as("n_matched"),
          sum(when(col("cat") === 0, 1).otherwise(0)).as("ng"))
      pdf.join(agg, Seq("p"), "left")
        .select(col("p"),
          lit(tmKey.nw).cast("long").as("nw"),
          coalesce(col("n_matched"), lit(0L)).as("n_matched"),
          coalesce(col("ng"), lit(0L)).as("ng"),
          round(lit(2.0) * (coalesce(col("ng"), lit(0L)) - lit(0.5 * nw)) / lit(math.sqrt(nw)), 9).as("z"),
          ((lit(nw) - coalesce(col("n_matched"), lit(0L))) / lit(nw)).as("match_loss"))
        .orderBy("p")
    }),

    // The fourth scheme under the MODIFICATION attack (compare/roubust.py
    // modi_analysis × tabularMark.py:192–219): TM-embed, 30-run keyed
    // overwrite per rate over one shared ranking (attackGrid), full re-match
    // + green z-test per cell — completes the four-scheme ×
    // {deletion, modification} comparison matrix. Oracle-exact: corrupted
    // content ids, embed offsets, and the green category test all replay in
    // SQL (the interval bipartition runs as a recursive CTE over scalar
    // segment state).
    "h_tm_modify_grid" -> ((s, dir) => {
      import s.implicits._
      val emb  = Tables.embeddings(s, dir)
      // TM-embed + 30-run keyed overwrite grid as one checkpointed frame
      val tagged = tmModTagged(s, dir)
      val nw  = tmKey.nw.toDouble
      val pdf = TmGridPs.toDF("p")
      // every rate's re-match + category in ONE broadcast-join plan
      val agg = TabularMark.matchedCatsTagged(emb, tagged, tmKey, Seq("p"))
        .groupBy("p")
        .agg(count(lit(1)).as("n_matched"),
          sum(when(col("cat") === 0, 1).otherwise(0)).as("ng"))
      pdf.join(agg, Seq("p"), "left")
        .select(col("p"),
          lit(tmKey.nw).cast("long").as("nw"),
          coalesce(col("n_matched"), lit(0L)).as("n_matched"),
          coalesce(col("ng"), lit(0L)).as("ng"),
          round(lit(2.0) * (coalesce(col("ng"), lit(0L)) - lit(0.5 * nw)) / lit(math.sqrt(nw)), 9).as("z"),
          (lit(2.0) * (coalesce(col("ng"), lit(0L)) - lit(0.5 * nw)) / lit(math.sqrt(nw)) > lit(tmKey.alpha)).as("detected"))
        .orderBy("p")
    }),

    // ---- training-data-pipeline operators (north-star extensions) ----

    "text_stats" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.regexTokenCount(col("text")).cast("long").as("n_tokens_regex"),
        length(col("text")).cast("long").as("n_chars_actual"),
        TextOps.qualityScore(col("text")).as("quality"),
        TextOps.langId(col("text")).as("pred_lang"),
        TextOps.fingerprintUdf(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }),

    "dedup_exact_groups" -> ((s, dir) => {
      Dedup.exactGroups(Tables.documents(s, dir))
        .select("text_hash", "n", "keep_id").orderBy("text_hash")
    }),

    "dedup_minhash_pairs" -> ((s, dir) => {
      nearDupPairsShared(s, dir).orderBy("a", "b")
    }),

    "dedup_jaccard_pairs" -> ((s, dir) => {
      Dedup.jaccardPairs(Tables.documents(s, dir), threshold = 0.4)
        .orderBy("a", "b")
    }),

    // Benchmark-contamination screen: every doc sharing any trigram with
    // the held-out "benchmark" slice (doc_id ≡ 7 mod 100), with collision
    // counts. Broadcast-probe shape — corpus shingles never shuffle.
    "text_contamination" -> ((s, dir) => {
      val docs  = Tables.documents(s, dir)
      val bench = docs.filter(pmod(col("doc_id"), lit(100)) === 7)
      Dedup.contamination(docs.filter(pmod(col("doc_id"), lit(100)) =!= 7), bench, 3)
        .orderBy("doc_id")
    }),

    // FUZZY decontamination: corpus docs whose n-gram Jaccard with ANY
    // held-out benchmark doc clears τ — the near-dup rule that catches a
    // lightly-edited benchmark leak text_contamination's exact-collision
    // screen would report only as scattered shingle hits. LSH-banded on both
    // sides, benchmark side broadcast, verification candidates-only.
    "dedup_cross_neardup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.crossNearDups(
          docs.filter(pmod(col("doc_id"), lit(100)) =!= 7),
          docs.filter(pmod(col("doc_id"), lit(100)) === 7), threshold = 0.5)
        .orderBy("a", "b")
    }),

    // The SAME decontamination through the general beyond-broadcast mode
    // (shuffle-hash candidate join — the shape when the right side is a
    // full corpus, not an eval set): rows must equal dedup_cross_neardup,
    // driver-gated by the shared oracle; PlanSpec gates the join shape.
    "dedup_cross_neardup_large" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.crossNearDups(
          docs.filter(pmod(col("doc_id"), lit(100)) =!= 7),
          docs.filter(pmod(col("doc_id"), lit(100)) === 7), threshold = 0.5,
          broadcastBench = false)
        .orderBy("a", "b")
    }),

    // Exact duplicated-SPAN accounting (Dedup.spanDupStats): fixed-length
    // 8-token n-gram spans appearing in ≥2 docs, counted PER POSITION per
    // doc — the sliding-window substring-dedup signal the distinct-shingle
    // Jaccard family can't express (a doc repeating a borrowed span pays
    // once per repetition). Spans travel as md5 keys; three narrow
    // partial-agg exchanges; dup_ppm is exact integer division.
    "dedup_span_ngrams" -> ((s, dir) =>
      Dedup.spanDupStats(Tables.documents(s, dir), n = 8)
        .orderBy("doc_id")),

    // BM25 ranked keyword retrieval (Bm25.scores + two-phase tournament
    // top-k): three fixed queries — common terms, a rare high-idf term
    // ('dup' appears only in planted duplicate docs), and a 4-term mix —
    // scored with Lucene's +1 idf at k1=1.2, b=0.75. The corpus never
    // shuffles: tokens are broadcast-filtered to the query vocabulary
    // before the tf aggregate, df/idf/stats ride back as broadcasts, and
    // the top-10 avoids a per-query global sort via per-bucket tournaments.
    // idf is float32-quantized after ln (the text_surprisal libm collapse);
    // scores are exact integer micros, ties broken on doc_id. The scores
    // frame is memoized per dir — the OR and AND variants differ only in
    // the arity filter, and the postings build (scan + explode + broadcast
    // probe + checkpoint) is the whole cost of both.
    "text_bm25_topk" -> ((s, dir) => {
      Bm25.topK(bm25ScoredShared(s, dir), k = 10)
        .select(col("query_id"), col("rank"), col("doc_id"),
          col("n_terms"), col("score_micros"))
        .orderBy("query_id", "rank")
    }),

    // AND-semantics BM25 — the common retrieval default (every query term
    // must match): a per-query arity frame (tiny, broadcast) joins the
    // existing scores and keeps docs with n_terms = |query|; ranking and
    // the two-phase tournament top-k are unchanged. At 100 TB the filter
    // runs BEFORE the top-k machinery, so multi-term queries shrink the
    // candidate set exactly where the per-query sort pressure lives.
    "text_bm25_and_topk" -> ((s, dir) => {
      import s.implicits._
      val arity = bm25Queries.toDF("query_id", "term")
        .groupBy("query_id").agg(count(lit(1)).as("q_terms"))
      val scored = bm25ScoredShared(s, dir)
        .join(broadcast(arity), "query_id")
        .filter(col("n_terms") === col("q_terms"))
        .drop("q_terms")
      Bm25.topK(scored, k = 10)
        .select(col("query_id"), col("rank"), col("doc_id"),
          col("n_terms"), col("score_micros"))
        .orderBy("query_id", "rank")
    }),

    // Near-dup clustering: transitive closure of the minhash pair graph,
    // canonical (min) doc per cluster — the keep-one-per-cluster dedup rule.
    // Rides the SAME memoized pair frame as dedup_minhash_pairs: the LSH
    // band + verify passes are the whole cost of both queries, and the pair
    // graph is a derived artifact of (corpus, τ) exactly like the kNN graph.
    "dedup_neardup_clusters" -> ((s, dir) =>
      Dedup.nearDupClustersFromPairs(nearDupPairsShared(s, dir))
        .orderBy("doc_id")),

    // Near-dup CANONICALIZATION — the keep-rule a cleaning pipeline
    // actually wants: per near-dup cluster keep the HIGHEST-QUALITY member
    // (not the arbitrary smallest doc_id), ties to the lower id. One
    // argmax aggregate over the shared cluster frame — max(struct(q_us,
    // −doc_id)) is the exact (quality DESC, doc_id ASC) ranking with no
    // window and no per-cluster buffer.
    "dedup_keep_best" -> ((s, dir) => {
      val q = Tables.documents(s, dir)
        .select(col("doc_id"), micros(TextOps.qualityScore(col("text"))).as("q_us"))
      Dedup.nearDupClustersFromPairs(nearDupPairsShared(s, dir))
        .join(q, "doc_id")
        .groupBy("canonical_id")
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("q_us"), (-col("doc_id")).as("nid"))).as("__b"))
        .select(col("canonical_id"), col("n_members"),
          (-col("__b.nid")).as("kept_doc"), col("__b.q_us").as("kept_q_us"))
        .orderBy("canonical_id")
    }),

    // THE PRETRAINING MIX BUILD END-TO-END (r16): near-dup cluster →
    // keep-best canonicalization → sqrt-temperature per-source quotas over
    // the KEPT corpus → per-source quality-weighted PRIORITY draw filling
    // each quota — the composition an actual mixture build runs, stitching
    // four individually-proven stages into one oracle-exact plan. Quotas
    // derive from KEPT counts (dedup first, then apportion — sampling
    // before dedup would let duplicate-heavy sources launder their counts
    // into quota). The within-source draw is the DLT priority scheme
    // (w/u over the (0,1] md5 uniform), so the sampled SET replays
    // row-for-row, and the summary fingerprints it per source.
    "pipeline_mix_dedup" -> ((s, dir) => {
      val kTotal = 120.0
      val docs = Tables.documents(s, dir)
      val clusters = Dedup.nearDupClustersFromPairs(nearDupPairsShared(s, dir))
      val qus = docs.select(col("doc_id"),
        micros(TextOps.qualityScore(col("text"))).as("q_us"))
      val best = clusters.join(qus, "doc_id")
        .groupBy("canonical_id")
        .agg(max(struct(col("q_us"), (-col("doc_id")).as("nid"))).as("__b"))
        .select((-col("__b.nid")).as("doc_id"))
      val keptIds = docs.select("doc_id")
        .join(clusters.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(best)
      // checkpointed once: feeds the bounded quota collect AND the draw
      val kept = GraftCache.stage(docs.join(keptIds, "doc_id"))
      // |sources| rows driver-side — identical apportionment arithmetic to
      // sample_mixture_sqrt, over the deduplicated counts
      val rows = kept.groupBy("source").agg(count(lit(1)).as("n"))
        .orderBy("source").collect()
        .map(r => (r.getString(0), r.getLong(1), math.sqrt(r.getLong(1).toDouble)))
      val bigW = rows.foldLeft(0.0)((a, r) => a + r._3)
      val base = rows.map { case (src, n, w) =>
        (src, n, math.floor(kTotal * w / bigW).toLong,
          kTotal * w / bigW - math.floor(kTotal * w / bigW))
      }
      val rem = (kTotal - base.map(_._3).sum).toInt
      val extras = base.sortBy { case (src, _, _, frac) => (-frac, src) }
        .take(rem).map(_._1).toSet
      import s.implicits._
      val quotaDf = base.map { case (src, n, b, _) =>
        (src, n, b + (if (extras.contains(src)) 1L else 0L))
      }.toSeq.toDF("source", "n_kept", "quota")
      val u = graft.text.Sample.unitCol(
        concat(lit("mixdd|"), col("doc_id").cast("string")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
        .orderBy(col("__pri").desc, col("doc_id"))
      val sampled = kept
        .withColumn("__pri", TextOps.qualityScore(col("text")) / u)
        .withColumn("__rn", row_number().over(w))
        .join(broadcast(quotaDf.select("source", "quota")), "source")
        .filter(col("__rn") <= col("quota"))
      quotaDf.join(
          sampled.groupBy("source").agg(count(lit(1)).as("n_sampled"),
            min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
            sum("doc_id").as("sum_doc_ids"),
            sum(micros(TextOps.qualityScore(col("text")))).as("sum_q_us")),
          Seq("source"), "left")
        .select(col("source"), col("n_kept"), col("quota"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          coalesce(col("first_doc"), lit(-1L)).as("first_doc"),
          coalesce(col("last_doc"), lit(-1L)).as("last_doc"),
          coalesce(col("sum_doc_ids"), lit(-1L)).as("sum_doc_ids"),
          coalesce(col("sum_q_us"), lit(-1L)).as("sum_q_us"))
        .orderBy("source")
    }),

    // The corpus-cleaning pipeline END-TO-END — the composition a
    // training-data user actually runs: quality filter → exact dedup →
    // minhash near-dup drop (keep the smaller doc_id) → benchmark
    // decontamination (hold out the eval slice and everything colliding
    // with it). One row per stage with the cumulative survivor count;
    // every stage replays in SQL so the whole composition is oracle-exact.
    "pipeline_clean_corpus" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // stages that feed MULTIPLE downstream consumers are localCheckpointed
      // once (e: bands + verify shingles + anti-join left; nd: contamination
      // probe + anti-join left); single-consumer stages stay lazy — and the
      // five stage counts union into ONE aggregation job instead of five
      // count actions (a fixture-scale composition pays mostly per-job
      // overhead; at 100 TB the same fused plan just runs wider)
      val q = docs.filter(TextOps.qualityScore(col("text")) >= 0.8)
      val e = GraftCache.stage(Dedup.dropExactDups(q))
      // near-dup pairs of the cleaned subset = the SHARED full-corpus pair
      // frame restricted to both endpoints ∈ e: every step of the pair
      // derivation is per-doc or pairwise (MinHash signature and band keys
      // are functions of one doc's text; candidacy is band-bucket equality
      // of a pair; the verify is the pair's exact shingle Jaccard), so
      // restriction commutes with the computation — r20 swaps the second
      // band+verify pass over e for two semi-joins against the memoized
      // frame the dedup family already built (oracle unchanged and
      // re-verified at sf0.001/0.01/0.1: the replay still derives pairs
      // from ed directly)
      val eIds = e.select("doc_id")
      val ndRemove = nearDupPairsShared(s, dir)
        .join(eIds.withColumnRenamed("doc_id", "a"), Seq("a"), "left_semi")
        .join(eIds.withColumnRenamed("doc_id", "b"), Seq("b"), "left_semi")
        .select(col("b").as("doc_id")).distinct()
      val nd = GraftCache.stage(e.join(ndRemove, Seq("doc_id"), "left_anti"))
      val bench = docs.filter(pmod(col("doc_id"), lit(100)) === 7)
      val scan  = nd.filter(pmod(col("doc_id"), lit(100)) =!= 7)
      val fin = scan.join(
        Dedup.contamination(scan, bench, 4).select("doc_id"),
        Seq("doc_id"), "left_anti")
      Seq(
        (0L, "input", docs),
        (1L, "quality", q),
        (2L, "exact_dedup", e),
        (3L, "near_dup", nd),
        (4L, "decontaminated", fin))
        .map { case (i, nm, df) =>
          df.agg(count(lit(1)).as("n_docs"))
            .select(lit(i).as("stage_id"), lit(nm).as("stage"), col("n_docs"))
        }
        .reduce(_ unionByName _)
        .orderBy("stage_id")
    }),

    // Per-doc quality MANIFEST — the actual deliverable of a pretraining
    // pipeline: one row per document with the keep/drop verdict and every
    // reason, joining all the engine's independent signals (each previously
    // queryable only on its own): benchmark holdout membership, 4-gram
    // benchmark contamination, exact-dup (keep-min-doc_id), minhash
    // near-dup (the memoized τ=0.5 pair frame — b-side drops), quality
    // score < 0.8, the four repetition rules at the text_quality_flags
    // thresholds, and high unigram surprisal (> 3.5 micros-per-token·10⁶ —
    // an exact integer compare, no double drift). `reasons` is a fixed-order
    // comma join ('' = keep); keep = 1 iff no rule fired. One scan per
    // signal, all joins on doc_id; at 100 TB each signal is the map/agg
    // shape already gated by its own query, and the manifest is the join of
    // their outputs — the exact layout a downstream trainer consumes.
    "pipeline_doc_manifest" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val exact = docs.select(col("doc_id"), md5(col("text")).as("h"))
        .join(Dedup.exactGroups(docs).select(col("text_hash").as("h"), col("keep_id")), "h")
        .select(col("doc_id"), (col("doc_id") =!= col("keep_id")).as("exact_dup"))
      val nd = nearDupPairsShared(s, dir).select(col("b").as("doc_id")).distinct()
        .withColumn("near_dup", lit(true))
      val bench = docs.filter(pmod(col("doc_id"), lit(100)) === 7)
      val cont = Dedup.contamination(
          docs.filter(pmod(col("doc_id"), lit(100)) =!= 7), bench, 4)
        .select("doc_id").withColumn("contaminated", lit(true))
      val rep = docs.select(col("doc_id"),
          TextOps.repetitionStatsUdf(col("text")).as("r"),
          TextOps.qualityScore(col("text")).as("q"))
        .select(col("doc_id"),
          (col("r.dup_2gram_micros") > 300000L).as("rep_2gram"),
          (col("r.dup_line_micros") > 300000L).as("rep_lines"),
          (col("r.dup_token_micros") > 500000L).as("rep_tokens"),
          (col("r.top_2gram_micros") > 200000L).as("rep_top2gram"),
          (col("q") < 0.8).as("low_quality"))
      val sup = surprisalPerDoc(s, dir).select(col("doc_id"),
        (col("surprisal_micros") > col("n_tokens") * lit(3500000L)).as("high_surprisal"))
      // the surprisal signal joins LEFT: a document whose text yields zero
      // non-empty tokens has no surprisal row, and an inner join would
      // silently drop it from the manifest — the one-row-per-document
      // contract must hold for every doc (its high_surprisal is then null,
      // which concat_ws skips exactly like false)
      docs.select(col("doc_id"),
          (pmod(col("doc_id"), lit(100)) === 7).as("benchmark"))
        .join(exact, "doc_id")
        .join(nd, Seq("doc_id"), "left")
        .join(cont, Seq("doc_id"), "left")
        .join(rep, "doc_id")
        .join(sup, Seq("doc_id"), "left")
        .withColumn("reasons", concat_ws(",",
          when(col("benchmark"), "benchmark"),
          when(coalesce(col("contaminated"), lit(false)), "contaminated"),
          when(col("exact_dup"), "exact_dup"),
          when(coalesce(col("near_dup"), lit(false)), "near_dup"),
          when(col("low_quality"), "low_quality"),
          when(col("rep_2gram"), "rep_2gram"),
          when(col("rep_lines"), "rep_lines"),
          when(col("rep_tokens"), "rep_tokens"),
          when(col("rep_top2gram"), "rep_top2gram"),
          when(col("high_surprisal"), "high_surprisal")))
        .withColumn("keep", when(col("reasons") === "", 1L).otherwise(0L))
        .select(col("doc_id"), col("keep"), col("reasons"))
        .orderBy("doc_id")
    }),

    "dedup_simhash" -> ((s, dir) => {
      Dedup.withSimhash(Tables.documents(s, dir))
        .select("doc_id", "simhash").orderBy("doc_id")
    }),

    "dedup_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashPairs(Tables.documents(s, dir), maxHamming = 10)
        .select(col("a"), col("b"), col("hamming").cast("long"))
        .orderBy("a", "b")
    }),

    "ann_cosine_pairs" -> ((s, dir) => {
      Dedup.embeddingNearDups(Tables.embeddings(s, dir), simThreshold = 0.4, kernel = "fold")
        .select(col("a"), col("b"), col("cosine"))
        .orderBy("a", "b")
    }),

    "q_events_tumbling" -> ((s, dir) => {
      EventOps.tumbling(Tables.events(s, dir), widthSec = 600)
        .select("bucket", "event_type", "n", "sum_value_micros", "bucket_start")
        .orderBy("bucket", "event_type")
    }),

    // Time-ranged daily rollup over the DATE-PARTITIONED artifact: the
    // one-week BETWEEN lands in the scan's PartitionFilters (PlanSpec
    // gates it), so 7 of 30 day directories are listed and read — at
    // 100 TB this is the difference between scanning a week and scanning
    // the store. The rollup itself is one partial-agg exchange.
    "q_events_pruned" -> ((s, dir) => {
      s.read.parquet(eventsByDateDir(s, dir))
        .filter(col("day").between(
          lit("2024-01-08").cast("date"), lit("2024-01-14").cast("date")))
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("n"), sum(micros(col("value"))).as("sum_value_micros"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"), col("sum_value_micros"))
        .orderBy("day", "event_type")
    }),

    // Daily rollup over the INCREMENTALLY-maintained artifact: bootstrap
    // (days < 2024-01-20) + a dynamic-overwrite delta batch with a one-day
    // overlap (see eventsIncrementalDir). The rollup must equal the raw
    // table's — i.e. the overlap day was REPLACED once, never duplicated,
    // and no bootstrap day was truncated by the delta write. The oracle is
    // the plain full-table rollup, so any incremental-maintenance slip
    // (doubled overlap rows, missing bootstrap days) hash-fails.
    "q_events_incremental" -> ((s, dir) => {
      s.read.parquet(eventsIncrementalDir(s, dir))
        .groupBy("day")
        .agg(count(lit(1)).as("n"), sum(micros(col("value"))).as("sum_value_micros"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n"), col("sum_value_micros"))
        .orderBy("day")
    }),

    // JOIN-DRIVEN prune over the same date-partitioned artifact — the DPP
    // pattern that actually bites at 100 TB: the date range q_events_pruned
    // exercises is a STATIC PartitionFilter, but production rollups filter
    // a day DIMENSION (fiscal calendar, holiday table, experiment windows)
    // and join it to the fact — the fact scan can then only prune at
    // RUNTIME, when dynamic partition pruning feeds the dim broadcast's
    // day values into the scan's partition filter (PlanSpec gates the
    // `dynamicpruning` expression at the scan). Here the dim is the
    // 30-day calendar with a weekday index, filtered to weekends: 9 of 30
    // day directories survive, chosen by the join, not by a literal.
    "q_events_dpp" -> ((s, dir) => {
      val dim = s.range(0, 30)
        .select(date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("day"),
          pmod(col("id"), lit(7)).as("di"))
        .filter(col("di").isin(5, 6)) // 2024-01-01 is a Monday: di 5/6 = Sat/Sun
      s.read.parquet(eventsByDateDir(s, dir))
        .join(broadcast(dim.select("day")), Seq("day"))
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("n"), sum(micros(col("value"))).as("sum_value_micros"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"), col("sum_value_micros"))
        .orderBy("day", "event_type")
    }),

    // Runtime Bloom-filter join pruning — the ROW-level sibling of
    // q_events_dpp's partition-level prune, and the regime that matters at
    // 100 TB: both sides too big to broadcast (modeled by zeroing the
    // broadcast threshold), so Catalyst's InjectRuntimeFilter builds a
    // Bloom filter from the dim's selective filter ('1-URGENT' keeps ~1/5
    // of orders) and pushes `might_contain(l_orderkey)` into the fact scan
    // — non-matching fact rows die at the scan instead of riding the
    // shuffle. The rule keys on SIZE ESTIMATES (a hint can't trigger it),
    // so the frame materializes eagerly under the scoped confs and the
    // plan — gated by PlanSpec for might_contain — is fixed before they
    // restore. The oracle is the plain filtered join: the Bloom filter has
    // false positives but the join itself stays exact, so pruning never
    // changes a row.
    "q_bloom_join" -> ((s, dir) => {
      val prev = Seq(
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
        .map(k => k -> s.conf.getOption(k))
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      try {
        val o = Tables.orders(s, dir)
          .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
        val l = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_quantity", "l_returnflag")
        val res = GraftCache.track(
          l.join(o, col("l_orderkey") === col("o_orderkey"))
            .groupBy("l_returnflag")
            .agg(count(lit(1)).as("n"),
              sum(micros(col("l_quantity"))).as("sum_qty_us"))
            .orderBy("l_returnflag"))
        res.count() // plan + execute NOW, while the shuffle-join regime holds
        res
      } finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    }),

    // Skew-salted shuffle join (SkewJoin): events ⋈ per-type baseline on
    // event_type — 5 distinct keys over 100k rows, the each-key-is-a-hot-key
    // shape where hash partitioning would funnel ~20% of the fact through
    // single tasks. The census finds every type heavy (threshold 32 at all
    // fixture scales), rows spread over (type, salt 0..7), and the baseline
    // replicates ×8 — output identical to the plain join, which is the
    // oracle. Integer-micros cross-multiply (value·n > sum) avoids division
    // so "above type average" is exact in both engines. The shuffle_merge
    // hint models the big-dim regime (a broadcastable dim needs no salt);
    // SkewJoinSpec measures the partition-balance win on synthetic skew.
    "q_events_skew_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "event_type", "value")
      val base = Tables.events(s, dir).groupBy("event_type")
        .agg(count(lit(1)).as("n_base"), sum(micros(col("value"))).as("sm"))
      SkewJoin.innerSalted(ev, base, "event_type", col("event_id"),
          nSalt = 8, heavyThreshold = 32)
        .groupBy("event_type")
        .agg(max(col("n_base")).as("n_events"),
          sum(when(micros(col("value")) * col("n_base") > col("sm"), 1L)
            .otherwise(0L)).as("n_above"))
        .orderBy("event_type")
    }),

    // Backward as-of join (AsOfJoin): every event picks up the user's most
    // recent signup value at or before the event — the time-series join
    // DuckDB spells ASOF JOIN and Spark lacks. The union+running-window form
    // costs ONE hash exchange on user_id (the plan has no join node at all);
    // the naive theta-join alternative is a nested-loop at any scale. Dim is
    // deduped to one row per (user, ts) so "latest" is unambiguous in both
    // engines; signup events match themselves (inclusive >=), users with no
    // prior signup aggregate as unmatched — LEFT ASOF semantics, which the
    // oracle replays literally.
    "q_events_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select("user_id", "ts_ns", "event_id")
      val dim = Tables.events(s, dir)
        .filter(col("event_type") === "signup")
        .groupBy("user_id", "ts_ns")
        .agg(max(micros(col("value"))).as("signup_val_us"))
      AsOfJoin.backward(ev, dim, "user_id", "ts_ns", Seq("signup_val_us"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("signup_val_us").isNotNull, 1L).otherwise(0L))
            .as("n_matched"),
          coalesce(sum("signup_val_us"), lit(0L)).as("sm_signup"))
        .orderBy("user_id")
    }),

    // The skew-safe bucketed as-of (AsOfJoin.backwardBucketed, one-day
    // time slices): identical semantics to q_events_asof_join through the
    // (key, bucket)-partitioned window + bucket-tail carry pass — the plan
    // a key with a one-task-exceeding history needs. Same oracle: bucketing
    // must never change a row.
    "q_events_asof_bucketed" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select("user_id", "ts_ns", "event_id")
      val dim = Tables.events(s, dir)
        .filter(col("event_type") === "signup")
        .groupBy("user_id", "ts_ns")
        .agg(max(micros(col("value"))).as("signup_val_us"))
      AsOfJoin.backwardBucketed(ev, dim, "user_id", "ts_ns",
          Seq("signup_val_us"), bucketWidth = 86400000000000L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("signup_val_us").isNotNull, 1L).otherwise(0L))
            .as("n_matched"),
          coalesce(sum("signup_val_us"), lit(0L)).as("sm_signup"))
        .orderBy("user_id")
    }),

    // Semi-structured extraction: the events fixture's `props` column is a
    // JSON payload. from_json with an explicit DDL schema is the
    // scale-correct idiom — typed, codegen'd, and pushdown-friendly, where
    // get_json_object re-parses per access and an inferred schema costs a
    // full pre-pass. Malformed documents surface as a null struct (Spark's
    // PERMISSIVE default) and are COUNTED (`n_bad`) instead of silently
    // dropped — at 100 TB silently-vanishing corrupt rows are how ingest
    // bugs hide; the fixture is all-valid so n_bad = 0 is itself asserted
    // by the oracle.
    "q_events_json" -> ((s, dir) => {
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      // LongType in the DDL schema, not IntegerType+cast: with int32 a k
      // beyond 2^31 becomes a PERMISSIVE null (counted in n_bad, dropped
      // from sum_k) while the oracle's bigint cast would sum it — the typed
      // range must match the oracle's.
      val k = from_json(col("props"), StructType(Seq(StructField("k", LongType))))
        .getField("k")
      Tables.events(s, dir)
        .select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_bad"),
          coalesce(sum("k"), lit(0L)).as("sum_k"),
          countDistinct("k").as("n_distinct_k"))
        .orderBy("event_type")
    }),

    // Forward as-of (AsOfJoin.forward): each click picks up the user's NEXT
    // purchase at-or-after it — the time-to-conversion funnel metric. Same
    // single-exchange union+window plan as the backward join, with the
    // running last over preceding rows flipped to a running first over
    // following rows. Delay sums are exact integer micros; the oracle
    // computes the same "earliest at-or-after" by min() over an inequality
    // join (tiny per-user pair counts at any fixture scale).
    "q_events_funnel" -> ((s, dir) => {
      val clicks = Tables.events(s, dir)
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_ns"), col("event_id"))
      val purchases = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts_ns").agg(count(lit(1)).as("__np"))
        .select(col("user_id"), col("ts_ns"), col("ts_ns").as("p_ts"))
      AsOfJoin.forward(clicks, purchases, "user_id", "ts_ns", Seq("p_ts"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_clicks"),
          sum(when(col("p_ts").isNotNull, 1L).otherwise(0L)).as("n_converted"),
          coalesce(sum(expr("(p_ts - ts_ns) div 1000")), lit(0L))
            .as("sum_delay_us"))
        .orderBy("user_id")
    }),

    // Interval containment via the bin-bucketed range join (RangeJoin):
    // every 20th error event opens a 1800 s incident window; each incident
    // counts the events it contains. The bin key turns what Spark would
    // otherwise plan as a broadcast-nested-loop into a hash-joinable
    // equi-join (W = window length → ≤ 2 bins per interval); the exact
    // containment filter runs on the equi-matched candidates only. Every
    // incident contains at least its own opening event, so the inner join
    // keeps all incidents. The oracle replays the containment as a plain
    // inequality join (DuckDB's IEJoin handles that shape natively).
    "q_events_range_join" -> ((s, dir) => {
      val winNs = 1800L * 1000000000L
      val ev = Tables.events(s, dir)
        .select(col("ts_ns"), micros(col("value")).as("val_us"))
      val inc = Tables.events(s, dir)
        .filter(col("event_type") === "error" && col("event_id") % 20 === 0)
        .select(col("event_id").as("incident_id"),
          col("ts_ns").as("start_ns"), (col("ts_ns") + winNs).as("end_ns"))
      RangeJoin.pointInInterval(ev, inc, "ts_ns", "start_ns", "end_ns",
          binWidth = winNs)
        .groupBy("incident_id")
        .agg(count(lit(1)).as("n_events"),
          coalesce(sum("val_us"), lit(0L)).as("sm_value"))
        .orderBy("incident_id")
    }),

    // Time travel over the manifest-log table (sources.TableLog): version 1
    // holds the bootstrap days, version 2 the full table; BOTH versions are
    // read back and summarized in one result. Data files are immutable and
    // commits only ever add manifests, so every historical version stays
    // exactly reproducible — the snapshot-isolation/time-travel pair plain
    // parquet overwrites can't give (TableLogSpec pins isolation under
    // racing commits; this query pins version-content correctness under
    // the driver's oracle).
    "q_events_timetravel" -> ((s, dir) => {
      val table = eventsTimetravelDir(s, dir)
      Seq(1, 2).map { v =>
        graft.sources.TableLog.read(s, table, Some(v))
          .agg(count(lit(1)).as("n_events"),
            coalesce(sum("us"), lit(0L)).as("sum_value_micros"),
            countDistinct("day").as("n_days"))
          .select(lit(v).as("version"), col("n_events"),
            col("sum_value_micros"), col("n_days"))
      }.reduce(_.unionByName(_)).orderBy("version")
    }),

    // OPTIMIZE + 2-D data skipping: the zorder slice (user < 8 ×
    // 5 days) served through readWhereRanges over the CLUSTERED log table
    // — both box edges prune at the MANIFEST (per-dir stats on both
    // clustered dimensions), before any file is listed. Same slice and
    // oracle as q_events_zorder: clustering never changes rows, it only
    // moves where the pruning happens (parquet row-group stats there,
    // manifest stats here). ClusteredOptimizeSpec pins the dir counts.
    "q_events_optimize_cluster" -> ((s, dir) => {
      val t1 = 1704844800L * 1000000000L // 2024-01-10
      val t2 = 1705276800L * 1000000000L // 2024-01-15
      val table = eventsOptimizeDir(s, dir)
      graft.sources.TableLog.readWhereRanges(s, table,
          Seq(("ts_ns", t1, t2 - 1), ("user_id", 0L, 7L)))
        .filter(col("ts_ns") >= t1 && col("ts_ns") < t2 && col("user_id") < 8)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          coalesce(sum("us"), lit(0L)).as("sum_value_micros"))
        .orderBy("event_type")
    }),

    // RESTORE on the log table: v2 "accidentally" overwrote the table
    // with its click rows; v3 = restore(1) commits v1's manifest entries
    // as the new head — zero data copied, full history intact. The head
    // rollup must equal v1's definition exactly; the oracle replays that
    // definition over raw events (it never sees the detour, which is the
    // point).
    "q_events_restore" -> ((s, dir) => {
      val table = eventsRestoreDir(s, dir)
      graft.sources.TableLog.read(s, table)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          coalesce(sum("us"), lit(0L)).as("sum_value_micros"))
        .orderBy("event_type")
    }),

    // SCHEMA EVOLUTION on the log table: v1 committed the pre-cut events
    // without the micros column, v2 appended the post-cut slice with it —
    // the head read resolves the drift FROM THE MANIFEST (per-schema scan
    // groups, NULL backfill for old dirs, no parquet footer merge), and
    // this rollup proves rows and nulls land exactly where the commit
    // history says: n counts every row, n_scored only rows whose dir ever
    // had the column. Oracle replays the day cut over raw events.
    "q_events_schema_evolve" -> ((s, dir) => {
      val table = eventsEvolveDir(s, dir)
      graft.sources.TableLog.read(s, table)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("us").isNotNull, 1L).otherwise(0L)).as("n_scored"),
          coalesce(sum("us"), lit(0L)).as("sum_value_micros"))
        .orderBy("event_type")
    }),

    // CHANGE FEED between TableLog versions: v1→v3 spans a partition-level
    // append (the days ≥ the cut arrive in v2) and a partition-level
    // delete (v3 rewrites the prune day keeping only its click rows), so
    // the feed carries BOTH ops. Immutable dirs + complete manifests make
    // the diff nearly free: only dirs present in exactly ONE of the two
    // manifests are read, and rows rewritten identically (the click rows)
    // are netted out by the except-both-ways — the feed is the NET change,
    // not a file-rewrite echo (TableLogSpec pins a pure compaction diffing
    // EMPTY). The oracle replays the version definitions over raw events.
    "q_events_changefeed" -> ((s, dir) => {
      val table = eventsTimetravelDir(s, dir)
      graft.sources.TableLog.changeFeed(s, table, 1, 3)
        .groupBy("_change_type", "event_type")
        .agg(count(lit(1)).as("n"), sum("us").as("sum_value_micros"))
        .orderBy("_change_type", "event_type")
    }),

    // INCREMENTAL VIEW MAINTENANCE off the change feed — the consumer side
    // of CDC: a per-type rollup maintained from version 1's state plus the
    // v1→v3 feed's deltas (insert = +1/+us, delete = −1/−us), never
    // re-reading the unchanged partitions. full_outer + coalesce so types
    // born or emptied by the feed are handled; zero-count groups drop out.
    // At 100 TB this is how derived tables stay current: the feed reads
    // only changed dirs, the apply touches only changed groups. Oracle:
    // the maintained rollup must equal the DIRECT rollup of the v3
    // definition over raw events.
    "q_events_changefeed_apply" -> ((s, dir) => {
      val table = eventsTimetravelDir(s, dir)
      val base = graft.sources.TableLog.read(s, table, Some(1))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n0"), sum("us").as("us0"))
      val sign = when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
      val delta = graft.sources.TableLog.changeFeed(s, table, 1, 3)
        .groupBy("event_type")
        .agg(sum(sign).as("dn"), sum(sign * col("us")).as("dus"))
      base.join(delta, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("us0"), lit(0L)) + coalesce(col("dus"), lit(0L)))
            .as("sum_value_micros"))
        .filter(col("n") =!= 0L)
        .orderBy("event_type")
    }),

    // MANIFEST-LEVEL partition pruning over the same TableLog table: the
    // day-equality read resolves through readWhere, so every non-matching
    // directory is pruned from the MANIFEST — never listed, never
    // footer-read, never scanned (TableLogSpec pins the resolved-dir count
    // at exactly one per matching day; at 100 TB this is the difference
    // between scanning the day you asked for and listing the whole table).
    // The row filter stays on top as the mixed tagged/untagged guard —
    // a no-op row-wise here, free either way. Oracle: the raw events
    // rollup for that day.
    "q_events_timetravel_pruned" -> ((s, dir) => {
      val table = eventsTimetravelDir(s, dir)
      // version 2 = the full table (v3 is the changefeed demo's
      // partition-level delete) — pruning composes with time travel
      graft.sources.TableLog.readWhere(s, table, _ == TtPruneDay, Some(2))
        .filter(col("day") === lit(TtPruneDay).cast("date"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("us").as("sum_value_micros"))
        .orderBy("event_type")
    }),

    // DATA SKIPPING on a VALUE predicate (TableLog per-dir column stats):
    // every commit recorded ts_ns min/max into its manifest entries, so a
    // time-RANGE predicate — not a partition-key equality — prunes at the
    // manifest to exactly the directories whose committed [min,max] overlap
    // the range. Here the 06:00–18:00 slice of one day resolves ONE
    // directory out of the whole table (PlanSpec gates the file index at 1
    // path) even though the predicate never mentions the partition column:
    // Delta-style data skipping, one level above parquet row-group stats.
    // Entries without stats are kept (conservative), and the row filter on
    // top makes kept-but-partial dirs exact. Oracle: the same ts-range
    // rollup over raw events.
    "q_events_stats_pruned" -> ((s, dir) => {
      val table = eventsTimetravelDir(s, dir)
      val dayNs = java.time.LocalDate.parse(TtPruneDay).toEpochDay *
        86400L * 1000000000L
      val lo = dayNs + 6L * 3600 * 1000000000L
      val hiEx = dayNs + 18L * 3600 * 1000000000L
      // version 2 = the full table, as in q_events_timetravel_pruned
      graft.sources.TableLog
        .readWhereRange(s, table, "ts_ns", lo, hiEx - 1, Some(2))
        .filter(col("ts_ns") >= lo && col("ts_ns") < hiEx)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("us").as("sum_value_micros"))
        .orderBy("event_type")
    }),

    // The SMB join (eventsSmbDir): both sides bucketed AND bucket-sorted on
    // user_id, so the SortMergeJoin needs NO exchange and NO sort on either
    // side — the scans' declared layouts already satisfy its distribution
    // and ordering requirements (PlanSpec-gated). Broadcast is disabled in
    // scope because at fixture scale the tiny dims would auto-broadcast and
    // the demonstration would measure nothing; at the scale this join
    // exists for, both sides are far over any broadcast threshold.
    "q_events_smb_join" -> ((s, dir) => {
      val smb = eventsSmbDir(s, dir)
      val confs = Seq(
        // force the merge join (tiny fixture dims would auto-broadcast)
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        // honor the buckets' SORTED BY: off by default since Spark 3
        // because multi-file buckets would need a merge-sort read;
        // writeBucketed guarantees ONE file per bucket, the case the
        // ordering is sound for — this is what deletes the Sort nodes
        "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true")
      val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val p = ArtifactIO.readBucketed(s, s"$smb/purch",
          "user_id BIGINT, n_p BIGINT, sum_p_us BIGINT", "user_id", KnnGraph.EdgeBuckets)
        val c = ArtifactIO.readBucketed(s, s"$smb/clicks",
          "user_id BIGINT, n_c BIGINT", "user_id", KnnGraph.EdgeBuckets)
        val res = GraftCache.track(
          p.join(c, "user_id")
            .select("user_id", "n_p", "sum_p_us", "n_c")
            .orderBy("user_id"))
        res.count() // plan + execute while the SMB regime holds
        res
      } finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    }),

    // Rank-family window breadth: ntile/percent_rank/cume_dist over a
    // total per-type order (ts, event_id — tie-free, so every rank is
    // deterministic), folded to quartile rows. percent_rank and cume_dist
    // are exact small rationals; the micros render makes their IEEE
    // division bit-identical across engines. One window exchange, then an
    // ordinary partial agg — nothing here needs more than Spark's built-in
    // rank machinery, which is the point: the breadth is free.
    "q_events_window_funcs" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("ts_ns"), col("event_id"))
      Tables.events(s, dir)
        .select(col("event_type"), col("value"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .groupBy("event_type", "quartile")
        .agg(count(lit(1)).as("n"),
          sum(micros(col("pr"))).as("sum_pr_us"),
          sum(micros(col("cd"))).as("sum_cd_us"),
          sum(micros(col("value"))).as("sum_value_micros"))
        .orderBy("event_type", "quartile")
    }),

    // Z-order layout: the 2-D selective slice (a user range × a time range)
    // served COLD from the Morton-clustered artifact — the layout, not a
    // partition scheme, is what narrows every file's min/max on BOTH
    // columns so parquet statistics prune row groups for either predicate.
    // Row set provably identical to the raw table (clustering only moves
    // rows); the oracle replays the slice over raw events.
    "q_events_zorder" -> ((s, dir) => {
      val t1 = 1704844800L * 1000000000L // 2024-01-10
      val t2 = 1705276800L * 1000000000L // 2024-01-15
      s.read.parquet(eventsZorderDir(s, dir))
        .filter(col("user_id") < 8 && col("ts_ns") >= t1 && col("ts_ns") < t2)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          coalesce(sum(micros(col("value"))), lit(0L)).as("sum_value_micros"))
        .orderBy("event_type")
    }),

    // The 3-D selective slice (user range × time range × value band) served
    // COLD from the Morton-3 clustered artifact: all three predicates prune
    // at the parquet row-group-statistics level because the layout keeps
    // every file's min/max narrow on ALL THREE columns. Row set provably
    // identical to the raw table (clustering only moves rows); the oracle
    // replays the slice over raw events.
    "q_events_zorder3" -> ((s, dir) => {
      val t1 = 1704844800L * 1000000000L // 2024-01-10
      val t2 = 1705276800L * 1000000000L // 2024-01-15
      s.read.parquet(eventsZorder3Dir(s, dir))
        .filter(col("user_id") < 8 && col("ts_ns") >= t1 && col("ts_ns") < t2 &&
          col("value") >= 100.0 && col("value") < 200.0)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          coalesce(sum(micros(col("value"))), lit(0L)).as("sum_value_micros"))
        .orderBy("event_type")
    }),

    // The SAME 2-D slice served from the HILBERT-clustered artifact — read
    // beside q_events_zorder: identical rows (layout never changes the row
    // set; the oracle is the same raw-slice replay), different file-level
    // locality. The continuous curve has no Z-seams, so the slice's
    // surviving chunk count is ≤ Morton's (ZOrderSpec pins the comparison
    // quantitatively, including the axis-slice case where the two tie).
    "q_events_hilbert" -> ((s, dir) => {
      val t1 = 1704844800L * 1000000000L // 2024-01-10
      val t2 = 1705276800L * 1000000000L // 2024-01-15
      s.read.parquet(eventsHilbertDir(s, dir))
        .filter(col("user_id") < 8 && col("ts_ns") >= t1 && col("ts_ns") < t2)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          coalesce(sum(micros(col("value"))), lit(0L)).as("sum_value_micros"))
        .orderBy("event_type")
    }),

    // The v2 OPTIMIZER-RULE path under the driver gate: the query writes
    // the naive LEFT theta-join (`events LEFT JOIN incidents ON
    // containment`) and RangeJoinRewrite — conf-scoped like q_bloom_join's
    // runtime-filter confs — turns it into the bin equi-join with the
    // un-exploded point side preserved, so unmatched events null-extend
    // exactly once. Same eager materialization while the scoped conf holds;
    // the oracle replays the plain LEFT inequality join.
    "q_events_range_left" -> ((s, dir) => {
      import graft.plans.RangeJoinRewrite
      val winNs = 1800L * 1000000000L
      val prev = s.conf.getOption(RangeJoinRewrite.ConfKey)
      RangeJoinRewrite.install(s)
      s.conf.set(RangeJoinRewrite.ConfKey, winNs.toString)
      try {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("ts_ns"), col("event_type"))
        val inc = Tables.events(s, dir)
          .filter(col("event_type") === "error" && col("event_id") % 20 === 0)
          .select(col("event_id").as("incident_id"),
            col("ts_ns").as("start_ns"), (col("ts_ns") + winNs).as("end_ns"))
        val res = GraftCache.track(
          ev.join(inc,
              col("ts_ns") >= col("start_ns") && col("ts_ns") < col("end_ns"),
              "left")
            .groupBy("event_type")
            .agg(count(lit(1)).as("n_rows"),
              sum(when(col("incident_id").isNotNull, 1L).otherwise(0L))
                .as("n_in_incident"),
              countDistinct("incident_id").as("n_incidents"))
            .orderBy("event_type"))
        res.count() // plan + execute NOW, while the rewrite conf holds
        res
      } finally prev match {
        case Some(v) => s.conf.set(RangeJoinRewrite.ConfKey, v)
        case None    => s.conf.unset(RangeJoinRewrite.ConfKey)
      }
    }),

    // SCD2 (slowly-changing-dimension type 2) point-in-time enrichment —
    // the batch-dim pattern every warehouse runs: each signup's value
    // becomes the user's attribute valid [ts, next signup ts), built with
    // ONE lead() window over the (tiny) change log; purchases then join
    // point-in-time via the KEYED bin range join (keys = user_id), the
    // physical alternative to the as-of union+window when the dim is a
    // materialized validity table. The open tail stays NULL-ended logically
    // (matches everything after the last change); the engine closes it at
    // max(ts)+1 via a broadcast scalar frame only because the bin sequence
    // needs a finite end — no point lies beyond max(ts), so the row set is
    // unchanged, and the oracle keeps the NULL-ended form.
    "q_events_scd2" -> ((s, dir) => {
      val dayNs = 86400L * 1000000000L
      val ev = Tables.events(s, dir)
      val mx = ev.agg((max("ts_ns") + lit(1L)).as("__mx"))
      val dim = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts_ns").as("valid_from"))
        .agg(max(micros(col("value"))).as("attr_us"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy("valid_from")))
        .crossJoin(broadcast(mx))
        .withColumn("valid_to", coalesce(col("valid_to"), col("__mx")))
        .drop("__mx")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_ns"), micros(col("value")).as("p_val_us"))
      RangeJoin.pointInInterval(purchases, dim, "ts_ns",
          "valid_from", "valid_to", binWidth = dayNs, keys = Seq("user_id"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"),
          sum("attr_us").as("sum_attr_us"),
          sum("p_val_us").as("sum_p_us"))
        .orderBy("user_id")
    }),

    // Interval OVERLAP via the dedup-free bin join (RangeJoin
    // .intervalOverlap): 6 h error-incident windows × 3 h ad-exposure
    // windows, per incident the overlapping-exposure count and total
    // overlap duration. Both interval sides replicate to their covered
    // bins; the pair survives only in the bin of max(start) — covered by
    // both sides whenever they overlap — so no distinct pass ever touches
    // the |pairs|-sized join output. Overlap sums are exact integer micros
    // (ts_ns is µs-grained, so `div 1000` is lossless); the oracle replays
    // the overlap predicate as DuckDB's native IEJoin.
    "q_events_interval_overlap" -> ((s, dir) => {
      val incLenNs = 21600L * 1000000000L
      val expLenNs = 10800L * 1000000000L
      val ev = Tables.events(s, dir)
      val inc = ev.filter(col("event_type") === "error" && col("event_id") % 5 === 0)
        .select(col("event_id").as("incident_id"),
          col("ts_ns").as("i_start"), (col("ts_ns") + incLenNs).as("i_end"))
      val exposure = ev.filter(col("event_type") === "view" && col("event_id") % 10 === 0)
        .select(col("event_id").as("exposure_id"),
          col("ts_ns").as("x_start"), (col("ts_ns") + expLenNs).as("x_end"))
      RangeJoin.intervalOverlap(inc, exposure, "i_start", "i_end",
          "x_start", "x_end", binWidth = incLenNs)
        .groupBy("incident_id")
        .agg(count(lit(1)).as("n_exposures"),
          sum(expr("(least(i_end, x_end) - greatest(i_start, x_start)) div 1000"))
            .as("sum_overlap_us"))
        .orderBy("incident_id")
    }),

    // Pivot: per-user event-type counts as COLUMNS — the wide-format report
    // shape. The type list is passed explicitly, which skips the extra
    // distinct-values pass Spark otherwise runs AND makes the output schema
    // static (at 100 TB an implicit pivot over an unbounded key is a
    // driver-OOM trap; explicit values make the width a reviewed choice).
    // na.fill pins absent combinations to 0 so no nullable numerics reach
    // the driver compare. One partial-agg exchange, same as any groupBy.
    "q_events_pivot" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")
    }),

    // Rollup: (event_type, week) totals plus per-type and grand subtotals
    // in one pass — Spark expands the grouping sets BEFORE the exchange, so
    // the three aggregation levels share a single shuffle (vs three queries
    // or a union). Subtotal keys render as '(all)' on both engines; the
    // week index is integer epoch-arithmetic (secs div 604800), tz-proof
    // like every event query.
    "q_events_rollup" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_type"),
        RangeJoin.floorDivCol(EventOps.epochSecNs(col("ts_ns")), 604800L)
          .cast("string").as("wk"),
        micros(col("value")).as("us"))
      ev.rollup("event_type", "wk")
        .agg(count(lit(1)).as("n"), sum("us").as("sum_value_micros"))
        .select(coalesce(col("event_type"), lit("(all)")).as("event_type"),
          coalesce(col("wk"), lit("(all)")).as("wk"),
          col("n"), col("sum_value_micros"))
        .orderBy("event_type", "wk")
    }),

    // Cube: all four grouping sets of (event_type, week) — rollup's
    // lattice completed with the per-week-across-types subtotal the
    // hierarchy form can't express. Same single-shared-exchange Expand
    // plan, same '(all)' rendering.
    "q_events_cube" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_type"),
        RangeJoin.floorDivCol(EventOps.epochSecNs(col("ts_ns")), 604800L)
          .cast("string").as("wk"),
        micros(col("value")).as("us"))
      ev.cube("event_type", "wk")
        .agg(count(lit(1)).as("n"), sum("us").as("sum_value_micros"))
        .select(coalesce(col("event_type"), lit("(all)")).as("event_type"),
          coalesce(col("wk"), lit("(all)")).as("wk"),
          col("n"), col("sum_value_micros"))
        .orderBy("event_type", "wk")
    }),

    // Sliding windows (width 600 s, slide 300 s) through Spark's native
    // window() expansion — each event lands in two overlapping windows.
    "q_events_sliding" -> ((s, dir) => {
      EventOps.sliding(Tables.events(s, dir), widthSec = 600, slideSec = 300)
        .orderBy("slot", "event_type")
    }),

    // Structured Streaming path under the SAME oracle as the batch operator:
    // MULTI-micro-batch file-source replay of the events fixture (4 files
    // contiguous in event time, maxFilesPerTrigger=1, so the watermark
    // advances across real batch boundaries) → watermarked tumbling windows
    // (complete mode, so a finite replay emits every window) → memory sink.
    // Stream–batch parity becomes a driver-gated bit-exact check, not just a
    // ScalaTest assertion.
    "q_stream_tumbling" -> ((s, dir) =>
      streamTrio(s, dir)("tumbling").orderBy("bucket", "event_type")),

    "q_events_sessions" -> ((s, dir) => {
      EventOps.sessionStats(Tables.events(s, dir), gapSec = 1800)
        .select("user_id", "session_seq", "n_events", "start_es", "end_es",
          "sum_value_micros", "duration_sec")
        .orderBy("user_id", "session_seq")
    }),

    // The skew-safe sessionizer (EventOps.sessionStatsBucketed): identical
    // rows to q_events_sessions under the SAME oracle, but the event-level
    // window partitions by (user, 6 h time-slice) + a bucket-frame stitch
    // pass — a hot user's history splits across tasks instead of landing on
    // one (the sessionizer analog of AsOfJoin.backwardBucketed). 6 h ≫ the
    // 1800 s gap, so most sessions stitch zero or one boundary.
    "q_events_sessions_bucketed" -> ((s, dir) => {
      EventOps.sessionStatsBucketed(Tables.events(s, dir), gapSec = 1800,
          bucketSec = 21600L)
        .select("user_id", "session_seq", "n_events", "start_es", "end_es",
          "sum_value_micros", "duration_sec")
        .orderBy("user_id", "session_seq")
    }),

    // The shared five-leg replay as one query: one row per leg with the row
    // count of that leg's registered result, each count oracle-checked
    // against the same SQL body the per-leg entries replay. Whichever of
    // the replay's consumers runs first pays the memoized concurrent build.
    "q_stream_block" -> ((s, dir) => {
      val legs = streamTrio(s, dir)
      Seq(
        "dedup"    -> legs("dedup"),
        "join"     -> legs("join"),
        "neardup"  -> legs("neardup").groupBy("doc_id")
          .agg(count(lit(1)).as("nb")),
        "sessions" -> legs("sessions"),
        "tumbling" -> legs("tumbling"))
        .map { case (l, df) =>
          df.agg(count(lit(1)).as("n_rows")).select(lit(l).as("leg"), col("n_rows"))
        }
        .reduce(_.union(_))
        .orderBy("leg")
    }),

    // Streaming exact dedup under duplicate DELIVERY (the at-least-once
    // scenario dropDuplicatesWithinWatermark exists for): the event stream
    // unioned with itself re-delivers every event; watermarked keyed state
    // drops the duplicates, so a finite replay lands on exactly the
    // distinct batch table — the oracle.
    "q_stream_dedup" -> ((s, dir) =>
      streamTrio(s, dir)("dedup").orderBy("event_id")),

    // Streaming ingestion through Spark's NATIVE parquet file sink — the
    // stream-to-lake path every production pipeline runs: the event stream
    // lands day-partitioned under a checkpointed _spark_metadata log (the
    // sink's exactly-once contract: a re-run after failure re-lists only
    // committed files, never double-counts a batch). The replay is consumed
    // in one trigger (the multi-trigger watermark mechanics live in the
    // block's legs); the rollup over the landed files must equal the raw
    // table's — the same oracle as q_events_incremental, because a correct
    // ingest IS the table, re-laid-out.
    "q_stream_sink" -> ((s, dir) => {
      val n = streamSinkSeq.incrementAndGet()
      val base = replayCkptBase(n)
      val outDir = new java.io.File(base, "sinkout").getAbsolutePath
      withStreamShufflePartitions(s, 4) {
        val q = graft.streaming.StreamOps
          .eventsStreamBatched(s, dir, filesPerTrigger = 0)
          .withColumn("day", date_add(lit("1970-01-01").cast("date"),
            expr("cast(if(ts_ns >= 0, ts_ns div 86400000000000, " +
              "-((-ts_ns + 86400000000000 - 1) div 86400000000000)) as int)")))
          .select(col("day"), col("event_type"), micros(col("value")).as("us"))
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", new java.io.File(base, "sinkckpt").getAbsolutePath)
          .outputMode("append").start()
        q.processAllAvailable()
        q.stop()
      }
      GraftCache.onClear(() => rmTree(base))
      val res = GraftCache.track(
        s.read.parquet(outDir)
          .groupBy("day")
          .agg(count(lit(1)).as("n"), sum("us").as("sum_value_micros"))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("n"), col("sum_value_micros"))
          .orderBy("day"))
      res.count() // materialize before the sink dir can be cleared
      res
    }),

    // Streaming MERGE (upsert) into a day-partitioned parquet lake table via
    // foreachBatch — the OTHER stream-to-lake path (q_stream_sink is
    // append-only; this one is keyed). Each micro-batch: read back ONLY the
    // day partitions the batch touches, union, keep the latest state per
    // event_id, and rewrite exactly those partitions under
    // partitionOverwriteMode=dynamic. The source re-delivers every event
    // (duplicate delivery) and the 4-file replay splits days ACROSS
    // micro-batches, so both upsert hazards are exercised: same-key
    // duplicates must collapse and a later batch must not clobber an
    // earlier batch's rows in a shared day. The merged frame is persisted
    // and counted BEFORE the overwrite touches the files it was read from —
    // plain parquet has no snapshot isolation (the gap Delta/Iceberg's
    // commit protocols close; this is the honest no-table-format form).
    // Upsert correctness means the final table IS the distinct event set —
    // the oracle is the raw-table rollup.
    "q_stream_upsert" -> ((caller, dir) => {
      // own SQLConf: the build mutates session conf while it streams
      val s = caller.newSession()
      val n = streamSinkSeq.incrementAndGet()
      val base = replayCkptBase(n)
      val target = new java.io.File(base, "upsert").getAbsolutePath
      GraftCache.onClear(() => rmTree(base))
      val prevMode = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        withStreamShufflePartitions(s, 4) {
          val dayIdx = expr("cast(if(ts_ns >= 0, ts_ns div 86400000000000, " +
            "-((-ts_ns + 86400000000000 - 1) div 86400000000000)) as int)")
          val src = graft.streaming.StreamOps.eventsStreamBatched(s, dir)
            .withColumn("__dup", explode(array(lit(0), lit(1)))).drop("__dup")
            .select(col("event_id"), col("ts_ns"),
              date_add(lit("1970-01-01").cast("date"), dayIdx).as("day"),
              col("event_type"), micros(col("value")).as("us"))
          val q = src.writeStream
            .foreachBatch(graft.streaming.StreamOps.upsertBatch(target) _)
            .option("checkpointLocation",
              new java.io.File(base, "upsertckpt").getAbsolutePath)
            .start()
          try q.processAllAvailable() finally q.stop()
        }
      } finally prevMode match {
        case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None    => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      val res = GraftCache.track(
        s.read.option("basePath", target).parquet(target)
          .groupBy("day")
          .agg(count(lit(1)).as("n"), sum("us").as("sum_value_micros"))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("n"), col("sum_value_micros"))
          .orderBy("day"))
      res.count() // materialize before the target dir can be cleared
      res
    }),

    // The SAME streaming MERGE through the manifest log
    // (StreamOps.upsertBatchLog + sources.TableLog.overwritePartitions —
    // Delta's replaceWhere shape): immutable data dirs + a manifest swap per
    // micro-batch, so the read-merge-replace loop needs NO persist pin and
    // NO overwrite-mode conf, and every batch's commit stays a readable
    // VERSION (the upsert's whole history is time-travelable; UpsertSpec
    // reads the intermediate states back). Same merge semantics, same
    // oracle as q_events... as q_stream_upsert.
    "q_stream_upsert_log" -> ((caller, dir) => {
      // own SQLConf: the build mutates session conf while it streams
      val s = caller.newSession()
      val n = streamSinkSeq.incrementAndGet()
      val base = replayCkptBase(n)
      val table = new java.io.File(base, "upsertlog").getAbsolutePath
      GraftCache.onClear(() => rmTree(base))
      withStreamShufflePartitions(s, 4) {
        val dayIdx = expr("cast(if(ts_ns >= 0, ts_ns div 86400000000000, " +
          "-((-ts_ns + 86400000000000 - 1) div 86400000000000)) as int)")
        val src = graft.streaming.StreamOps.eventsStreamBatched(s, dir)
          .withColumn("__dup", explode(array(lit(0), lit(1)))).drop("__dup")
          .select(col("event_id"), col("ts_ns"),
            date_add(lit("1970-01-01").cast("date"), dayIdx).as("day"),
            col("event_type"), micros(col("value")).as("us"))
        val q = src.writeStream
          .foreachBatch(graft.streaming.StreamOps.upsertBatchLog(table) _)
          .option("checkpointLocation",
            new java.io.File(base, "upsertlogckpt").getAbsolutePath)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      val res = GraftCache.track(
        graft.sources.TableLog.read(s, table)
          .groupBy("day")
          .agg(count(lit(1)).as("n"), sum("us").as("sum_value_micros"))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("n"), col("sum_value_micros"))
          .orderBy("day"))
      res.count() // materialize before the table dir can be cleared
      res
    }),

    // CDC-COMPLETE streaming MERGE: the five-batch CDC replay (four upsert
    // slices, then a tombstone batch deleting every event_id ≡ 0 mod 37)
    // through the manifest-log path. The delete is handled IN the commit:
    // every touched day rides overwritePartitions' alsoReplace, so even a
    // fully-tombstoned day is one dropped manifest entry in the same
    // atomic version — and the tombstone batch itself stays a readable
    // VERSION of the history, which the result exposes: version 4 is the
    // pre-delete table (the full event set), version 5 (head) the
    // post-delete one. Oracle: the raw rollup, minus the deleted keys for
    // v5. UpsertSpec drives delete-then-reinsert and the emptied-day case
    // through BOTH paths (raw dynamic-overwrite and log) directly.
    "q_stream_merge_cdc" -> ((s, dir) => {
      val table = cdcLogTableShared(s, dir)
      val res = GraftCache.track(
        Seq(4, 5).map { v =>
          graft.sources.TableLog.read(s, table, Some(v))
            .groupBy("day")
            .agg(count(lit(1)).as("n"), sum("us").as("sum_value_micros"))
            .select(lit(v).as("version"),
              date_format(col("day"), "yyyy-MM-dd").as("day"),
              col("n"), col("sum_value_micros"))
        }.reduce(_.unionByName(_)).orderBy("version", "day"))
      res.count() // materialize before the table dir can be cleared
      res
    }),

    // THE CHANGE FEED AS A STREAMING SOURCE (StreamOps.changeFeedIvm): the
    // CDC merge lands versions 1–5 of a TableLog table, a COMPACTION lands
    // v6 before the consumer catches up, and then ONE streaming query
    // maintains a per-type rollup from the change feed alone — each tick
    // advances a cursor one version and applies that version's feed delta;
    // the unchanged directories are never re-read after the v1 bootstrap.
    // The cursor rides the maintained view's own TableLog commit (__v), so
    // the consumer is restart-safe exactly-once with no second durability
    // domain. The compaction's feed is EMPTY: v6's view rows equal v5's
    // with only the cursor advanced — state passes through unchanged
    // (ChangeFeedIvmSpec pins this and the restart case directly). The
    // result is the view's OWN history — version k of the view is the
    // maintained rollup after source version k — checked against the full
    // recompute of every version in the oracle.
    "q_stream_changefeed_ivm" -> ((caller, dir) => {
      // own SQLConf: the build mutates session conf while it streams
      val s = caller.newSession()
      // v6: a compaction lands before the consumer catches up — its feed is
      // empty and the maintained state must pass through unchanged
      val table = cdcLogCompactedShared(s, dir)
      val n = streamSinkSeq.incrementAndGet()
      val base = replayCkptBase(n)
      val view = new java.io.File(base, "ivmview").getAbsolutePath
      GraftCache.onClear(() => rmTree(base))
      withStreamShufflePartitions(s, 4) {
        val replay = eventsCdcReplayDir(s, dir)
        // consumer: the 5-file replay is only the TICK CLOCK here —
        // 5 ticks walk the cursor v1 (bootstrap) → v6
        val qc = s.readStream
          .schema(s.read.option("pathGlobFilter", "*.parquet").parquet(replay).schema)
          .option("maxFilesPerTrigger", "1")
          .option("latestFirst", "false")
          .option("pathGlobFilter", "*.parquet")
          .parquet(replay)
          .writeStream
          // auditing mode (1 source version per tick): this query's POINT is
          // the version-by-version parity of the maintained history; the
          // default whole-backlog catch-up is q_events_ivm_catchup's subject
          .foreachBatch(
            graft.streaming.StreamOps.changeFeedIvm(table, view,
              maxVersionsPerTick = 1) _)
          .option("checkpointLocation",
            new java.io.File(base, "ivmcckpt").getAbsolutePath)
          .start()
        try qc.processAllAvailable() finally qc.stop()
      }
      val res = GraftCache.track(
        (1 to graft.sources.TableLog.headVersion(view)).map { v =>
          graft.sources.TableLog.read(s, view, Some(v))
            .select(col("__v").as("version"), col("event_type"), col("n"),
              col("sum_value_micros"))
        }.reduce(_.unionByName(_)).orderBy("version", "event_type"))
      res.count() // materialize before the view dir can be cleared
      res
    }),

    // IVM CATCH-UP (r17): the same change-feed consumer in its DEFAULT
    // whole-backlog mode — a consumer that was down for the table's entire
    // v1–v6 history (5 CDC merges + a compaction) converges in ONE tick:
    // bootstrap from v1, then one changeFeed(1, 6) fold, which reads only
    // the directories the two ENDPOINT manifests don't share (intermediate
    // churn — rows added by v2–v4 and tombstoned by v5, the compaction's
    // rewrite — cancels at the manifest and is never read). A 500-commit
    // backlog is one manifest diff, not 500 micro-batches. The tick
    // function is driven directly here (it is exactly what foreachBatch
    // invokes — q_stream_changefeed_ivm proves the streaming plumbing);
    // the second tick proves convergence is a no-op. The view history is
    // the capability's signature: TWO versions — the bootstrap (__v=1) and
    // the folded step (__v=6) — against the same full-recompute oracle
    // endpoints.
    "q_events_ivm_catchup" -> ((s, dir) => {
      val table = cdcLogCompactedShared(s, dir) // v1–6
      val n = streamSinkSeq.incrementAndGet()
      val base = replayCkptBase(n)
      val view = new java.io.File(base, "ivmcatchup").getAbsolutePath
      GraftCache.onClear(() => rmTree(base))
      val tick = graft.streaming.StreamOps.changeFeedIvm(table, view) _
      tick(s.range(1).toDF(), 0L) // bootstrap + ONE folded step: v1 → v6
      tick(s.range(1).toDF(), 1L) // already converged — must be a no-op
      require(graft.sources.TableLog.headVersion(view) == 2,
        "catch-up must converge the 5-version backlog in one tick")
      val res = GraftCache.track(
        (1 to 2).map { v =>
          graft.sources.TableLog.read(s, view, Some(v))
            .select(col("__v").as("version"), col("event_type"), col("n"),
              col("sum_value_micros"))
        }.reduce(_.unionByName(_)).orderBy("version", "event_type"))
      res.count() // materialize before the view dir can be cleared
      res
    }),

    // IVM AS A FIRST-CLASS OPERATOR (r18): a SECOND view shape — the
    // per-DAY rollup over the same CDC table — registered through the SAME
    // maintainView protocol the event_type shape runs on (StreamOps
    // .changeFeedIvm is now a two-line wrapper): cursor recovery,
    // empty-state arithmetic, and the whole-backlog fold are shared code,
    // not a copy. Same two-version history as the catch-up query —
    // bootstrap (__v=1) + one folded step (__v=6) — against the full
    // recompute at both endpoints. The group key is the table's PARTITION
    // column, so each tick's merge touches only the day groups the
    // manifest diff names.
    "q_events_ivm_daily" -> ((s, dir) => {
      val table = cdcLogCompactedShared(s, dir) // v1–6
      val n = streamSinkSeq.incrementAndGet()
      val base = replayCkptBase(n)
      val view = new java.io.File(base, "ivmdaily").getAbsolutePath
      GraftCache.onClear(() => rmTree(base))
      import graft.streaming.StreamOps.{IvmCount, IvmSum}
      val tick = graft.streaming.StreamOps.maintainView(table, view,
        Seq("day"), Seq(IvmCount("n"), IvmSum("us", "sum_value_micros"))) _
      tick(s.range(1).toDF(), 0L) // bootstrap + ONE folded step: v1 → v6
      tick(s.range(1).toDF(), 1L) // already converged — must be a no-op
      require(graft.sources.TableLog.headVersion(view) == 2,
        "catch-up must converge the 5-version backlog in one tick")
      val res = GraftCache.track(
        (1 to 2).map { v =>
          graft.sources.TableLog.read(s, view, Some(v))
            // date_format like every other day-emitting query: the oracle's
            // strftime is a VARCHAR, and the pandas read path renders a raw
            // DATE as a midnight timestamp string (hash-mismatch)
            .select(col("__v").as("version"),
              date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
              col("sum_value_micros"))
        }.reduce(_.unionByName(_)).orderBy("version", "day"))
      res.count() // materialize before the view dir can be cleared
      res
    }),

    // IVM WITH NON-DISTRIBUTIVE AGGREGATES (r19): MIN/MAX through the same
    // maintainView protocol — inserts tighten the extremum in the fold;
    // a span that DELETES a group's current extremum re-aggregates only
    // that group from the source at the target version (the v1→v6 fold
    // here retracts real extrema: the tombstone batch deletes every
    // event_id % 37 == 0 row, some of which carry day extremes — the
    // rescan path runs inside this query, not just its spec). Same
    // two-endpoint history as the sibling IVM queries.
    "q_events_ivm_minmax" -> ((s, dir) => {
      val table = cdcLogCompactedShared(s, dir) // v1–6
      val n = streamSinkSeq.incrementAndGet()
      val base = replayCkptBase(n)
      val view = new java.io.File(base, "ivmminmax").getAbsolutePath
      GraftCache.onClear(() => rmTree(base))
      import graft.streaming.StreamOps.{IvmCount, IvmMax, IvmMin}
      val tick = graft.streaming.StreamOps.maintainView(table, view,
        Seq("day"), Seq(IvmCount("n"), IvmMin("us", "min_value_micros"),
          IvmMax("us", "max_value_micros"))) _
      tick(s.range(1).toDF(), 0L) // bootstrap + ONE folded step: v1 → v6
      tick(s.range(1).toDF(), 1L) // already converged — must be a no-op
      require(graft.sources.TableLog.headVersion(view) == 2,
        "catch-up must converge the 5-version backlog in one tick")
      val res = GraftCache.track(
        (1 to 2).map { v =>
          graft.sources.TableLog.read(s, view, Some(v))
            .select(col("__v").as("version"),
              date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
              col("min_value_micros"), col("max_value_micros"))
        }.reduce(_.unionByName(_)).orderBy("version", "day"))
      res.count() // materialize before the view dir can be cleared
      res
    }),

    // STREAMING GRAPH-ANN INGEST (r18) — the freshness story for the graph
    // family, mirroring q_stream_ivf_ingest: each micro-batch HNSW-adds
    // its vectors to the live layered graph (GraphAnn.insertBatch) and
    // commits the incremented layers as the next TableLog version — every
    // intermediate graph time-travelable, never a rebuild. Unlike IVF's
    // lossless per-row assignment, a graph add is chunk-SEQUENCED, so the
    // equality the oracle pins is against the batch chain of the SAME
    // quartile chunks (buildCtesFor over the replay's ntile membership):
    // streaming through the lake is bit-identical to building in one job.
    "q_stream_graph_ingest" -> ((s, dir) => {
      val (layersT, _) = graphIngestShared(s, dir)
      val res = GraftCache.track(
        adjacencyFp(layerOf(s, layersT, "base"), "base")
          .unionByName(adjacencyFp(layerOf(s, layersT, "rep"), "rep"))
          .orderBy("part", "src"))
      res.count() // materialize before the table dirs can be cleared
      res
    }),

    // The ingest acceptance gauge: the standard layered search over the
    // final streamed-in graph vs the exact top-10 — read beside
    // ann_graph_build_recall (the md5-chunked build's numbers; the
    // quartile chunking is the only difference).
    "q_stream_graph_ingest_recall" -> ((s, dir) => {
      val (layersT, _) = graphIngestShared(s, dir)
      val res = GraftCache.track(graphRecallGauge(s, dir,
        layerOf(s, layersT, "rep"), layerOf(s, layersT, "base")))
      res.count() // materialize before the table dirs can be cleared
      res
    }),

    // STREAMING INDEX INGEST — the lossless-insert property end-to-end
    // through Structured Streaming AND the lake format: a 4-batch replay
    // of the embeddings fixture streams through foreachBatch, each batch
    // assigned against the FIXED write-once centroids (Ann.ivfDetAssign —
    // a per-row pure function of (vector, centroids)) and APPENDED to a
    // TableLog index table: one immutable directory per micro-batch, one
    // manifest swap each, every intermediate index version
    // time-travelable. Because assignment is pure per-row, the unioned
    // index is bit-identical to the batch-built one — so the search over
    // the log-read index must equal ann_ivf_topk EXACTLY (same oracle).
    // This is the index-freshness story at 100 TB: new embeddings enter
    // as append-only commits, never a rebuild or a rewrite of existing
    // inverted lists.
    "q_stream_ivf_ingest" -> ((caller, dir) => {
      // own SQLConf: the build mutates session conf while it streams
      val s = caller.newSession()
      val emb = Tables.embeddings(s, dir)
      val (cents, _) = ivfDet(s, dir)
      val n = streamSinkSeq.incrementAndGet()
      val base = replayCkptBase(n)
      val table = new java.io.File(base, "ivfingest").getAbsolutePath
      GraftCache.onClear(() => rmTree(base))
      withStreamShufflePartitions(s, 4) {
        val replay = graft.streaming.StreamOps.multiBatchTableDir(
          s, dir, "embeddings", Seq("vec_id"), 4)
        val q = s.readStream
          .schema(s.read.option("pathGlobFilter", "*.parquet").parquet(replay).schema)
          .option("maxFilesPerTrigger", "1")
          .option("latestFirst", "false")
          .option("pathGlobFilter", "*.parquet")
          .parquet(replay)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val b = batch.select(col("vec_id"),
              col("embedding").cast("array<float>").as("embedding"))
            graft.sources.TableLog.append(
              Ann.ivfDetAssign(b, cents).select("vec_id", "embedding", "cluster"),
              table)
            ()
          }
          .option("checkpointLocation",
            new java.io.File(base, "ivfingestckpt").getAbsolutePath)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      require(graft.sources.TableLog.headVersion(table) == 4,
        "the 4-batch replay must land exactly 4 append commits")
      val idx = graft.sources.TableLog.read(s, table)
      val res = GraftCache.track(
        Ann.ivfDetSearch(emb.filter(col("vec_id") < 100), idx, cents,
            k = 10, nprobe = 4)
          .select(col("query_id"), col("neighbor_id"), col("rank").cast("long"))
          .orderBy("query_id", "rank"))
      res.count() // materialize before the table dir can be cleared
      res
    }),

    // Stream-stream interval join (the fifth replay leg): the sink holds the
    // raw (click, purchase) pairs; the registered result aggregates them per
    // user. The oracle replays the pair set as the plain batch interval join
    // — watermarked streaming state only changes WHEN pairs are emitted,
    // never which pairs exist (the time-contiguous replay guarantees none
    // are dropped as late).
    "q_stream_join" -> ((s, dir) =>
      streamTrio(s, dir)("join")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(sum("p_val_us"), lit(0L)).as("sm_purchase"))
        .orderBy("user_id")),

    // The stateful streaming sessionizer (flatMapGroupsWithState with
    // event-time timeout) under a bit-exact oracle: the multi-batch replay
    // emits every session closed by a later event PLUS every open session
    // whose last + gap fell behind the advancing watermark (flushed by the
    // timeout MID-STREAM, not only at end of replay; no sentinel needed) —
    // both SQL-predictable. The 1800500 ms lateness keeps the flush
    // comparison tie-free on whole-second event times.
    "q_stream_sessions" -> ((s, dir) =>
      streamTrio(s, dir)("sessions").orderBy("user_id", "start_es")),

    // Streaming corpus decontamination: LSH near-dup under continuous
    // ingestion. Docs arrive in doc_id order; each band bucket's state is
    // its first owner, a doc is a near-dup the moment ANY of its buckets
    // was already claimed. The batch tail aggregates the sink's per-band
    // verdicts to one row per doc — identical to the batch rule
    // min(doc_id) over bucket < doc_id (oracle replays the band keys and
    // the min-owner rule in SQL).
    "q_stream_neardup" -> ((s, dir) =>
      streamTrio(s, dir)("neardup")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bands"),
          sum(col("collided").cast("long")).as("n_collided"))
        .withColumn("kept", (col("n_collided") === 0).cast("int"))
        .orderBy("doc_id")),

    "q3_shipping" -> ((s, dir) => {
      val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      // native NTZ comparisons (not epoch casts) so the predicate reaches the
      // parquet scan as a PushedFilter — the cast form is evaluated post-scan
      val cutoff = lit("1998-01-01 00:00:00").cast("timestamp_ntz")
      val ord    = Tables.orders(s, dir).filter(col("o_orderdate") < cutoff)
      val li     = Tables.lineitem(s, dir).filter(col("l_shipdate") > cutoff)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), EventOps.epochSec(col("o_orderdate")).as("o_orderdate_es"))
        .agg(sum(micros(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue_micros"))
        .orderBy(col("revenue_micros").desc, col("l_orderkey"))
        .limit(10)
    }),

    "q5_region_revenue" -> ((s, dir) => {
      val region = Tables.load(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = Tables.load(s, dir, "nation")
      val cust   = Tables.customer(s, dir)
      val ord    = Tables.orders(s, dir)
      val li     = Tables.lineitem(s, dir)
      val sup    = Tables.load(s, dir, "supplier")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(micros(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue_micros"))
        .orderBy(col("revenue_micros").desc, col("n_name"))
    }),

    // ANN — brute-force cosine top-k baseline on a query sample
    // (fold kernel: scores bit-match the DuckDB oracle).
    "ann_brute_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      cosKnn(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("score"),
          col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // ANN — IVF (coarse quantizer + probed inverted lists), the scale path.
    // Deterministic variant: centroids are a keyed-md5 corpus sample, so the
    // whole index+search replays in closed-form SQL (the spark.ml Lloyd's
    // variant stays as Ann.ivfIndex/ivfSearch, invariant-tested). Index
    // built once per scale dir (it is a write-once batch artifact).
    "ann_ivf_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (centroids, assigned) = ivfDet(s, dir)
      Ann.ivfDetSearch(emb.filter(col("vec_id") < 100), assigned, centroids, k = 10, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // The SAME search forced through the beyond-broadcast EXECUTOR-SIDE
    // regime (the shape IVF takes past graft.ann.broadcastMaxRows — since
    // r17 the cogrouped kernel, which shuffles lists and probed queries on
    // cluster id and builds each sub-index inside its own task; it retired
    // the probed-join fallback): rows must be bit-identical to
    // ann_ivf_topk, and this row gates that with the driver's oracle, not
    // just the unit spec. The conf toggle is scoped to the plan
    // construction — the regime choice happens when ivfDetSearch is CALLED.
    "ann_ivf_join_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (centroids, assigned) = ivfDet(s, dir)
      s.conf.set("graft.ann.broadcastMaxRows", "0")
      try Ann.ivfDetSearch(emb.filter(col("vec_id") < 100), assigned, centroids, k = 10, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long"))
        .orderBy("query_id", "rank")
      finally s.conf.unset("graft.ann.broadcastMaxRows")
    }),

    // IVF incremental insert: the 1-in-16 held-out batch assigned against
    // the OLD corpus' centroids and appended (Ann.ivfInsert) — LOSSLESS,
    // unlike the graph family's add (assignment is a per-row pure
    // function; no recall trade, no within-batch blindness). The standard
    // search runs over the incremented index; the oracle replays the
    // old-corpus centroid sample + union assignment in closed form.
    "ann_ivf_insert_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (cents, incremented) = ivfIns(s, dir)
      Ann.ivfDetSearch(emb.filter(col("vec_id") < 100), incremented, cents,
          k = 10, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // INDEX-AS-TABLE search: the SAME IVF search served from the
    // TableLog-persisted assignment, where the query batch's probe set
    // (a driver-known list of ≤ nlist cluster ids, from one map-only
    // probe ranking) resolves ONLY its clusters' directories at the
    // MANIFEST — unprobed inverted lists are never listed, never opened.
    // Rows must be bit-identical to ann_ivf_topk (the probed subset
    // contains every list the search scans), gated by the same oracle;
    // IvfLogSpec pins the resolved-dir count = |probe set|.
    "ann_ivf_log_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (cents, _) = ivfDet(s, dir)
      val q = emb.filter(col("vec_id") < 100)
      val probed = Ann.probeRanks(q, cents).filter(col("pr") <= 4)
        .select("cluster").distinct().collect().map(_.getInt(0).toString).toSet
      val lists = graft.sources.TableLog.readWhere(s, ivfLogDir(s, dir), probed)
      Ann.ivfDetSearch(q, lists, cents, k = 10, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // ANN acceptance gauge: per-query recall@10 of the IVF path against the
    // brute-force cosine ground truth — the metric that decides nprobe at
    // scale. Both paths replay in SQL, so the recall itself is oracle-exact.
    "ann_ivf_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (centroids, assigned) = ivfDet(s, dir)
      val q   = emb.filter(col("vec_id") < 100)
      recallVs(cosKnn(s, dir),
        Ann.ivfDetSearch(q, assigned, centroids, k = 10, nprobe = 4))
    }),

    // Hybrid (predicate + vector) top-k, PRE-FILTER regime: label = 3 keeps
    // ~10% of the corpus — at or below graft.ann.prefilterMaxSel the
    // dispatcher scans the survivors exactly (the reference's own shape:
    // roubust.py materializes a filtered subset, then every vector query
    // runs over it). Queries themselves are NOT label-constrained — the
    // predicate restricts the corpus side only.
    "ann_filtered_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (centroids, assigned) = ivfDet(s, dir)
      Ann.filteredTopK(emb.filter(col("vec_id") < 100), assigned, centroids,
          col("label") === 3, k = 10, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("score"),
          col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // The SAME hybrid search with the dispatch driven by a selectivity
    // HINT instead of the measured count — the 100 TB shape, where the
    // estimate is a catalog/manifest-stats lookup (TableLog `statsCols`)
    // and the gate needs no estimation scan. label = 3 keeps ~10%, so the
    // hint lands the same pre-filter regime and the rows must be
    // BIT-IDENTICAL to ann_filtered_topk (the hint feeds only the regime
    // choice, never the result) — gated by the same oracle.
    "ann_filtered_hinted_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (centroids, assigned) = ivfDet(s, dir)
      Ann.filteredTopK(emb.filter(col("vec_id") < 100), assigned, centroids,
          col("label") === 3, k = 10, nprobe = 4,
          selectivityHint = Some(0.1))
        .select(col("query_id"), col("neighbor_id"), col("score"),
          col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // LAKE-DERIVED HINT (r18): the same hybrid search, but the hint comes
    // from TableLog.selectivityBound — a MANIFEST computation (no
    // SparkSession in its signature: zero estimation jobs by construction)
    // over the per-entry row counts the stats commit now records. The
    // corpus table is partitioned by the predicate column, so the bound is
    // tight (≈ the true 1/10 label selectivity) and lands the same
    // pre-filter regime the measured dispatch picks; an upper bound can
    // only overshoot toward the safe IVF side, never under-admit into the
    // byte wall. Result identical to ann_filtered_hinted_topk (same
    // oracle literal).
    "ann_filtered_logbound_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (centroids, _) = ivfDet(s, dir)
      val table = ivfLogCorpusShared(s, dir)
      val hint = graft.sources.TableLog.selectivityBound(table, "label", 3L, 3L)
      require(hint > 0.0 && hint <= 0.5,
        s"label-partitioned corpus must bound label=3 tightly, got $hint")
      Ann.filteredTopK(emb.filter(col("vec_id") < 100),
          graft.sources.TableLog.read(s, table), centroids,
          col("label") === 3, k = 10, nprobe = 4,
          selectivityHint = Some(hint))
        .select(col("query_id"), col("neighbor_id"), col("score"),
          col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // Hybrid top-k, POST-FILTER regime: label != 3 keeps ~90% — filtering
    // first would barely shrink the corpus, so the dispatcher runs the
    // unfiltered IVF search oversampled 4× (40 candidates), keeps the
    // predicate's survivors, re-ranks to 10. The candidate set is the
    // broadcast side of the filter join; the corpus scan streams map-only.
    // Approximate by contract (probe misses + oversample starvation) —
    // every step deterministic, so the whole chain replays in SQL.
    "ann_filtered_post_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (centroids, assigned) = ivfDet(s, dir)
      Ann.filteredTopK(emb.filter(col("vec_id") < 100), assigned, centroids,
          col("label") =!= 3, k = 10, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // Hybrid-search acceptance gauge: per-query recall@10 of the
    // post-filter path against the exact filtered ground truth (brute over
    // the label != 3 survivors) — the number that decides the oversample
    // factor γ at scale. Both paths replay in SQL, so the recall itself is
    // oracle-exact.
    "ann_filtered_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (centroids, assigned) = ivfDet(s, dir)
      val q    = emb.filter(col("vec_id") < 100)
      recallVs(Ann.filteredBrute(q, assigned, col("label") =!= 3, k = 10),
        Ann.filteredIvf(q, assigned, centroids, col("label") =!= 3,
          k = 10, nprobe = 4))
    }),

    // IVF accuracy/latency trade-off curve as DATA: recall@10 vs nprobe ∈
    // {1,2,4,8,16} from the PERSISTED parquet index. One probe ranking of
    // all 16 centroids per query serves every sweep point (probe sets are
    // prefix-nested in nprobe), and because the scanned-subset re-rank can
    // only promote candidates, an exact-top-10 neighbor is in the IVF
    // top-10 iff its inverted list is probed — recall@10(nprobe) is the
    // fraction of exact pairs whose neighbor-cluster probe rank ≤ nprobe,
    // no per-nprobe search needed.
    "ann_ivf_nprobe_sweep" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (centroids, assigned) = Ann.ivfRead(s, ivfArtifactDir(s, dir))
      val q  = emb.filter(col("vec_id") < 100)
      val pr = Ann.probeRanks(q, centroids)
      val hit = cosKnn(s, dir)
        .select(col("query_id"), col("neighbor_id"))
        .join(assigned.select(col("vec_id").as("neighbor_id"), col("cluster")),
          "neighbor_id")
        .join(pr, Seq("query_id", "cluster"))
      hit.select(col("pr"),
          explode(array(Seq(1, 2, 4, 8, 16).map(lit): _*)).as("nprobe"))
        .groupBy(col("nprobe").cast("long").as("nprobe"))
        .agg(sum(when(col("pr") <= col("nprobe"), 1L).otherwise(0L)).as("n_hit"),
          (sum(when(col("pr") <= col("nprobe"), 1L).otherwise(0L)).cast("double") /
            count(lit(1)).cast("double")).as("recall"))
        .orderBy("nprobe")
    }),

    // Full (nlist, nprobe) → recall@10 SURFACE from THREE persisted index
    // artifacts (nlist ∈ {4,16,64}; sampled centroids are md5-prefix-nested
    // across nlist, but assignment/probe re-rank per index). Same one-pass
    // trick as the nprobe sweep — per index, one probe ranking serves every
    // nprobe point; nprobe > nlist rows are dropped (a probe set can't
    // exceed the list count). This is the data an operator reads to SIZE the
    // index before a 100 TB build: recall lost to a coarser quantizer vs
    // probes paid back at query time.
    "ann_ivf_nlist_sweep" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q   = emb.filter(col("vec_id") < 100)
      // exact pairs feed all three surfaces — truncate lineage once
      val exact = cosKnn(s, dir)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint()
      val hits = Seq(4, 16, 64).map { nlist =>
        val (centroids, assigned) = Ann.ivfRead(s, ivfArtifactDir(s, dir, nlist))
        exact
          .join(assigned.select(col("vec_id").as("neighbor_id"), col("cluster")),
            "neighbor_id")
          .join(Ann.probeRanks(q, centroids), Seq("query_id", "cluster"))
          .select(lit(nlist).as("nlist"), col("pr"))
      }.reduce(_ unionByName _)
      hits.select(col("nlist"), col("pr"),
          explode(array(Seq(1, 2, 4, 8, 16, 64).map(lit): _*)).as("nprobe"))
        .filter(col("nprobe") <= col("nlist"))
        .groupBy(col("nlist").cast("long").as("nlist"),
          col("nprobe").cast("long").as("nprobe"))
        .agg(sum(when(col("pr") <= col("nprobe"), 1L).otherwise(0L)).as("n_hit"),
          (sum(when(col("pr") <= col("nprobe"), 1L).otherwise(0L)).cast("double") /
            count(lit(1)).cast("double")).as("recall"))
        .orderBy("nlist", "nprobe")
    }),

    // LSH accuracy/latency trade-off curve as DATA — the mirror of the IVF
    // sweeps for the second ANN family: recall@5 vs number of hash tables
    // T ∈ {1..5}, all from the ONE shared 5-table hashed corpus. Keyed
    // projections are per-table independent, so tables 0..T−1 of the
    // 5-table artifact ARE the T-table hash family; and because the
    // scanned-subset re-rank can only promote candidates, an exact-top-5
    // neighbor is in the T-table LSH top-5 iff some table t < T buckets it
    // with the query — recall@5(T) is the fraction of exact pairs whose
    // FIRST matching table index is < T, no per-T search needed.
    "ann_lsh_tables_sweep" -> ((s, dir) => {
      val hashed = lshHashedShared(s, dir)
      // the query side is a filter of the SAME persisted hash frame (same
      // projections/seed/width, map-only per row) — no second embeddings
      // scan or projection pass
      val qh = hashed.filter(col("vec_id") < 100)
        .select(col("vec_id").as("query_id"), col("t"), col("bucket"))
      val exact = rawKnn(s, dir).filter(col("query_id") < 100 && col("rank") <= 5)
        .select("query_id", "neighbor_id")
      val tmin = exact
        .join(qh, "query_id")
        .join(hashed.select(col("vec_id").as("neighbor_id"), col("t"), col("bucket")),
          Seq("neighbor_id", "t", "bucket"))
        .groupBy("query_id", "neighbor_id").agg(min("t").as("t_min"))
      exact.join(tmin, Seq("query_id", "neighbor_id"), "left")
        .select(coalesce(col("t_min"), lit(999)).as("t_min"),
          explode(array(Seq(1, 2, 3, 4, 5).map(lit): _*)).as("tables"))
        .groupBy(col("tables").cast("long").as("tables"))
        .agg(sum(when(col("t_min") < col("tables"), 1L).otherwise(0L)).as("n_hit"),
          (sum(when(col("t_min") < col("tables"), 1L).otherwise(0L)).cast("double") /
            count(lit(1)).cast("double")).as("recall"))
        .orderBy("tables")
    }),

    // CROSS-MODAL composition — multimodal assets probed against the
    // embedding corpus through the PERSISTED IVF index: the one end-to-end
    // chain the LLM-pipeline surface otherwise never exercises (multimodal
    // asset table → per-asset probe vector → Ann.ivfRead cold-start →
    // cluster-pruned ANN lookup). The index rides ivfWrite/ivfRead parquet,
    // so the search side never touches the in-session build. Probe vectors
    // derive from the asset PAYLOAD by keyed md5 gaussians (the engine's
    // only randomness), float32 like the corpus — a deterministic stand-in
    // for a real cross-modal encoder (no model weights in this toolchain),
    // with the whole chain SQL-replayable.
    "crossmodal_ann" -> ((s, dir) => {
      val (centroids, assigned) = Ann.ivfRead(s, ivfArtifactDir(s, dir))
      Ann.ivfDetSearch(assetProbes(s, dir), assigned, centroids, k = 5, nprobe = 4)
        .select(col("query_id").as("asset_id"), col("neighbor_id"),
          col("rank").cast("long"))
        .orderBy("asset_id", "rank")
    }),

    // The SAME cross-modal probes routed through the graph-traversal search
    // family instead of IVF — multimodal asset → probe vector → persisted
    // kNN-edge artifact → beam search. Closes multimodal → graph search
    // end-to-end; the probes are OUT-OF-CORPUS query vectors, which is the
    // production shape (the other graph-ANN queries probe corpus members).
    "crossmodal_graph_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (edgesDf, _) = KnnGraph.read(s, graphArtifactDir(s, dir))
      GraphAnn.beamSearch(assetProbes(s, dir), embBucketed(s, dir), edgesDf,
          GraphAnn.entryPoints(emb, GraphEntries),
          k = 5, beam = GraphBeam, rounds = GraphRounds)
        .select(col("query_id").as("asset_id"), col("neighbor_id"),
          col("rank").cast("long"))
        .orderBy("asset_id", "rank")
    }),

    // Graph-traversal ANN — the THIRD search family (GraphAnn scaladoc),
    // and the reference-shaped one: FAISS HNSW answers index.search
    // (watermarking.py:305) by greedy traversal over the level-0 adjacency
    // lists (:168–174) — here a deterministic B=16 beam, 4 rounds, over the
    // PERSISTED kNN edge artifact, entries a keyed-md5 corpus sample. Every
    // round is replayed by the oracle as one unrolled SQL block.
    "ann_graph_topk" -> ((s, dir) => {
      graphAnnShared(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("dist"),
          col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // SCHEDULED-WIDTH graph ANN (r19): the same flat traversal with beam =
    // GraphAnn.efSearch(N, 10) and rounds = searchRounds(N, 2M) — search
    // width as a FUNCTION of corpus size, the knob a 100M-row graph needs
    // (fixed beams decay: the 5M probe reads 0.55/0.62 at 16/32). The
    // oracle computes the identical beam from count(*) inside the SQL, so
    // the gate holds at every fixture size; rounds are structural and
    // require-pinned to the unrolled count.
    "ann_graph_topk_scaled" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val nCorpus = strgridN(s, dir) // the memoized emb.count()
      val beam = GraphAnn.efSearch(nCorpus, 10)
      val rounds = GraphAnn.searchRounds(nCorpus, 2 * M)
      require(rounds == ScaledGraphRounds,
        s"schedule gives $rounds rounds for N=$nCorpus but the oracle " +
          s"unrolls $ScaledGraphRounds — regenerate the replay " +
          "(ScaledGraphRounds) for this fixture size")
      val (edgesDf, _) = KnnGraph.read(s, graphArtifactDir(s, dir))
      GraphAnn.beamSearch(emb.filter(col("vec_id") < 100), embBucketed(s, dir),
        edgesDf, GraphAnn.entryPoints(emb, GraphEntries),
        k = 10, beam = beam, rounds = rounds)
        .select(col("query_id"), col("neighbor_id"), col("dist"),
          col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // Graph-ANN acceptance gauge: per-query recall@10 against the exact
    // fold-L2 ground truth (the memoized rawKnn frame) — the number that
    // sizes beam/rounds at scale, itself oracle-exact.
    "ann_graph_recall" -> ((s, dir) =>
      recallVs(rawKnn(s, dir).filter(col("query_id") < 100 && col("rank") <= 10),
        graphAnnShared(s, dir))),

    // LAYERED graph-ANN (GraphAnn.layeredSearch): coarse descend over the
    // persisted rep-layer kNN graph (1-in-8 keyed-md5 sample, beam 8 ×
    // 2 rounds), then a base refine at beam 8 × 2 rounds starting from the
    // per-query coarse beam — HNSW's hierarchy as two write-once bucketed
    // tables. Every round of BOTH phases replays as unrolled SQL.
    "ann_graph_topk_layered" -> ((s, dir) => {
      graphAnnLayeredShared(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("dist"),
          col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // The layered gauge: recall@10 vs the exact fold-L2 ground truth —
    // read against ann_graph_recall's flat numbers, this is the
    // equal-recall-at-half-the-beam-width claim, itself oracle-exact.
    "ann_graph_recall_layered" -> ((s, dir) =>
      recallVs(rawKnn(s, dir).filter(col("query_id") < 100 && col("rank") <= 10),
        graphAnnLayeredShared(s, dir))),

    // Hybrid search on the GRAPH family — the post-filter regime's graph
    // form: the traversal runs UNfiltered (filtering edges mid-walk would
    // break navigability — the candidate a filter drops may be the only
    // route to ones it keeps) with the base beam AS the candidate budget,
    // then the predicate keeps survivors and a re-rank cuts to k. The
    // budget is SURVIVOR-AWARE (r19): GraphAnn.filteredBeam over the
    // manifest-derived survivor count (TableLog.survivorBound on the
    // label-partitioned log corpus — an integer, zero estimation jobs),
    // floored at k·γ = 20 — a highly selective predicate keeps the beam
    // at the floor instead of paying the full-corpus efSearch width. Same
    // under-fill-never-over-reach contract as filteredIvf; both unrolled
    // phases + the filter + the beam arithmetic replay in SQL.
    "ann_filtered_graph_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cand = filteredGraphCandShared(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("dist"), col("neighbor_id"))
      emb.filter(col("label") =!= 3).select(col("vec_id").as("neighbor_id"))
        .join(broadcast(cand.select("query_id", "neighbor_id", "dist")),
          Seq("neighbor_id"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // The graph-hybrid acceptance gauge: per-query recall@10 of the
    // widened-beam post-filter path against the exact L2 top-10 over the
    // predicate's survivors — the γ(beam)-sizing data for the graph form,
    // read beside ann_filtered_recall's IVF numbers. Itself oracle-exact.
    "ann_filtered_graph_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 100)
      val cand = filteredGraphCandShared(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("dist"), col("neighbor_id"))
      val post = emb.filter(col("label") =!= 3).select(col("vec_id").as("neighbor_id"))
        .join(broadcast(cand.select("query_id", "neighbor_id", "dist")),
          Seq("neighbor_id"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
      recallVs(
        Knn.exact(q, emb.filter(col("label") =!= 3), 10, metric = "l2", kernel = "fold"),
        post)
    }),

    // INCREMENTAL INSERT into the layered artifact (GraphAnn.insertBatch —
    // HNSW's add in batch form): a 1-in-16 keyed-md5 corpus slice joins the
    // OLD artifact via layered search at insert beam 2M; new out-edges =
    // final beams, touched neighbors re-trim to their best 2M (the shrink
    // step), rep-member inserts repeat it on the rep layer from the phase-1
    // beam. The result fingerprints every new and re-trimmed adjacency list
    // (per-src count / Σdist-nanos / Σdst) — the oracle replays the ENTIRE
    // procedure: old-corpus kNN layers, both unrolled search phases, both
    // grouped re-ranks.
    "ann_graph_insert" -> ((s, dir) => {
      val art = graphInsertDir(s, dir)
      s.read.parquet(s"$art/summary").orderBy("part", "src")
    }),

    // The insert acceptance gauge: probes (vec_id < 100) searched over the
    // INCREMENTED artifact with the standard layered parameters — read
    // beside ann_graph_recall_layered (the from-scratch rebuild's numbers),
    // this is the "no rebuild needed" claim: batch-added nodes are reachable
    // and recall holds. Itself oracle-exact (the incremented edge tables
    // replay in SQL, then the same unrolled layered search runs over them).
    "ann_graph_insert_recall" -> ((s, dir) => {
      val art = graphInsertDir(s, dir)
      graphRecallGauge(s, dir,
        ArtifactIO.readBucketed(s, s"$art/inrep",
          "src BIGINT, dst BIGINT, dist DOUBLE", "src", KnnGraph.EdgeBuckets),
        ArtifactIO.readBucketed(s, s"$art/inedges",
          "src BIGINT, dst BIGINT, dist DOUBLE", "src", KnnGraph.EdgeBuckets))
    }),

    // Incremental graph-ANN DELETE: the per-src fingerprints of every
    // adjacency list the repair re-trimmed (both layers) — the whole
    // delete-consolidation rule (losers inherit their victims' surviving
    // out-neighbors, grouped re-trim to 2M) replayed as closed-form SQL.
    "ann_graph_delete" -> ((s, dir) => {
      val art = graphDeleteDir(s, dir)
      s.read.parquet(s"$art/summary").orderBy("part", "src")
    }),

    // The delete acceptance gauge: probes (vec_id < 100, victims included —
    // searching for deleted content is legal) over the REPAIRED artifact
    // with the standard layered parameters, against the exact top-10 over
    // the SURVIVING corpus. Entry sample comes from the surviving reps.
    // Read beside ann_graph_recall_layered: this is the "no rebuild after
    // deletes" claim. Itself oracle-exact (repaired layers + search + the
    // filtered ground truth all replay in SQL).
    "ann_graph_delete_recall" -> ((s, dir) => {
      val art = graphDeleteDir(s, dir)
      val emb = Tables.embeddings(s, dir)
      val survivors = emb.filter(!isDelVictim)
      val dBase = ArtifactIO.readBucketed(s, s"$art/deledges",
        "src BIGINT, dst BIGINT, dist DOUBLE", "src", KnnGraph.EdgeBuckets)
      val dRep = ArtifactIO.readBucketed(s, s"$art/delrep",
        "src BIGINT, dst BIGINT, dist DOUBLE", "src", KnnGraph.EdgeBuckets)
      recallVs(
        Knn.exact(emb.filter(col("vec_id") < 100), survivors, 10,
          metric = "l2", kernel = "fold"),
        GraphAnn.layeredSearch(emb.filter(col("vec_id") < 100),
          embBucketed(s, dir), dRep, dBase,
          GraphAnn.entryPoints(repsOf(survivors), GraphEntries),
          k = 10, repBeam = RepBeam, baseBeam = BaseBeam,
          repRounds = RepRounds, baseRounds = BaseRounds))
    }),

    // SCALABLE BUILD: the whole layered graph constructed by CHUNKED
    // INSERTION (seed chunk exact-built, later chunks HNSW-added through
    // GraphAnn.insertBatch chained) — per-src fingerprints of the FINAL
    // layers, which pin every intermediate search, re-rank, and re-trim of
    // the chained procedure. This is the G7 construction path that works
    // past the broadcast byte wall (the exact build's bound);
    // GraphAnnScaleProbe drives it at probe scale.
    "ann_graph_build_incremental" -> ((s, dir) => {
      val art = graphBuildDir(s, dir)
      s.read.parquet(s"$art/summary").orderBy("part", "src")
    }),

    // The build acceptance gauge: the standard layered search over the
    // chunk-built artifact vs the exact top-10 — read beside
    // ann_graph_recall_layered (the exact-built graph's numbers): the
    // within-batch-blindness price of never running all-pairs.
    "ann_graph_build_recall" -> ((s, dir) => {
      val art = graphBuildDir(s, dir)
      graphRecallGauge(s, dir,
        ArtifactIO.readBucketed(s, s"$art/bldrep",
          "src BIGINT, dst BIGINT, dist DOUBLE", "src", KnnGraph.EdgeBuckets),
        ArtifactIO.readBucketed(s, s"$art/bldedges",
          "src BIGINT, dst BIGINT, dist DOUBLE", "src", KnnGraph.EdgeBuckets))
    }),

    // NN-DESCENT REFINEMENT (r19): one local-join round over the
    // chunk-built base layer — each node scores its undirected
    // neighborhood's neighborhood and keeps its best 2M. The operator that
    // repairs chunked construction's compounding blindness at scale
    // (GraphAnnScaleProbe's refine leg: the 5M artifact's direct-edge
    // recall and beam recall, before/after, in DESIGN). Fingerprints pin
    // every capped window and candidate score of the round.
    "ann_graph_refine" -> ((s, dir) =>
      adjacencyFp(graphRefinedShared(s, dir), "base").orderBy("part", "src")),

    // The refine acceptance gauge: the standard flat beam search over the
    // REFINED base layer vs the exact top-10 — read beside
    // ann_graph_build_recall (the unrefined chunk-built layers) and
    // ann_graph_recall (the exact-built graph): what one round buys back.
    "ann_graph_refine_recall" -> ((s, dir) => {
      recallVs(rawKnn(s, dir).filter(col("query_id") < 100 && col("rank") <= 10),
        GraphAnn.beamSearch(
          Tables.embeddings(s, dir).filter(col("vec_id") < 100),
          embBucketed(s, dir), graphRefinedShared(s, dir),
          GraphAnn.entryPoints(Tables.embeddings(s, dir), GraphEntries),
          k = 10, beam = GraphBeam, rounds = GraphRounds))
    }),

    // ANN — approximate LSH join path. Deterministic variant: keyed md5
    // Box–Muller hyperplanes (float32-quantized, the attack_insert
    // technique) instead of spark.ml's seeded RNG — same bucket-join plan,
    // every draw SQL-replayable. Pre-hashed corpus memoized per scale dir.
    "ann_lsh_topk" -> ((s, dir) => {
      lshDetShared(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // Hybrid search, LSH form — the family's post-filter regime: the
    // bucket-join candidate set is fixed by the hash tables (like IVF's
    // probe, unlike the graph's re-aimable beam), so the oversample is
    // re-rank depth k·γ = 20, then predicate + re-rank to 5. Same
    // under-fill contract; whole chain SQL-replayed over lshDetCtes.
    "ann_filtered_lsh_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cand = Knn.lshDet(emb.filter(col("vec_id") < 100), emb, 20, D,
        bucketLength = 1.0, numHashTables = 5, seed = "lsh",
        prehashed = Some(lshHashedShared(s, dir)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("dist"), col("neighbor_id"))
      emb.filter(col("label") =!= 3).select(col("vec_id").as("neighbor_id"))
        .join(broadcast(cand.select("query_id", "neighbor_id", "dist")),
          Seq("neighbor_id"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // LSH acceptance gauge: per-query recall@5 of the deterministic LSH
    // path against the brute-force L2 ground truth (the memoized rawKnn
    // frame — its 17-deep ranks contain the top-5).
    "ann_lsh_recall" -> ((s, dir) =>
      recallVs(rawKnn(s, dir).filter(col("query_id") < 100 && col("rank") <= 5),
        lshDetShared(s, dir))),

    // Multimodal — binary-column metadata extraction (payload hash, sizes).
    "multimodal_meta" -> ((s, dir) => {
      Multimodal.extractMeta(Multimodal.assetsFromDocuments(Tables.documents(s, dir)))
        .select("asset_id", "kind", "n_bytes", "payload_sha256")
        .orderBy("asset_id")
    }),

    // Multimodal — resize (stub transcode: target dims recorded in meta,
    // payload passthrough), read back through the meta extractor.
    "multimodal_resize" -> ((s, dir) => {
      Multimodal.extractMeta(Multimodal.resize(
          Multimodal.assetsFromDocuments(Tables.documents(s, dir)), 224, 224))
        .select("asset_id", "kind", "n_bytes", "payload_sha256", "width", "height")
        .orderBy("asset_id")
    }),

    // Multimodal — video frame sampling, TRI-path. Video asset_ids ≡ 0
    // (mod 4) carry a deterministic MJPEG-in-MP4 (Multimodal.syntheticMjpeg:
    // real zero-padded solid-gray JPEGs behind a real sample table + "jpeg"
    // stsd): Spark walks the ACTUAL boxes AND decodes the sampled frames
    // with imageio, reporting real pixel content (mean_luma_milli) — the
    // oracle replays both the closed-form layout and the decoded gray
    // (quality-1.0 JPEG roundtrips solid grays bit-exactly; MjpegSpec gates
    // that JVM fact exhaustively). Video ids ≡ 2 (mod 4) keep the
    // structure-only synthetic MP4 (no stsd → content sentinel −1). ODD
    // video ids keep text payloads and exercise the documented non-BMFF
    // fallback (slice token).
    "multimodal_frames" -> ((s, dir) => {
      val mp4Udf   = udf((id: Long) => Multimodal.syntheticMp4(id))
      val mjpegUdf = udf((id: Long) => Multimodal.syntheticMjpeg(id))
      val assets = Multimodal.assetsFromDocuments(Tables.documents(s, dir))
        .withColumn("payload",
          when(col("kind") === "video" && pmod(col("asset_id"), lit(4)) === 0,
            mjpegUdf(col("asset_id")))
          .when(col("kind") === "video" && pmod(col("asset_id"), lit(4)) === 2,
            mp4Udf(col("asset_id")))
          .otherwise(col("payload")))
      Multimodal.sampleFrames(assets, everyMs = 10000)
        .orderBy("asset_id", "frame_ms")
    }),

    // Multimodal — batched stub decode into fixed-width feature vectors.
    // float32 features are widened to double BEFORE rounding so the dumped
    // column is float64 on every read path; the oracle replays the identical
    // real→double widening.
    "multimodal_features" -> ((s, dir) => {
      val assets = Multimodal.assetsFromDocuments(Tables.documents(s, dir))
      Multimodal.decodeFeatures(assets, dim = 16)
        .select(col("asset_id"),
          round(element_at(col("features"), 1).cast("double"), 6).as("f0"),
          round(element_at(col("features"), 16).cast("double"), 6).as("f15"))
        .orderBy("asset_id")
    }),

    "q_orders_window" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"),
          micros(col("o_totalprice")).as("top_price_micros"))
        .orderBy("o_custkey")
    }),

    // TPC-H Q10 shape — revenue from returned items per customer, top 20.
    "q10_returned" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      li.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(sum(micros(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue_micros"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue_micros").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q14 shape — share of revenue from one part type bucket.
    "q14_promo" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.join(broadcast(Tables.load(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type").startsWith("PROMO"),
            micros(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .otherwise(lit(0L))).as("promo_revenue_micros"),
          sum(micros(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("total_revenue_micros"),
          count(lit(1)).as("n"))
    }),

    // S2 — tail-slice scan (t_vector/e1:11–12).
    "tail_slice" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .orderBy(col("vec_id").desc).limit(100)
        .select("vec_id", "label").orderBy("vec_id")
    }),

    // S3 — anti-membership load (roubust/roubust.py:37–47): rows whose
    // embedding is not present in the first-200 slice (full-vector equality).
    "anti_membership" -> ((s, dir) => {
      val emb   = Tables.embeddings(s, dir)
      val known = emb.filter(col("vec_id") < 200).select("embedding")
      emb.join(known, Seq("embedding"), "left_anti")
        .select("vec_id").orderBy("vec_id")
    }),

    // K3 — random modification (fixed dim variant, roubust/roubust.py:132–156):
    // ceil(n·p) keyed-random rows get a fresh uniform value at the keyed dim.
    "attack_random_modify" -> ((s, dir) => {
      Attacks.randomModify(Tables.embeddings(s, dir), 0.2, D, Seed)
        .select(col("vec_id"), element_at(col("embedding"), modDim0 + 1).as("v"))
        .orderBy("vec_id")
    }),

    // K4 — adaptive modification: top-20% rows by accessibility get a
    // 30-dim run overwrite at a per-row re-rolled start dim. Dumps every
    // row's value at its keyed run-start dim (modified for selected rows,
    // original otherwise) — both the selection and the overwrite are
    // SQL-mirrored.
    "attack_adaptive_modify" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Attacks.adaptiveModify(emb, ai(s, dir), 0.2, D, Seed)
        .withColumn("run_start",
          graft.functions.Md5ModExpr(
            concat_ws("#", col("vec_id"), lit("moddim"), lit(Seed)), D.toLong).cast("long"))
        .select(col("vec_id"), col("run_start"),
          element_at(col("embedding"), (col("run_start") + 1).cast("int")).cast("double").as("v"))
        .orderBy("vec_id")
    }),

    // K5/A12 — insertion attack: synthetic rows from per-column N(μ,σ).
    "attack_insert" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val n   = emb.count()
      Attacks.insert(emb.select("vec_id", "embedding"), 0.2, D, Seed)
        .filter(col("vec_id") >= n)
        .select(col("vec_id"),
          (round(element_at(col("embedding"), 1).cast("double"), 4) + lit(0.0)).as("f0"),
          (round(element_at(col("embedding"), D).cast("double"), 4) + lit(0.0)).as("f63"))
        .orderBy("vec_id")
    }),

    // P16 — mean embed/attack distortion (test_erro.py:43–46): avg L2 between
    // a table and its perturbed counterpart. Exchanged as an exact integer
    // nano-sum plus a mean derived with identical double ops on both sides —
    // fully distributed (no ordered-fold collect), unlike the naive avg whose
    // summation order is partition-dependent. Perturbation = K3 random modify
    // (its keyed draws are SQL-mirrorable, so the whole metric oracle-checks).
    "mean_distortion" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val mod = Attacks.randomModify(emb, 0.2, D, Seed)
      emb.select(col("vec_id"), col("embedding").as("a"))
        .join(mod.select(col("vec_id"), col("embedding").as("b")), "vec_id")
        .select(graft.functions.VectorOps.l2Col(col("a"), col("b")).as("dist"))
        .agg(sum(nanos(col("dist"))).as("sum_dist_nanos"), count(lit(1)).as("n"))
        .withColumn("mean_l2",
          col("sum_dist_nanos").cast("double") / lit(1.0e9) / col("n").cast("double"))
    }),

    // P16 per scheme (test_erro.py:43–46): mean ‖embed(v) − v‖ for each of
    // RS/TVP/SCPW — the embed-quality companion of the scheme comparison.
    // Shares the memoized carrier frames with h_impact_compare; same exact
    // nano-sum exchange as mean_distortion.
    "mean_distortion_schemes" -> ((s, dir) => {
      val emb  = Tables.embeddings(s, dir)
      val cl   = Tvp.classify(emb, D, WM.length, key)
      val bits = Tvp.bitsDf(s, WM)
      val rsC = GraftCache.memo(s"$dir/impcmp-rsc") {
        Tvp.carriersRs(cl, bits, Strength, key.seed).localCheckpoint()
      }
      val tvC = GraftCache.memo(s"$dir/impcmp-tvc") {
        Tvp.carriersAi(cl, bits, Strength, 0.1, ai(s, dir)).localCheckpoint()
      }
      val scC = GraftCache.memo(s"$dir/impcmp-scc") {
        Scpw.carriers(emb, WM, Strength, scpwKey).localCheckpoint()
      }
      val cases = Seq(
        ("rs",   Tvp.applyEmbed(emb, rsC, D, key)),
        ("scpw", Scpw.embed(emb, WM, Strength, scpwKey, Some(scC),
          Some(GraftCache.memoAny(s"$dir/scpw-prep") { Scpw.prepare(emb, scpwKey) }))),
        ("tvp",  Tvp.applyEmbed(emb, tvC, D, key)))
      cases.map { case (name, wmDf) =>
        emb.select(col("vec_id"), col("embedding").as("a"))
          .join(wmDf.select(col("vec_id"), col("embedding").as("b")), "vec_id")
          .select(graft.functions.VectorOps.l2Col(col("a"), col("b")).as("dist"))
          .agg(sum(nanos(col("dist"))).as("sum_dist_nanos"), count(lit(1)).as("n"))
          .withColumn("mean_l2",
            col("sum_dist_nanos").cast("double") / lit(1.0e9) / col("n").cast("double"))
          .withColumn("scheme", lit(name))
      }.reduce(_ unionByName _)
        .select("scheme", "sum_dist_nanos", "n", "mean_l2")
        .orderBy("scheme")
    }),

    // A11 — Pearson correlation (t_vector/Z.py:106–108 shape).
    "analytics_corr" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
          count(lit(1)).as("n"))
    }),

    // A10 — 8 equal-width bins over a metric, per-bin aggregate (digitize).
    "analytics_binned" -> ((s, dir) => {
      val ord = Tables.orders(s, dir)
      val r   = ord.agg(min("o_totalprice"), max("o_totalprice")).head()
      val (mn, mx) = (r.getDouble(0), r.getDouble(1))
      val step = (mx - mn) / 8.0
      ord.withColumn("bin",
          least(floor((col("o_totalprice") - mn) / step), lit(7.0)).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          sum(micros(col("o_totalprice"))).as("sum_price_micros"))
        .orderBy("bin")
    }),

    // W3 — bottom-10% "hidden nodes" by query traffic (t_vector/e3:52–54).
    "w3_hidden_nodes" -> ((s, dir) => {
      val qc = KnnGraph.queryCounts(Tables.embeddings(s, dir), rawKnn(s, dir), k = 10)
      val n  = qc.count()
      qc.orderBy(col("query_count"), col("vec_id"))
        .limit(math.ceil(n * 0.1).toInt)
        .select("vec_id", "query_count").orderBy("vec_id")
    }),

    // SO3 — whole-row set overlap before/after modification
    // (roubust/roubust.py:158–183): distinct-embedding intersect/union counts.
    "so3_overlap_modify" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val a = emb.select("embedding").distinct()
      val b = Attacks.randomModify(emb, 0.2, D, Seed).select("embedding").distinct()
      val ninter = a.intersect(b).count()
      val nunion = a.union(b).distinct().count()
      Seq((ninter, nunion)).toDF("n_intersect", "n_union")
    }),

    // SO4 — hidden-node overlap across graph params (t_vector/e3:83–93):
    // bottom-10% sets for M=8 vs M=12 graphs.
    "so4_hidden_overlap" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      def hidden(m: Int): org.apache.spark.sql.DataFrame = {
        val raw = GraftCache.memo(s"$dir/rawknn-m$m") {
          KnnGraph.rawKnn(emb, 2 * m + 1)
        }
        val qc = KnnGraph.queryCounts(emb, raw, k = 10)
        val n  = qc.count()
        qc.orderBy(col("query_count"), col("vec_id")).limit(math.ceil(n * 0.1).toInt)
          .select("vec_id")
      }
      val base  = hidden(8).cache()
      val other = hidden(12)
      val nb    = base.count()
      val ni    = base.intersect(other).count()
      base.unpersist() // both consumers ran; a bare cache() outlives clear()
      Seq((nb, ni, ni.toDouble / nb)).toDF("n_base", "n_intersect", "overlap")
    }),

    // G5/G6 — BFS flood from never-queried seeds + reached-set edge stats
    // (t_vector/e1_steath_vector.py:41–54, 89–116).
    // Triangle counting over the kNN graph's MUTUAL edges — the classic
    // two-equi-join formulation (order nodes a<b<c; wedges ab⋈bc close via
    // ac), which is also the distributed-scale shape: every join is a hash
    // join on a node id, candidate wedges bounded by Σ deg², and the
    // ordering kills the 6× duplicate counting up front. Per-node
    // participation (each corner +1 per triangle) for the top-10 most
    // clustered nodes.
    "graph_triangles" -> ((s, dir) => {
      val (e0, _) = KnnGraph.read(s, graphArtifactDir(s, dir))
      val e = e0.select("src", "dst")
      val mutual = e.as("x").join(e.as("y"),
          col("x.src") === col("y.dst") && col("x.dst") === col("y.src"))
        .select(col("x.src").as("a"), col("x.dst").as("b"))
        .filter(col("a") < col("b")).distinct()
      val tri = mutual.as("ab")
        .join(mutual.as("bc"), col("ab.b") === col("bc.a"))
        .join(mutual.as("ac"),
          col("ac.a") === col("ab.a") && col("ac.b") === col("bc.b"))
        .select(col("ab.a"), col("ab.b"), col("bc.b").as("c"))
      tri.select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
        .groupBy("vec_id").agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("n_triangles").desc, col("vec_id")).limit(10)
    }),

    // PageRank over the persisted kNN edge artifact: three synchronous
    // rounds of rank flow in SCALED-INTEGER arithmetic (start 10^12, damping
    // 85/100 via integer div) — truncating division makes every round
    // bit-replayable in SQL, where a double-summed rank would drift with
    // partition fold order. Per round: one join of the bucketed edge scan
    // (src-partitioned, no edge-side exchange — the GraphAnn layout) with
    // the |V|-row rank frame, one partial-agg exchange on dst. The kNN
    // graph has no dangling nodes (every node carries 2M out-edges), so no
    // sink-mass term. Headroom: ranks stay ≤ ~10^12, contrib sums ≤
    // |V|·10^12 — the 85× multiply overflows past |V| ≈ 10^5·10^12/85,
    // i.e. ~10^17 total mass; at larger |V| drop the start scale.
    "graph_pagerank" -> ((s, dir) => {
      val (e0, _) = KnnGraph.read(s, graphArtifactDir(s, dir))
      val e = e0.select("src", "dst")
      val deg = e.groupBy("src").agg(count(lit(1)).as("od"))
      val nodes = Tables.embeddings(s, dir).select("vec_id")
      var rank = nodes.withColumn("r", lit(1000000000000L))
      (1 to 3).foreach { _ =>
        val contrib = e.join(deg, "src")
          .join(rank.withColumnRenamed("vec_id", "src"), "src")
          .select(col("dst").as("vec_id"), expr("r div od").as("c"))
          .groupBy("vec_id").agg(sum("c").as("c"))
        rank = nodes.join(contrib, Seq("vec_id"), "left")
          .select(col("vec_id"),
            expr("cast(150000000000 as bigint) + (85 * coalesce(c, 0)) div 100")
              .as("r"))
      }
      rank.select(col("vec_id"), col("r").as("rank_scaled"))
        .orderBy(col("rank_scaled").desc, col("vec_id")).limit(20)
    }),

    // UNDIRECTED components via alternating large-star/small-star
    // (KnnGraph.componentsUndirected) — the O(log² n)-round CC algorithm.
    // `components`' min-label propagation pays one round per hop of graph
    // DIAMETER: fine on the small-world kNN graph, unusable on a
    // high-diameter one (CcScaleProbe: a 100k-node path closes in ~a dozen
    // star rounds where propagation's 60-round cap trips at <0.1% done).
    // Per-round state is the edge LIST — no per-node neighborhood buffer
    // ever materializes (the hash-to-min algorithm's root cluster would be
    // the whole component in one row: the collect_list trap again).
    "graph_components_undirected" -> ((s, dir) => {
      val nodes = Tables.embeddings(s, dir).select("vec_id")
      val cc = KnnGraph.componentsUndirected(edges(s, dir).select("src", "dst"))
      nodes.join(cc, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("comp"), col("vec_id")).as("comp"))
        .groupBy("comp").agg(count(lit(1)).as("n_nodes"))
        .orderBy("comp")
    }),

    "graph_bfs_reach" -> ((s, dir) => {
      import s.implicits._
      val emb   = Tables.embeddings(s, dir)
      val e     = edges(s, dir)
      val qc    = KnnGraph.queryCounts(emb, rawKnn(s, dir), k = 10)
      val seeds = qc.filter(col("query_count") === 0).select("vec_id")
      val nSeeds = seeds.count()
      if (nSeeds == 0) Seq((0L, 0L, 0.0)).toDF("n_seeds", "n_reached", "avg_internal_edge")
      else {
        val reached = KnnGraph.bfs(e, seeds).cache()
        // exact integer nano-sum (same construction as graph_cluster_stats):
        // associative + fold-order-free, so the mean is bit-reproducible with
        // bounded per-task state — no collect_list buffer of the edge set.
        val aggRow = KnnGraph.internalEdgeStats(e, reached).head()
        val nInner = aggRow.getLong(1)
        val avgLen =
          if (nInner == 0L) 0.0
          else aggRow.getLong(0).toDouble / 1.0e9 / nInner.toDouble
        val nReached = reached.count()
        reached.unpersist() // all consumers ran; a bare cache() outlives clear()
        Seq((nSeeds, nReached, avgLen)).toDF("n_seeds", "n_reached", "avg_internal_edge")
      }
    }),

    // G6 — per-cluster breakdown of the never-queried seed components
    // (analyze_small_clusters, e1_steath_vector.py:89–116): per component,
    // node count, mean / min / max of per-node avg out-edge length, and total
    // reciprocal edges. The reference restricts its printout to ≤10-node
    // clusters; the operator reports every component (the fixture graph
    // floods into one), with the mean carried as an exact distributed
    // nano-sum — no per-group collect, so cluster size is unbounded.
    "graph_cluster_stats" -> ((s, dir) => {
      val emb   = Tables.embeddings(s, dir)
      val e     = edges(s, dir)
      val qc    = KnnGraph.queryCounts(emb, rawKnn(s, dir), k = 10)
      val seeds = qc.filter(col("query_count") === 0).select("vec_id")
      KnnGraph.components(e, seeds)
        .join(KnnGraph.avgEdgeLength(emb, e), "vec_id")
        .join(KnnGraph.bidirectionalEdges(emb, e), "vec_id")
        .groupBy("comp")
        .agg(
          count(lit(1)).as("n_nodes"),
          sum(nanos(col("avg_edge_len"))).as("sum_ael_nanos"),
          min(col("avg_edge_len")).as("min_ael"),
          max(col("avg_edge_len")).as("max_ael"),
          sum(col("bidir_edges")).as("n_bidir"))
        .withColumn("mean_ael",
          col("sum_ael_nanos").cast("double") / lit(1.0e9) / col("n_nodes").cast("double"))
        .orderBy("comp")
    }),

    // H3 — the reference's published impact sweep at its full grid
    // (impact.py:130–171, th = 0.1…1.0): per carrier-selection threshold,
    // TVP-embed and measure kNN miss/false averages and carrier traffic
    // before/after. Shares the memoized kNN pass + accessibility frame; the
    // per-th classification is computed once inside the sweep.
    // G7 persistence — the kNN edge graph + accessibility index as
    // write-once parquet artifacts (DESIGN §3b: at 100 TB the graph is a
    // table, not a cache entry — the single most reused artifact). The
    // query writes the graph once per scale dir, then reads the parquet
    // back COLD (plain scans, no cache/memo on the read path) and serves
    // per-node out-degree + AI from the persisted frames alone — the
    // fresh-session path that skips the kNN pass entirely.
    "graph_cold_read" -> ((s, dir) => {
      val (edgesDf, aiDf) = KnnGraph.read(s, graphArtifactDir(s, dir))
      val deg = edgesDf.groupBy(col("src")).agg(count(lit(1)).as("out_degree"))
      aiDf.join(deg, aiDf("vec_id") === deg("src"), "left")
        .select(col("vec_id"),
          coalesce(col("out_degree"), lit(0L)).as("out_degree"), col("ai"))
        .orderBy("vec_id")
    }),

    "h_impact_sweep" -> ((s, dir) => {
      Experiments.impactSweep(Tables.embeddings(s, dir),
        ths = (1 to 10).map(_ / 10.0), WM, Strength, k = 10, d = D, wmKey = key,
        sharedRaw = Some(rawKnn(s, dir)), sharedAi = Some(ai(s, dir)),
        // bit-identical to h_impact_compare's classify — the one shared
        // checkpoint (classifiedShared); whichever consumer runs first pays
        // the window/checkpoint build
        sharedClassified = Some(classifiedShared(s, dir)))
        .select(col("th"), col("n_carriers"),
          round(col("avg_miss"), 6).as("avg_miss"),
          round(col("avg_false"), 6).as("avg_false"),
          round(col("traffic_before"), 6).as("traffic_before"),
          round(col("traffic_after"), 6).as("traffic_after"))
        .orderBy("th")
    }),

    // H1/H2 — robustness grid (embed → attack → extract → BER). RS + TVP
    // × five attack families (incl. K4 adaptive modification, which rides
    // the shared memoized accessibility frame) × the published 8-rate axis
    // plus the p=0 control: one shared
    // embed per scheme fans out over the 45 attack cells (roubust.py:265–304
    // re-embeds per cell; the shared frame is the win that makes a wider
    // grid affordable). Oracle-exact: every cell's BER is replayed in SQL —
    // post-embed bits from the codec replay, keyed/ai rankings for the
    // deletions, the run-overwrite + full re-classification for the
    // modifications, per-dim fold-stat gaussian synthesis + re-classification
    // for the insertions.
    "h_robustness_grid" -> ((s, dir) => {
      Experiments.robustnessGrid(
        Tables.embeddings(s, dir),
        schemes = Seq(Experiments.SchemeRs, Experiments.SchemeTvp),
        attacks = Seq("random_delete", "adaptive_delete", "random_modify",
          "adaptive_modify", "insert"),
        ps = RobGridPs, reps = 1,
        wm = WM, strength = 0.7, th = 0.5, d = D, wmKey = key, scpwKey = scpwKey,
        sharedAi = Some(ai(s, dir)))
        .select(col("scheme"), col("attack"), col("p"), col("rep").cast("long"), col("ber"))
        .orderBy("scheme", "attack", "p", "rep")
    }),

    // H2 — the SCPW column of the scheme comparison, same attack grid.
    // Oracle-exact since the value hash moved to the micros rendering
    // (Scpw.hiddenBit): classification, the rejection-resample embed, every
    // attack cell, and the majority vote all replay in SQL (scpwGridSql).
    "h_scpw_grid" -> ((s, dir) => {
      Experiments.robustnessGrid(
        Tables.embeddings(s, dir),
        schemes = Seq(Experiments.SchemeScpw),
        attacks = Seq("random_delete", "adaptive_delete", "random_modify",
          "adaptive_modify", "insert"),
        ps = RobGridPs, reps = 1,
        wm = WM, strength = 0.7, th = 0.5, d = D, wmKey = key, scpwKey = scpwKey,
        sharedAi = Some(ai(s, dir)),
        // the pool + noise constants are strength-independent — ride the
        // memo the other SCPW queries share instead of re-collecting the
        // pool and stats aggregate every bench pass
        sharedScpwPrep = Some(GraftCache.memoAny(s"$dir/scpw-prep") {
          Scpw.prepare(Tables.embeddings(s, dir), scpwKey)
        }))
        .select(col("scheme"), col("attack"), col("p"), col("rep").cast("long"), col("ber"))
        .orderBy("scheme", "attack", "p", "rep")
    }),

    // The RESULTS.md quality curve, driver-gated: TVP + adaptive deletion
    // with the reference's OWN parameters (compare/roubust.py:162–176 —
    // 21-bit message, strength 0.54, th = 1.0, p = 0.1…0.8; the adaptive
    // attack is a seedless ai-argsort, so the single realization IS the
    // published curve). Same embed→attack→extract chain as
    // h_robustness_grid, replayed cell-for-cell in SQL at the curve's
    // parameters — RESULTS.md's table is reproduced by an oracle-checked
    // query instead of a probe report.
    "h_quality_curve" -> ((s, dir) => {
      Experiments.robustnessGrid(
        Tables.embeddings(s, dir),
        schemes = Seq(Experiments.SchemeTvp),
        attacks = Seq("adaptive_delete"),
        ps = CurvePs, reps = 1,
        wm = CurveWm, strength = 0.54, th = 1.0, d = D, wmKey = key,
        scpwKey = scpwKey, sharedAi = Some(ai(s, dir)))
        .select(col("p"), col("ber"))
        .orderBy("p")
    }),

    // RESULTS.md row 2 — TVP + RANDOM deletion, the published 10-rep
    // configuration: same embed, ten rep-seeded deletion rankings (reps
    // re-roll only the attack), per-(p, rep) BER gated row-for-row; the
    // published mean is the average over these gated values.
    "h_quality_curve_rand" -> ((s, dir) => {
      Experiments.randomDeleteRepCurve(
        Tables.embeddings(s, dir),
        scheme = Experiments.SchemeTvp,
        ps = CurvePs, reps = CurveReps,
        wm = CurveWm, strength = 0.54, th = 1.0, d = D, wmKey = key,
        scpwKey = scpwKey, sharedAi = Some(ai(s, dir)))
        .select(col("p"), col("rep").cast("long"), col("ber"))
        .orderBy("p", "rep")
    }),

    // Corpus vocabulary heavy hitters: token frequency with a deterministic
    // top-k cut. The scale shape is the canonical 100 TB word count —
    // map-side partial aggregation into a hash shuffle on token, then a
    // per-partition top-k merged on the driver (TakeOrderedAndProject — no
    // global sort materializes). The (n DESC, token) total order makes the
    // k-boundary tie-free.
    "text_top_tokens" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(100)
    }),

    // Heavy hitters through a 4×1024 count-min sketch, next to their exact
    // counts: the constant-state frequency oracle (d·w cells total — it
    // broadcasts at ANY vocabulary size) vs the exact per-token groupBy it
    // approximates. CMS only overestimates, so n_cms ≥ n_exact row by row
    // — and because the hashing is keyed md5-mod, the oracle rebuilds every
    // cell and lands on the identical estimates (an exact compare of an
    // approximate structure, like the KMV sketch). The grouped token frame
    // is tracked so the tokenize pass runs once for the exact counts, the
    // sketch build, and the probe set.
    "text_heavy_hitters_cms" -> ((s, dir) => {
      val toks = GraftCache.track(
        Tables.documents(s, dir)
          .select(explode(split(col("text"), " ")).as("token"))
          .filter(length(col("token")) > 0)
          .groupBy("token").agg(count(lit(1)).as("n")))
      val cms = graft.functions.Sketches.cmsBuild(toks, "token", "n")
      val top = toks.orderBy(col("n").desc, col("token")).limit(20)
      graft.functions.Sketches.cmsProbe(cms, top, "token")
        .join(broadcast(top), "token")
        .select(col("token"), col("n").as("n_exact"), col("n_cms"))
        .orderBy(col("n_exact").desc, col("token"))
    }),

    // Corpus composition report: docs/tokens per (source, language) with an
    // exact parts-per-million token share. One groupBy plus a broadcast of
    // the 1-row total — the share is integer arithmetic (n·10⁶ div total),
    // no double division to drift between engines. The mix report is the
    // first artifact any pretraining data audit asks for.
    "corpus_mix" -> ((s, dir) => {
      val toks = Tables.documents(s, dir).select(col("source"), col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("tk"))
      // persist the (tiny) grouped frame so the grand total derives from the
      // handful of group rows instead of a second scan + tokenize of the
      // whole corpus (the dominant cost at scale; two independent subtrees
      // over `toks` would each pay it). Routed through GraftCache.track so
      // the bench's between-pass clear() releases the blocks — a bare
      // localCheckpoint's RDD blocks would linger until GC
      val g = GraftCache.track(toks.groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("tk").as("n_tokens")))
      val tot = g.agg(sum("n_tokens").as("tot"))
      g.crossJoin(broadcast(tot))
        .withColumn("token_share_ppm", expr("n_tokens * 1000000 div tot"))
        .select("source", "lang", "n_docs", "n_tokens", "token_share_ppm")
        .orderBy("source", "lang")
    }),

    // Deterministic stratified sampling + train/val/test split assignment:
    // a 10% keyed-hash sample of every language stratum, then an 80/10/10
    // split from a second independent keyed draw. Entirely map-side until
    // the report aggregate, and content-key-deterministic — rerunning on a
    // different cluster/partitioning reproduces the exact membership, which
    // rand()-based sampling cannot. min/max doc_id witness the membership
    // beyond counts.
    "sample_stratified" -> ((s, dir) => {
      val idStr = col("doc_id").cast("string")
      val sampled = Tables.documents(s, dir)
        .filter(GraftCols.md5Mod(concat(lit("strat|"), idStr), 1000) < 100)
      val draw = GraftCols.md5Mod(concat(lit("split|"), idStr), 10)
      sampled
        .withColumn("split",
          when(draw <= 7, "train").when(draw === 8, "val").otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("lang", "split")
    }),

    // TEMPERATURE-FLATTENED source mixing — the multinomial data-mixing
    // recipe of the GPT-3/PaLM pipelines: sample k docs with per-source
    // quotas ∝ n_s^α, α = 0.5. sqrt IS α=0.5 and is IEEE
    // correctly-rounded (bit-identical across engines), which is exactly
    // why this temperature is the oracle-checkable one — a general pow(n,
    // α) key would be libm-lane-dependent. Quotas via largest-remainder
    // apportionment computed driver-side over |sources| rows (the same
    // arithmetic replayed in SQL); membership = the per-source keyed-md5
    // rank ≤ quota, so the sampled SET is content-deterministic. The
    // per-source rank window is |sources| partitions — fine while quotas
    // are k-bounded and sources are few (the data-mixing case); a
    // single-source crawl at 100 TB would run the same membership rule
    // through the two-pass hash-histogram top-k instead.
    "sample_mixture_sqrt" -> ((s, dir) => {
      val k = 120.0
      val docs = Tables.documents(s, dir)
      // |sources| rows driver-side; W folds in source order (bounded fold —
      // the ael-style acceptable one), every double op mirrored in SQL
      val rows = docs.groupBy("source").agg(count(lit(1)).as("n"))
        .orderBy("source").collect()
        .map(r => (r.getString(0), r.getLong(1), math.sqrt(r.getLong(1).toDouble)))
      val bigW = rows.foldLeft(0.0)((a, r) => a + r._3)
      val base = rows.map { case (src, n, w) =>
        (src, n, math.floor(k * w / bigW).toLong, k * w / bigW - math.floor(k * w / bigW))
      }
      val rem = (k - base.map(_._3).sum).toInt
      val extras = base.sortBy { case (src, _, _, frac) => (-frac, src) }
        .take(rem).map(_._1).toSet
      import s.implicits._
      val quotaDf = base.map { case (src, n, b, _) =>
        (src, n, b + (if (extras.contains(src)) 1L else 0L))
      }.toSeq.toDF("source", "n_docs", "quota")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
        .orderBy(md5(concat(lit("mix|"), col("doc_id").cast("string"))), col("doc_id"))
      val sampled = docs.select(col("source"), col("doc_id"))
        .withColumn("__rn", row_number().over(w))
        .join(broadcast(quotaDf.select("source", "quota")), "source")
        .filter(col("__rn") <= col("quota"))
      quotaDf.join(
          sampled.groupBy("source").agg(count(lit(1)).as("n_sampled"),
            min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
            sum("doc_id").as("sum_doc_ids")),
          Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("quota"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          coalesce(col("first_doc"), lit(-1L)).as("first_doc"),
          coalesce(col("last_doc"), lit(-1L)).as("last_doc"),
          coalesce(col("sum_doc_ids"), lit(-1L)).as("sum_doc_ids"))
        .orderBy("source")
    }),

    // Quality-WEIGHTED sampling (priority sampling, Duffield–Lund–Thorup
    // JACM '07): priority = quality/u over a keyed-md5 uniform, sample =
    // the k largest — the quality-weighted corpus-mixing draw of a
    // pretraining pipeline, with the subset-sum estimator max(w, τ)
    // spec-pinned (SampleSpec). Chosen over Efraimidis–Spirakis' u^(1/w)
    // because ES needs pow (libm-lane-dependent across engines) while this
    // is ONE IEEE division per row — so the oracle checks the sampled SET
    // itself, not just its size. Plan: map-side priorities, then
    // TakeOrderedAndProject (per-partition top-k + driver merge — no
    // global sort at any corpus size).
    "sample_weighted_priority" -> ((s, dir) => {
      graft.text.Sample.priorityTopK(
          Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text")),
          "doc_id", TextOps.qualityScore(col("text")), k = 100, seed = "wsamp")
        .select(col("rank").cast("long"), col("doc_id"), col("lang"),
          micros(col("__w")).as("w_us"))
        .orderBy("rank")
    }),

    // Sequence packing (concatenate-then-chunk): docs in doc_id order packed
    // into 2048-token context windows per source; a doc is assigned to the
    // window holding its LAST token. The prefix sum is DUAL-REGIME
    // (Pack.groupedCumSum): plain per-source window at fixture scale, a
    // (source × doc_id-range bucket) cumsum + histogram offsets above
    // `graft.rank.smallMaxRows` — a source-alone window is exactly
    // |sources| partitions at ANY corpus size (a crawl is typically ONE
    // source → single-task global sort at 100 TB). Both regimes are
    // row-identical (PackSpec) and oracle-replayable; emits per-window fill
    // stats — the packing-efficiency report of an LLM data pipeline.
    "pack_sequences" -> ((s, dir) => {
      graft.text.Pack.packWindows(Tables.documents(s, dir))
        .orderBy("source", "window_id")
    }),

    // Unigram language-model surprisal per doc — the perplexity-filter step
    // of a pretraining pipeline (CCNet-style), self-trained on the corpus:
    // two passes (vocab build, then score), the canonical LM-scoring shape
    // at 100 TB. p(tok) = cnt/total; per-token surprisal −ln p is
    // float32-QUANTIZED before the micros render (the attack_insert
    // technique) so the JVM's and DuckDB's libm ln lanes collapse to the
    // same value, then folded as exact integer micros. The vocab join is
    // DUAL-REGIME on the shared knob (graft.rank.smallMaxRows, keyed on an
    // HLL estimate of the vocabulary's own cardinality — one map-side
    // sketch pass, memoized per dir; see vocabEstimate for why the old
    // doc-count proxy was unsafe): a broadcast hash join at fixture scale,
    // a plain shuffle
    // equi-join on `token` above it — a 100 TB corpus has a 10⁸–10⁹-token
    // vocabulary and force-broadcasting it is a driver OOM. Both regimes are
    // row-identical (the join is the same equi-join; PlanSpec gates the
    // shape, SurprisalScaleProbe records the crossover). The 1-row total
    // stays broadcast in both — it is an aggregate, bounded by construction.
    // For the bounded-broadcast top-K + smoothed-tail scoring variant see
    // text_surprisal_topk. mean = one double division of two exact
    // integers — IEEE-identical in both engines.
    "text_surprisal" -> ((s, dir) => {
      surprisalPerDoc(s, dir)
        .withColumn("mean_surprisal",
          col("surprisal_micros").cast("double") / col("n_tokens"))
        .orderBy("doc_id")
    }),

    // The BOUNDED-BROADCAST LM scoring variant — what a production pipeline
    // actually ships at 100 TB: only the top-K vocabulary (K = 16 here; the
    // fixture vocab is 31 types, so the tail path IS oracle-exercised) rides
    // the broadcast, and every tail token scores against ONE shared smoothed
    // estimate, the surprisal of the AVERAGE tail type
    // (−ln(tail_mass / total / n_tail_types)). The top-K cut is
    // TakeOrderedAndProject (map-side partial top-K, no global vocab sort),
    // tail stats are one broadcast anti-join aggregate, and the scoring join
    // broadcasts exactly K rows at ANY corpus size — the plan keeps this
    // shape regardless of the regime knob because its broadcast is bounded
    // by construction (PlanSpec gates it). Same float32-quantized micros
    // rendering as text_surprisal.
    "text_surprisal_topk" -> ((s, dir) => {
      def toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
      val vocab = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      val topk  = vocab.orderBy(col("cnt").desc, col("token")).limit(SurprisalTopK)
      val tot   = vocab.agg(sum("cnt").as("tot"))
      val tail  = vocab.join(broadcast(topk.select("token")), Seq("token"), "left_anti")
        .agg(coalesce(sum("cnt"), lit(0L)).as("tail_cnt"),
          count(lit(1)).as("n_tail"))
      def f32micros(c: org.apache.spark.sql.Column) =
        floor(c.cast("float").cast("double") * lit(1000000.0) + lit(0.5)).cast("long")
      toks.join(broadcast(topk), Seq("token"), "left")
        .crossJoin(broadcast(tot)).crossJoin(broadcast(tail))
        .withColumn("sm", when(col("cnt").isNotNull,
            f32micros(-log(col("cnt").cast("double") / col("tot").cast("double"))))
          .otherwise(
            f32micros(-log(col("tail_cnt").cast("double") / col("tot").cast("double")
              / col("n_tail").cast("double")))))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("n_oov"),
          sum("sm").as("surprisal_micros"))
        .withColumn("mean_surprisal",
          col("surprisal_micros").cast("double") / col("n_tokens"))
        .orderBy("doc_id")
    }),

    // Repetition/boilerplate quality signals — the standard corpus-quality
    // repetition rules (duplicate-line fraction, duplicate-2-gram fraction,
    // duplicate-token fraction, top-2-gram token share) flagged at the
    // usual pretraining-filter thresholds (0.30 / 0.30 / 0.50 / 0.20,
    // strict >, compared in exact integer micros so both engines agree).
    // Per-doc stats are ONE map-side UDF pass (TextOps.repetitionStatsUdf);
    // the report is one 1-row aggregate stacked to per-rule rows — the
    // 100 TB shape is map-everything + one tiny exchange.
    "text_quality_flags" -> ((s, dir) => {
      val m = Tables.documents(s, dir)
        .select(TextOps.repetitionStatsUdf(col("text")).as("r"))
        .select(col("r.dup_line_micros").as("dl"), col("r.dup_2gram_micros").as("d2"),
          col("r.dup_token_micros").as("dt"), col("r.top_2gram_micros").as("t2"))
      m.agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("d2") > 300000L, 1L).otherwise(0L)).as("f_2g"),
          sum(col("d2")).as("s_2g"),
          sum(when(col("dl") > 300000L, 1L).otherwise(0L)).as("f_ln"),
          sum(col("dl")).as("s_ln"),
          sum(when(col("dt") > 500000L, 1L).otherwise(0L)).as("f_tk"),
          sum(col("dt")).as("s_tk"),
          sum(when(col("t2") > 200000L, 1L).otherwise(0L)).as("f_t2"),
          sum(col("t2")).as("s_t2"))
        .select(expr(
          "stack(4, 'dup_2grams', f_2g, s_2g, 'dup_lines', f_ln, s_ln, " +
            "'dup_tokens', f_tk, s_tk, 'top_2gram', f_t2, s_t2) " +
            "as (rule, n_flagged, sum_metric_micros)"), col("n_docs"))
        .orderBy("rule")
    }),

    // PII scrub (emails / IPv4 / intl phones → typed tags), map-only
    // codegen regexes. The fixture corpus is digit-free word salad, so the
    // PII the scrubber must find is PLANTED deterministically from doc_id
    // (the multimodal asset device): doc_id%4 selects an email, an IP, a
    // phone, or nothing. Counts audit BEFORE the scrub; the md5 of the
    // scrubbed text proves byte-equality of the whole redaction across
    // engines — java.util.regex and RE2 must agree on every match span.
    "text_pii_redact" -> ((s, dir) => {
      val aug = Tables.documents(s, dir).withColumn("aug",
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com now")))
          .when(col("doc_id") % 4 === 1,
            concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
              lit(".0."), (col("doc_id") % 97).cast("string"), lit(" logged")))
          .when(col("doc_id") % 4 === 2,
            concat(lit(" call +1 555 "), (col("doc_id") % 1000 + 1000).cast("string"),
              lit(" today")))
          .otherwise(lit(""))))
      aug.select(col("doc_id"),
          Pii.emailCount(col("aug")).cast("long").as("n_email"),
          Pii.ipCount(col("aug")).cast("long").as("n_ip"),
          Pii.phoneCount(col("aug")).cast("long").as("n_phone"),
          length(Pii.redact(col("aug"))).cast("long").as("len_redacted"),
          md5(Pii.redact(col("aug"))).as("md5_redacted"))
        .orderBy("doc_id")
    }),

    // Int8 symmetric scalar quantization of the embedding column — the
    // standard vector-store compression step (scale = max|v|/127 per
    // vector, q ∈ [−127, 127]) — with exact dequantization-error
    // accounting. Map-only per row; error totals are integer micros so the
    // oracle replays them bit-exactly (doubles would be fold-order
    // dependent). All arithmetic is float→double→round, IEEE-identical in
    // both engines; a zero vector keeps scale 0 and quantizes to all zeros.
    "embed_quantize" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .withColumn("mx", expr(
          "aggregate(embedding, cast(0.0 as double), (a, x) -> greatest(a, abs(cast(x as double))))"))
        .withColumn("scale", col("mx") / lit(127.0))
        .withColumn("q", expr(
          "transform(embedding, x -> CASE WHEN scale = 0.0 THEN 0L ELSE cast(round(cast(x as double) / scale) as bigint) END)"))
        .select(col("vec_id"),
          expr("array_max(transform(q, v -> abs(v)))").as("q_max"),
          micros(col("scale")).as("scale_micros"),
          expr("aggregate(zip_with(q, embedding, (qi, xi) -> " +
            "cast(floor(abs(qi * scale - cast(xi as double)) * 1000000.0 + 0.5) as bigint)), " +
            "0L, (a, e) -> a + e)").as("err_total_micros"))
        .orderBy("vec_id")
    }),

    // Deterministic Johnson–Lindenstrauss random projection 64d → 16d — the
    // standard pre-indexing dimensionality reduction of a vector store.
    // The projection matrix is the SAME keyed float32-quantized md5
    // Box–Muller family as the LSH hyperplanes (seed "jlproj"), rows scaled
    // 1/√16; per-vector output reports the first/last projected coordinate
    // (float32-quantized, exact micros) plus the original and projected
    // squared norms (sequential-fold nanos) — the JL norm-preservation
    // check as data. Map-only per row; the oracle replays matrix, folds,
    // and quantization bit-for-bit.
    "embed_project" -> ((s, dir) => {
      val dCount = D; val kOut = 16
      val proj = Array.tabulate(kOut, dCount)((t, j) =>
        Hashing.gauss(s"jlproj|$t|$j").toFloat.toDouble)
      val bc = s.sparkContext.broadcast(proj)
      val projUdf = udf((e: Seq[Float]) => {
        val rs = bc.value
        val ys = Array.tabulate(kOut) { t =>
          val r = rs(t)
          var acc = 0.0; var j = 0
          while (j < r.length) { acc += e(j).toDouble * r(j); j += 1 }
          (acc / 4.0).toFloat // 1/√16 JL scaling, float32-quantized
        }
        var osq = 0.0; var j = 0
        while (j < e.length) { val v = e(j).toDouble; osq += v * v; j += 1 }
        var psq = 0.0; var t = 0
        while (t < kOut) { val v = ys(t).toDouble; psq += v * v; t += 1 }
        def micros(x: Double) = math.floor(x * 1000000.0 + 0.5).toLong
        def nanos(x: Double)  = math.floor(x * 1000000000.0 + 0.5).toLong
        (micros(ys(0).toDouble), micros(ys(kOut - 1).toDouble),
          nanos(osq), nanos(psq))
      })
      Tables.embeddings(s, dir)
        .select(col("vec_id"), projUdf(col("embedding")).as("p"))
        .select(col("vec_id"),
          col("p._1").as("y0_micros"), col("p._2").as("y15_micros"),
          col("p._3").as("orig_sq_nanos"), col("p._4").as("proj_sq_nanos"))
        .orderBy("vec_id")
    }),

    // Product-quantization codebook + assignment — the OTHER standard
    // vector-store compression beside int8 scalar quantization
    // (embed_quantize): the 64-d space splits into m=8 subspaces of 8 dims;
    // each subspace gets a 16-codeword codebook, here the SAME deterministic
    // keyed-md5 corpus sample as the IVF coarse quantizer (seed "pq" — one
    // closed-form SQL replay, no Lloyd iterations: PQ distortion at this
    // codebook size is dominated by ksub, not centroid optimality, and the
    // sampled rows make every assignment an oracle-replayable fold-L2
    // argmin). Emits one row per (vector, subspace): the assigned code and
    // the exact per-subspace reconstruction error in integer micros (the
    // embed_quantize technique — order-free bigint sums). Map-only per row
    // over an 8×16×8-float broadcast; the 100 TB shape is embarrassingly
    // parallel, codes are 8 bytes/vector vs 256 for the raw floats.
    "embed_pq" -> ((s, dir) => {
      val mSub = 8; val dSub = D / 8
      val cents = Ann.ivfDetCentroids(Tables.embeddings(s, dir), nlist = 16, seed = "pq")
      val bc = s.sparkContext.broadcast(cents)
      val pqUdf = udf((e: Seq[Float]) => {
        val cs = bc.value
        val a  = e.toArray
        (0 until mSub).map { u =>
          val off = u * dSub
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < cs.length) {
            var s2 = 0.0; var j = 0
            while (j < dSub) {
              val d = a(off + j).toDouble - cs(c)(off + j).toDouble
              s2 += d * d; j += 1
            }
            if (s2 < bestD) { bestD = s2; best = c } // strict < = ties to lower code
            c += 1
          }
          var err = 0L; var j = 0
          while (j < dSub) {
            err += math.floor(
              math.abs(cs(best)(off + j).toDouble - a(off + j).toDouble) * 1000000.0 + 0.5).toLong
            j += 1
          }
          (u, best, err)
        }
      })
      Tables.embeddings(s, dir)
        .select(col("vec_id"), explode(pqUdf(col("embedding"))).as("pq"))
        .select(col("vec_id"), col("pq._1").cast("long").as("subspace"),
          col("pq._2").cast("long").as("code"), col("pq._3").as("err_micros"))
        .orderBy("vec_id", "subspace")
    }),

    // ADC search over the PQ-compressed corpus — the query path that makes
    // embed_pq an INDEX, not just compression (FAISS IVFADC's scan): the
    // asymmetric distance Σ_u ‖q_u − codeword(code_u)‖² is EXACTLY the
    // fold-L2 between the query and the PQ-RECONSTRUCTED vector, so the
    // scan reuses Knn.exact's map-only broadcast kernel verbatim on a
    // reconstructed corpus — at 100 TB the scan reads 8-byte codes + a tiny
    // codebook instead of 256-byte vectors (32× less IO), decodes in the
    // map, and ships only |Q|·k merge rows. Reconstruction is the same
    // argmin as embed_pq (ties to the lower code); the oracle rebuilds the
    // reconstructed list per row and replays the same fold.
    "ann_pq_topk" -> ((s, dir) => {
      pqReconSearch(s, dir, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("dist"),
          col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // PQ acceptance gauge: recall@10 of the compressed (ADC) scan against
    // the exact uncompressed ground truth — the distortion-vs-recall number
    // that sizes m/ksub before a 100 TB build.
    "ann_pq_recall" -> ((s, dir) =>
      recallVs(rawKnn(s, dir).filter(col("query_id") < 100 && col("rank") <= 10),
        pqReconSearch(s, dir, k = 10))),

    // IVFPQ — the full FAISS-style composite: IVF coarse probe (top-4
    // clusters by fold-L2 to the sampled centroids, assignment from REAL
    // vectors at build time) + asymmetric-cosine ADC re-rank against the
    // PQ-RECONSTRUCTED inverted lists. Literally ivfDetSearch handed the
    // reconstructed corpus: the probed-scan machinery (grouped broadcast
    // kernel, beyond-broadcast join regime, skew guard) is inherited
    // unchanged, so at 100 TB the scan touches nprobe/nlist of the corpus
    // AND reads 8-byte codes instead of 256-byte vectors — the two
    // orthogonal savings multiplied, which is why IVFADC is the standard
    // billion-scale layout.
    "ann_ivfpq_topk" -> ((s, dir) => {
      ivfPqSearch(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("score"),
          col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // IVFPQ acceptance gauge: recall@10 of the probed-ADC composite against
    // exact brute cosine — the number that trades nprobe (probe coverage)
    // against m/ksub (code distortion) before a 100 TB build. Both loss
    // sources show up here; compare ann_ivf_recall (probe loss only) and
    // ann_pq_recall (distortion loss only) to attribute.
    "ann_ivfpq_recall" -> ((s, dir) =>
      recallVs(cosKnn(s, dir), ivfPqSearch(s, dir))),

    // IVFADC proper — the residual-encoded composite (FAISS's production
    // default) at the same nlist/nprobe/8×16 code budget as ann_ivfpq_topk,
    // with BOTH stages trained one order-free Lloyd step (integer-micros
    // means — see ivfAdcIndex): codes quantize the RESIDUAL vs the refined
    // coarse centroid, the scan reconstructs centroid + codeword. The
    // training step is load-bearing, not decoration: under SAMPLED
    // data-point centroids residuals carry ~1.5× the raw energy (two
    // random high-dim points are near-orthogonal) and residual coding
    // LOSES (measured 0.177 vs 0.194 @ sf0.1); with mean cells it wins
    // 0.243 at equal budget — the number ann_ivfadc_recall reads out
    // against ann_ivfpq_recall.
    "ann_ivfadc_topk" -> ((s, dir) => {
      ivfAdcSearch(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("score"),
          col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // IVFADC acceptance gauge: recall@10 of the residual composite against
    // exact brute cosine — read next to ann_ivfpq_recall (raw-encoded, same
    // budget) to see the residual gain, and ann_ivf_recall (no quantization)
    // to see the remaining distortion loss.
    "ann_ivfadc_recall" -> ((s, dir) =>
      recallVs(cosKnn(s, dir), ivfAdcSearch(s, dir))),

    // One-pass column profiler over lineitem's measure columns: count,
    // distinct count, min/max, exact mean — one scan, one shuffle. The shape
    // is unpivot-first: stack() to (col_name, v) long format (map-only),
    // then a TWO-LEVEL aggregation — level 1 keyed (col_name, v) collapses
    // to distinct values with multiplicities (map-side partial absorbs the
    // 4× row fan-out), level 2 keyed col_name derives n = Σcnt,
    // n_distinct = count, min/max, and the exact decimal sum Σ v·cnt. This
    // beats the one-agg multi-countDistinct form 3× (ProfileProbe: 1.0 s vs
    // 2.9 s warm at sf0.1) because that form plans a 5-branch Expand whose
    // first aggregate keys on ALL FOUR value columns at once — a 3M-row
    // grouping keyed by near-unique tuples — while this one never groups by
    // more than one value column. The mean stays exact and
    // order-independent: decimal(18,2) sums are associative (the measures
    // carry ≤2 decimals) and the final sum/n is one double division of two
    // exact values, so Spark and the oracle land on the same IEEE result.
    "profile_columns" -> ((s, dir) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      Tables.lineitem(s, dir)
        .select(expr(
          s"stack(${cols.size}, " + cols.map(c => s"'$c', $c").mkString(", ") +
            ") as (col_name, v)"))
        // NULL measures are excluded exactly like the oracle's count(x) /
        // count(DISTINCT x) — without this a NULL group would inflate n and
        // n_distinct by one relative to the SQL semantics
        .filter(col("v").isNotNull)
        .groupBy("col_name", "v").agg(count(lit(1)).as("cnt"))
        .groupBy("col_name")
        .agg(sum("cnt").as("n"), count(lit(1)).as("n_distinct"),
          min("v").as("vmin"), max("v").as("vmax"),
          sum(col("v").cast("decimal(18,2)") * col("cnt")).as("vsum"))
        .withColumn("avg", col("vsum").cast("double") / col("n"))
        .drop("vsum")
        .orderBy("col_name")
    }),

    // EXACT distributed quantiles (p50/p90/p99 of doc length per source) —
    // the length-cutoff calibration step of a corpus filter, computed as a
    // value histogram + ordered cumsum, NOT a sort: groupBy(source, value)
    // partial-aggregates map-side, so the window that orders values sees
    // |distinct values| rows per source, not |docs| — for an integer-domain
    // measure that is thousands of rows at ANY corpus size. The quantile is
    // the smallest value whose cumulative count reaches ceil(p·n)
    // (quantile_disc semantics, derived from first principles on both
    // engines so no built-in's interpolation rule is trusted). For a
    // continuous-domain measure the same shape range-buckets first and
    // sorts only the cutoff bucket — Attacks.scoreTopK's two-pass.
    // Bottom-k (KMV) distinct-count sketch per event type, next to the
    // exact count it approximates: deterministic (md5-keyed, integer
    // division) so the oracle replays the ESTIMATOR bit-exactly — the
    // engine-portable alternative to HLL whose register layout no two
    // engines share. Below k the sketch is lossless (sf0.001's 15 users
    // exercise that branch); above it the (k−1)·2^48 div h_k estimator
    // kicks in (sf0.01/sf0.1). The k-smallest selection rides Catalyst's
    // InferWindowGroupLimit: a PARTIAL WindowGroupLimit prunes every map
    // task to k rows before the group exchange, so no single task ever
    // sorts a whole group's distinct set (PlanSpec gates the partial).
    "profile_distinct_kmv" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select("event_type", "user_id")
      val est = graft.functions.Sketches.kmvDistinct(
        ev, Seq("event_type"), col("user_id"), k = 64)
      val exact = ev.groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact"))
      est.join(exact, "event_type")
        .select("event_type", "n_exact", "n_kept", "est_distinct")
        .orderBy("event_type")
    }),

    // The SAME bottom-k estimator through the typed-Aggregator path
    // (BottomKAgg): state is a bounded sorted array per group per task,
    // reduce a binary-search insert, merge a sorted-merge-dedup — an
    // ordinary partial/final aggregate with NO window and NO sort, one
    // exchange of ≤ k rows per (group, upstream task). The window form
    // (profile_distinct_kmv) and this one must land on identical numbers —
    // same oracle — which pins the Aggregator's merge/dedup correctness
    // from the driver side on top of SketchSpec's unit gates.
    "profile_distinct_kmv_agg" -> ((s, dir) => {
      val bk = udaf(new graft.functions.BottomKAgg(64),
        org.apache.spark.sql.Encoders.scalaLong)
      Tables.events(s, dir)
        .select(col("event_type"), col("user_id"))
        .groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact"),
          bk(graft.functions.Sketches.hash48(col("user_id"))).as("__bk"))
        .select(col("event_type"), col("n_exact"),
          size(col("__bk")).cast("long").as("n_kept"),
          when(size(col("__bk")) < 64, size(col("__bk")).cast("long"))
            .otherwise(expr("(63 * 281474976710656) div element_at(__bk, 64)"))
            .as("est_distinct"))
        .orderBy("event_type")
    }),

    // Deterministic bottom-k-sample quantile sketch over the CONTINUOUS
    // value column — the domain where profile_quantiles' exact histogram is
    // wrong (|distinct| ≈ |rows|: the histogram IS the data). The k rows
    // with smallest md5(row-key) hashes are a uniform sample (bounded state:
    // k pairs per group, DKW error ε ≈ 0.1 at k = 256 independent of group
    // size, spec-pinned); quantiles are the sample's order statistics at
    // integer per-mille ranks, so the whole estimator replays bit-exactly in
    // SQL. Below k rows the sample is the group and the answer exact —
    // sf0.001's ~200-row types exercise that branch, sf0.01+ the sampled one.
    "profile_quantiles_sketch" -> ((s, dir) => {
      graft.functions.Sketches.quantileSketch(
          Tables.events(s, dir), Seq("event_type"), col("value"),
          rowKey = col("event_id"), k = 256)
        .orderBy("event_type", "q_pm")
    }),

    // Bloom filter AS DATA (Sketches.bloomBuild): the engine-portable
    // complement to q_bloom_join's in-plan runtime filter — an m-bit
    // membership filter materialized as (word, bits) rows you can persist
    // next to the data and broadcast into any later job's semi-join
    // reduction. Dim = every 5th user with an error event; probes = all
    // users. The whole structure is md5-keyed integer bit math (63-bit
    // words so no engine ever touches the sign bit), so the oracle rebuilds
    // EVERY bit and both engines agree on the exact set-bit count, the
    // candidate set, and the false-positive count (0 at sf0.01's n·d/m;
    // ~9 of 1200 at sf0.1 — a real, replayed FP population). n_false_neg
    // is structurally zero — a Bloom miss is proof of absence, which is
    // what makes the pre-filter row-set-safe.
    "profile_bloom" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = ev.filter(col("event_type") === "error" && col("user_id") % 5 === 0)
        .select("user_id").distinct()
      val probes = ev.select("user_id").distinct()
      val bloom = GraftCache.track(
        graft.functions.Sketches.bloomBuild(dim, "user_id", mBits = 4096, d = 3))
      val verdicts = graft.functions.Sketches
        .bloomMightContain(bloom, probes, "user_id", mBits = 4096, d = 3)
      val setBits = bloom.agg(
        coalesce(sum(expr("bit_count(__bits)")), lit(0)).cast("long").as("n_set_bits"))
      verdicts
        .join(dim.withColumn("__m", lit(1L)), Seq("user_id"), "left")
        .select(col("might_contain"), coalesce(col("__m"), lit(0L)).as("is_member"))
        .agg(count(lit(1)).as("n_probes"),
          sum("is_member").as("n_members"),
          sum("might_contain").as("n_might"),
          sum(when(col("might_contain") === 1 && col("is_member") === 0, 1L)
            .otherwise(0L)).as("n_false_pos"),
          sum(when(col("might_contain") === 0 && col("is_member") === 1, 1L)
            .otherwise(0L)).as("n_false_neg"))
        .crossJoin(broadcast(setBits))
        .select("n_probes", "n_members", "n_might", "n_false_pos",
          "n_false_neg", "n_set_bits")
    }),

    "profile_quantiles" -> ((s, dir) => {
      val h = Tables.documents(s, dir)
        .groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("n_chars")
      val cum = h.withColumn("cum", sum("c").over(w))
      val tot = h.groupBy("source").agg(sum("c").as("n"))
      def q(p: Double) =
        min(when(col("cum") >= ceil(lit(p) * col("n")), col("n_chars")))
      cum.join(tot, "source")
        .groupBy("source")
        .agg(max("n").as("n_docs"),
          q(0.5).as("p50"), q(0.9).as("p90"), q(0.99).as("p99"))
        .orderBy("source")
    }),
  )

  /** DuckDB-side content-id expression mirroring GraftCols.contentIdCol
    * (0-based dims; DuckDB list indexing is 1-based like element_at).
    */
  private def cidSql(ds: Seq[Int], scale: Double): String =
    ds.map(d => s"substr(cast(cast(trunc(abs(embedding[${d + 1}]) * $scale) as bigint) as varchar),1,1)")
      .mkString(" || ")

  /** DuckDB mirror of `micros`/`nanos`: per-row floor(x·scale + 0.5) summed
    * as exact bigints; the outer cast collapses DuckDB's HUGEINT sum back to
    * bigint so both engines dump identical int64 columns.
    */
  private def sumMicrosSql(expr: String): String =
    s"cast(sum(cast(floor(($expr) * 1000000.0 + 0.5) as bigint)) as bigint)"
  private def microsSql(expr: String): String =
    s"cast(floor(($expr) * 1000000.0 + 0.5) as bigint)"
  /** OVERFLOW BOUND (applies to every integer nano/micro-sum in the engine:
    * this helper, KnnGraph.accessibility, Attacks.insertGen): each term is
    * ≤ |v|ᵖ·10⁹, so a bigint sum of O(1)-magnitude values wraps around
    * N ≈ 9.2·10⁹ rows PER AGGREGATION GROUP (Long.MaxValue / 10⁹) — and it
    * wraps SILENTLY in Spark while DuckDB's sum promotes to HUGEINT and the
    * outer bigint cast errors, i.e. a cross-engine divergence, not a shared
    * wrong answer. The engine's nano-sum groups are per-dimension or
    * per-cluster stats (≤ corpus rows per group), so the bound is ~9 billion
    * rows per dim/cluster — beyond it, switch the accumulator to
    * decimal(38,0) (`sum(cast(... as decimal(38,0)))`, which both engines
    * carry exactly to 10³⁸) at ~2× aggregation cost. Kept bigint here
    * deliberately: the fixtures are ≤ 10⁶ rows and bigint sums are the
    * cheapest fold both engines replay bit-for-bit.
    */
  private def sumNanosSql(expr: String): String =
    s"cast(sum(cast(floor(($expr) * 1000000000.0 + 0.5) as bigint)) as bigint)"

  /** Mean from an integer nano-sum: `cast(s as double) / 1e9 / cast(n as
    * double)` — the exact double-division sequence Attacks.insertGen and
    * KnnGraph.accessibility perform on their bigint sums, so μ (and any
    * expression built from repeated μ, e.g. σ² = q/1e9/n − μ·μ) is
    * bit-identical across engines. Repeating the expression instead of
    * aliasing keeps the SQL free of lateral-alias semantics; identical
    * double expressions yield identical doubles.
    */
  private def nanoMeanSql(sumExpr: String, nExpr: String): String =
    s"(cast($sumExpr as double) / 1.0e9 / cast($nExpr as double))"


  /** TabularMark embed replay: P12 interval bipartition as a recursive CTE
    * over scalar segment state (one row per generated segment + the trim
    * adjustment re-summing prior lengths in generation order), the keyed
    * cat-1 offset draw, and the resulting watermarked dim-`position` value
    * per row. Produces CTEs tmids/pks/carrids/segs/initsums/segfinal/
    * cat1segs/offsets/tmwm. Callers must open with `WITH RECURSIVE`.
    */
  private def tmEmbedCtes: String = {
    val (pp, nw, kk, pos, sc) =
      (tmKey.p, tmKey.nw, tmKey.k, tmKey.position, tmKey.scale)
    def unitSql(key: String) =
      s"(cast('0x' || substr(md5($key), 1, 13) as bigint) / 4503599627370496.0)"
    def digit(v: String) =
      s"substr(cast(cast(trunc(abs($v) * $sc) as bigint) as varchar), 1, 1)"
    val rawId = (0 until kk).map(j => digit(s"cast(embedding[${j + 1}] as double)")).mkString(" || ")
    s"""tmids AS MATERIALIZED (SELECT vec_id, $rawId AS id, embedding FROM embeddings),
       |pks AS MATERIALIZED (SELECT id, min(vec_id) AS orig_id FROM tmids WHERE vec_id < $nw GROUP BY id),
       |carrids AS MATERIALIZED (SELECT DISTINCT id FROM tmids WHERE vec_id < $nw),
       |segs(id, i, s, e, cat, len1, len2, fin) AS (
       |  -- the initial branch TYPES the recursive CTE's columns (DuckDB
       |  -- casts every recursive result into them): bare `-4.0`/`0.0`
       |  -- literals typed s/len2 as DECIMAL(2,1), silently ROUNDING every
       |  -- segment start and the cat-2 running length to one decimal on
       |  -- each iteration — a latent divergence from the engine's exact
       |  -- doubles that first surfaced at sf0.1 (a matched diff within
       |  -- 0.005 of a true segment boundary flipped category). Explicit
       |  -- double casts keep the whole recursion in doubles.
       |  SELECT id, 0, cast(-$pp as double), -$pp + seglen, 1, seglen,
       |    cast(0.0 as double), seglen >= $pp
       |  FROM (SELECT id, 1.0 + (least($pp - (-$pp), $pp) - 1.0) * ${unitSql("id || '|seg|0'")} AS seglen FROM carrids)
       |  UNION ALL
       |  SELECT id, i + 1, e, e + seglen,
       |    CASE WHEN len1 <= len2 THEN 1 ELSE 2 END,
       |    CASE WHEN len1 <= len2 THEN len1 + seglen ELSE len1 END,
       |    CASE WHEN len1 <= len2 THEN len2 ELSE len2 + seglen END,
       |    (CASE WHEN len1 <= len2 THEN len1 + seglen ELSE len1 END) >= $pp OR
       |    (CASE WHEN len1 <= len2 THEN len2 ELSE len2 + seglen END) >= $pp
       |  FROM (SELECT *, 1.0 + (least($pp - e, $pp) - 1.0) *
       |          ${unitSql("id || '|seg|' || cast(i + 1 as varchar)")} AS seglen
       |        FROM segs WHERE NOT fin AND e < $pp) t
       |),
       |initsums AS MATERIALIZED (
       |  SELECT f.id, f.i,
       |    list_reduce(list_prepend(0.0, coalesce(list(pr.e - pr.s ORDER BY pr.i), [])), (a, b) -> a + b) AS initsum
       |  FROM (SELECT * FROM segs WHERE fin) f
       |  LEFT JOIN segs pr ON pr.id = f.id AND pr.cat = f.cat AND pr.i < f.i
       |  GROUP BY f.id, f.i),
       |segfinal AS MATERIALIZED (
       |  SELECT id, i AS ord, s, e, cat FROM segs WHERE NOT fin
       |  UNION ALL
       |  SELECT g.id, g.i, g.s, g.s + ($pp - n.initsum), g.cat
       |  FROM segs g JOIN initsums n ON n.id = g.id AND n.i = g.i WHERE g.fin
       |  UNION ALL
       |  SELECT g.id, g.i + 1, g.s + ($pp - n.initsum), $pp,
       |    CASE WHEN g.cat = 1 THEN 2 ELSE 1 END
       |  FROM segs g JOIN initsums n ON n.id = g.id AND n.i = g.i WHERE g.fin),
       |cat1segs AS MATERIALIZED (
       |  SELECT id, s, e, row_number() OVER (PARTITION BY id ORDER BY ord) - 1 AS k,
       |    count(*) OVER (PARTITION BY id) AS nseg
       |  FROM segfinal WHERE cat = 1),
       |offsets AS MATERIALIZED (
       |  SELECT id, s + (e - s) * ${unitSql("id || '|emb|inseg'")} AS off
       |  FROM cat1segs WHERE k = ${md5ModCol("id || '|emb|pickseg'", "nseg")}),
       |tmwm AS MATERIALIZED (
       |  SELECT t.vec_id,
       |    CASE WHEN t.vec_id < $nw
       |      THEN cast(cast(t.embedding[${pos + 1}] as double) + o.off as real)
       |      ELSE t.embedding[${pos + 1}] END AS wm50
       |  FROM tmids t LEFT JOIN offsets o ON o.id = t.id)""".stripMargin
  }

  /** Sequential squared-L2 fold (matches VectorOps.l2Col² / VectorOps.sqDist:
    * 0.0-seeded left-to-right accumulation, so argmin orderings replay).
    */
  private def l2sqSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}), " +
      s"i -> (cast($a[i] as double) - cast($b[i] as double)) * (cast($a[i] as double) - cast($b[i] as double)))), " +
      s"(acc, x) -> acc + x)"

  /** DuckDB Horner fold = full-128-bit int(md5hex,16) % m (Hashing.md5Mod). */
  private def md5ModSql(expr: String, m: Int): String =
    s"cast(list_reduce(list_transform(string_split(md5($expr), ''), " +
      s"x -> strpos('0123456789abcdef', x) - 1), (a, b) -> (a * 16 + b) % $m) as bigint)"

  /** Shared DuckDB CTE prefix rebuilding the deterministic kNN graph and its
    * metrics bit-exactly (fold distances, decimal-exact means) — lets every
    * graph-analytics query be oracle-checked, not just rows-counted.
    * MATERIALIZED: the knn scan is referenced by several downstream CTEs.
    */
  private def graphCtes: String = {
    val dd = "(cast(a.embedding[i] as double) - cast(b.embedding[i] as double))"
    s"""WITH knn AS MATERIALIZED (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    sqrt(list_reduce(list_transform(range(1, ${D + 1}), i -> $dd * $dd), (x, y) -> x + y)) AS dist
       |  FROM embeddings a, embeddings b),
       |raw17 AS MATERIALIZED (SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank FROM knn)
       |  WHERE rank <= ${2 * M + 1}),
       |edges AS MATERIALIZED (SELECT * FROM (
       |    SELECT query_id AS src, neighbor_id AS dst, dist,
       |      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS r2
       |    FROM raw17 WHERE neighbor_id <> query_id) WHERE r2 <= ${2 * M}),
       |qc AS MATERIALIZED (SELECT e.vec_id, coalesce(c.cnt, 0) AS query_count FROM embeddings e
       |  LEFT JOIN (SELECT neighbor_id, count(*) AS cnt FROM raw17
       |             WHERE rank <= 10 AND neighbor_id <> query_id GROUP BY 1) c
       |  ON e.vec_id = c.neighbor_id),
       |bidir AS (SELECT e.vec_id, coalesce(b.bd, 0) AS bidir_edges FROM embeddings e
       |  LEFT JOIN (SELECT e1.src, count(*) AS bd FROM edges e1
       |             JOIN edges e2 ON e1.src = e2.dst AND e1.dst = e2.src GROUP BY 1) b
       |  ON e.vec_id = b.src),
       |ael AS (SELECT ed.src AS vec_id,
       |    list_reduce(list_prepend(0.0, list(ed.dist ORDER BY ed.dist, ed.dst)), (a, b) -> a + b) / count(*) AS avg_edge_len
       |  FROM edges ed GROUP BY ed.src),
       |mets AS (SELECT b.vec_id, b.bidir_edges, a.avg_edge_len FROM bidir b JOIN ael a ON a.vec_id = b.vec_id),
       |gstats AS (SELECT
       |    cast(sum(bidir_edges) as double) / cast(count(bidir_edges) as double) AS mu_e,
       |    cast(sum(bidir_edges * bidir_edges) as double) / cast(count(bidir_edges) as double) AS msq_e,
       |    cast(${sumNanosSql("avg_edge_len")} as double) / 1.0e9 / cast(count(avg_edge_len) as double) AS mu_d,
       |    cast(${sumNanosSql("avg_edge_len * avg_edge_len")} as double) / 1.0e9 / cast(count(avg_edge_len) as double) AS msq_d
       |  FROM mets),
       |ai AS MATERIALIZED (SELECT m.vec_id,
       |    0.5 * ((m.avg_edge_len - g.mu_d) / sqrt(greatest(g.msq_d - g.mu_d * g.mu_d, 0.0))) -
       |    0.5 * ((m.bidir_edges - g.mu_e) / sqrt(greatest(g.msq_e - g.mu_e * g.mu_e, 0.0))) AS ai
       |  FROM mets m, gstats g)
       |""".stripMargin
  }

  /** Unrolled GraphAnn beam-search replay over graphCtes' `edges`: round 0
    * scores the shared keyed-md5 entry sample, each later round scores
    * {beam ∪ out-neighbors} (UNION dedups; re-scoring a dropped node is
    * identical because fold-L2 is a pure function — the engine's
    * anti-join merely avoids the recompute) and keeps the B best per query
    * (dist ASC, node ASC). Requires a `$qv(query_id, qe)` CTE; emits
    * gb0..gb$GraphRounds, the last being the final beam.
    */
  private def graphSearchCtes(qv: String): String =
    s"""gent AS (SELECT vec_id AS node FROM embeddings
       |  ORDER BY md5('gentry|' || cast(vec_id as varchar)), vec_id LIMIT $GraphEntries),
       |""".stripMargin +
      graphSearchCtesOver(qv, "g", "edges",
        s"SELECT q.query_id, e.node FROM $qv q, gent e",
        GraphBeam, GraphRounds)

  /** The graph-hybrid beam's replay: GraphAnn.filteredBeam's arithmetic —
    * efSearch over the predicate's survivor count (the engine reads it
    * from the manifest; count(*) over the predicate is the same integer
    * on the label-aligned layout), floored at the k·γ = 20 budget.
    */
  private def filteredBeamCte: String =
    "fbw AS (SELECT greatest(20, cast(ceil(100.0 * " +
      "ln(greatest((SELECT count(*) FROM embeddings WHERE label != 3), 1)) " +
      "/ ln(60000.0)) AS integer)) AS beam)"

  /** The SCHEDULED-width traversal's replay: the beam is not a literal but
    * GraphAnn.efSearch's closed form evaluated over count(*) — DuckDB
    * derives the same integer the engine computes (max(k, ceil(efRef ·
    * ln N / ln 60000))), so one oracle string is correct at every fixture
    * size. Rounds are structural (unrolled CTEs) and pinned at
    * ScaledGraphRounds; the engine asserts its searchRounds(N) equals it.
    */
  private def graphSearchCtesScaled(qv: String): String =
    s"""gent AS (SELECT vec_id AS node FROM embeddings
       |  ORDER BY md5('gentry|' || cast(vec_id as varchar)), vec_id LIMIT $GraphEntries),
       |efp AS (SELECT greatest(10, cast(ceil(100.0 * ln(count(*)) / ln(60000.0)) AS integer)) AS beam
       |  FROM embeddings),
       |""".stripMargin +
      graphSearchCtesOver(qv, "sg", "edges",
        s"SELECT q.query_id, e.node FROM $qv q, gent e",
        "(SELECT beam FROM efp)", ScaledGraphRounds)

  /** Parameterized unrolled-beam generator (shared by the flat and layered
    * replays): emits ${pfx}p0..${pfx}p$rounds / ${pfx}s.. / ${pfx}b.., the
    * last ${pfx}b$rounds being the final beam. `pairs0` is the round-0
    * (query_id, node) SQL — a shared entry cross join for the flat search,
    * the previous phase's final beam for a layered refine (the beam block
    * itself re-truncates to this phase's width; re-scoring is identical
    * because fold-L2 is a pure function).
    */
  private def graphSearchCtesOver(qv: String, pfx: String, edgesCte: String,
                                  pairs0: String, beam: Int, rounds: Int): String =
    graphSearchCtesOver(qv, pfx, edgesCte, pairs0, beam.toString, rounds)

  /** String-beam variant: `beamSql` may be any scalar SQL expression —
    * the scaled replay passes a subquery evaluating GraphAnn.efSearch's
    * closed form over count(*), so the ORACLE derives the width from the
    * data exactly like the engine does (a baked literal would silently
    * pin the replay to one fixture size). Rounds stay a structural Int:
    * CTEs unroll at build time.
    */
  private def graphSearchCtesOver(qv: String, pfx: String, edgesCte: String,
                                  pairs0: String, beamSql: String, rounds: Int): String = {
    val d2 = "(cast(q.qe[i] as double) - cast(b.embedding[i] as double))"
    def scored(i: Int, pairs: String) =
      s"""${pfx}s$i AS (SELECT p.query_id, p.node,
         |    sqrt(list_reduce(list_transform(range(1, ${D + 1}), i -> $d2 * $d2), (x, y) -> x + y)) AS dist
         |  FROM $pairs p JOIN $qv q ON q.query_id = p.query_id
         |  JOIN embeddings b ON b.vec_id = p.node),
         |${pfx}b$i AS (SELECT query_id, node, dist FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, node) AS rn
         |    FROM ${pfx}s$i) WHERE rn <= $beamSql)""".stripMargin
    val entry =
      s"""${pfx}p0 AS ($pairs0),
         |${scored(0, s"${pfx}p0")}""".stripMargin
    val rnds = (1 to rounds).map { i =>
      s"""${pfx}p$i AS (SELECT query_id, node FROM ${pfx}b${i - 1}
         |  UNION
         |  SELECT b.query_id, e.dst AS node FROM ${pfx}b${i - 1} b JOIN $edgesCte e ON e.src = b.node),
         |${scored(i, s"${pfx}p$i")}""".stripMargin
    }
    (entry +: rnds).mkString(",\n")
  }

  /** The rep layer's replay (no leading WITH): membership (Horner md5-mod,
    * the engine's GraftCols.md5Mod) and the layer's OWN kNN edges — same
    * rank-then-re-rank derivation as the base graph, restricted to reps.
    * Shared by the layered search and the delete repair replays.
    */
  private def repLayerCtes: String = {
    val dd = "(cast(a.embedding[i] as double) - cast(b.embedding[i] as double))"
    s"""reps AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
       |  WHERE ${md5ModCol("cast(vec_id as varchar) || '|grep'", RepMod.toString)} = 0),
       |rknn0 AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    sqrt(list_reduce(list_transform(range(1, ${D + 1}), i -> $dd * $dd), (x, y) -> x + y)) AS dist
       |  FROM reps a, reps b),
       |rknn AS MATERIALIZED (SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
       |    FROM rknn0)
       |  WHERE rank <= ${2 * M + 1}),
       |redges AS MATERIALIZED (SELECT * FROM (
       |    SELECT query_id AS src, neighbor_id AS dst, dist,
       |      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS r2
       |    FROM rknn WHERE neighbor_id <> query_id) WHERE r2 <= ${2 * M})""".stripMargin
  }

  /** The layered traversal's full replay: the rep layer (repLayerCtes),
    * the rep-sampled entry set, phase 1 unrolled over `redges`, phase 2
    * unrolled over `edges` seeded by phase 1's final beam.
    */
  private def layeredSearchCtes(qv: String): String =
    repLayerCtes + ",\n" +
      s"""rent AS (SELECT vec_id AS node FROM reps
         |  ORDER BY md5('gentry|' || cast(vec_id as varchar)), vec_id LIMIT $GraphEntries),
         |""".stripMargin +
      graphSearchCtesOver(qv, "lr", "redges",
        s"SELECT q.query_id, e.node FROM $qv q, rent e", RepBeam, RepRounds) +
      ",\n" +
      graphSearchCtesOver(qv, "lb", "edges",
        s"SELECT query_id, node FROM lrb$RepRounds", BaseBeam, BaseRounds)

  /** The incremental-insert replay (no leading WITH): old-corpus split, the
    * old artifact's TWO kNN layers rebuilt from scratch (same rank-then-
    * re-rank derivation as graphCtes, restricted to the old corpus / old
    * reps), both insert-search phases unrolled at beam InsBeam over the OLD
    * layers, then the two grouped re-ranks: `nbase`/`nrep` are the new
    * nodes' out-edges (final beams capped at 2M), `btrim`/`rtrim` the
    * touched neighbors' re-trimmed adjacencies, `iedges`/`iredges` the full
    * incremented layers.
    */
  private def insertCtes: String = {
    val dd = "(cast(a.embedding[i] as double) - cast(b.embedding[i] as double))"
    def knnLayer(pfx: String, corpus: String): String =
      s"""${pfx}knn0 AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    sqrt(list_reduce(list_transform(range(1, ${D + 1}), i -> $dd * $dd), (x, y) -> x + y)) AS dist
         |  FROM $corpus a, $corpus b),
         |${pfx}raw AS MATERIALIZED (SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
         |    FROM ${pfx}knn0) WHERE rank <= ${2 * M + 1}),
         |${pfx}edges AS MATERIALIZED (SELECT * FROM (
         |    SELECT query_id AS src, neighbor_id AS dst, dist,
         |      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS r2
         |    FROM ${pfx}raw WHERE neighbor_id <> query_id) WHERE r2 <= ${2 * M})""".stripMargin
    s"""oldc AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
       |  WHERE ${md5ModCol("cast(vec_id as varchar) || '|gins'", InsMod.toString)} <> 0),
       |newc AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
       |  WHERE ${md5ModCol("cast(vec_id as varchar) || '|gins'", InsMod.toString)} = 0),
       |oreps AS MATERIALIZED (SELECT vec_id, embedding FROM oldc
       |  WHERE ${md5ModCol("cast(vec_id as varchar) || '|grep'", RepMod.toString)} = 0),
       |${knnLayer("ob", "oldc")},
       |${knnLayer("or", "oreps")},
       |oent AS (SELECT vec_id AS node FROM oreps
       |  ORDER BY md5('gentry|' || cast(vec_id as varchar)), vec_id LIMIT $GraphEntries),
       |nq AS MATERIALIZED (SELECT vec_id AS query_id, embedding AS qe FROM newc),
       |""".stripMargin +
      graphSearchCtesOver("nq", "ir", "oredges",
        "SELECT q.query_id, e.node FROM nq q, oent e", InsBeam, RepRounds) +
      ",\n" +
      graphSearchCtesOver("nq", "ib", "obedges",
        s"SELECT query_id, node FROM irb$RepRounds", InsBeam, BaseRounds) +
      ",\n" +
      s"""nbase AS MATERIALIZED (SELECT query_id AS src, node AS dst, dist FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, node) AS rn
         |    FROM ibb$BaseRounds) WHERE rn <= ${2 * M}),
         |btouch AS (SELECT DISTINCT dst AS src FROM nbase),
         |btrim AS MATERIALIZED (SELECT src, dst, dist FROM (
         |    SELECT u.src, u.dst, u.dist,
         |      row_number() OVER (PARTITION BY u.src ORDER BY u.dist, u.dst) AS rn
         |    FROM (SELECT e.src, e.dst, e.dist FROM obedges e JOIN btouch t ON e.src = t.src
         |          UNION ALL
         |          SELECT n.dst AS src, n.src AS dst, n.dist FROM nbase n) u)
         |  WHERE rn <= ${2 * M}),
         |nrq AS (SELECT vec_id FROM newc
         |  WHERE ${md5ModCol("cast(vec_id as varchar) || '|grep'", RepMod.toString)} = 0),
         |nrep AS MATERIALIZED (SELECT query_id AS src, node AS dst, dist FROM (
         |    SELECT b.query_id, b.node, b.dist,
         |      row_number() OVER (PARTITION BY b.query_id ORDER BY b.dist, b.node) AS rn
         |    FROM irb$RepRounds b JOIN nrq ON nrq.vec_id = b.query_id)
         |  WHERE rn <= ${2 * M}),
         |rtouch AS (SELECT DISTINCT dst AS src FROM nrep),
         |rtrim AS MATERIALIZED (SELECT src, dst, dist FROM (
         |    SELECT u.src, u.dst, u.dist,
         |      row_number() OVER (PARTITION BY u.src ORDER BY u.dist, u.dst) AS rn
         |    FROM (SELECT e.src, e.dst, e.dist FROM oredges e JOIN rtouch t ON e.src = t.src
         |          UNION ALL
         |          SELECT n.dst AS src, n.src AS dst, n.dist FROM nrep n) u)
         |  WHERE rn <= ${2 * M}),
         |iedges AS MATERIALIZED (
         |  SELECT e.src, e.dst, e.dist FROM obedges e
         |    LEFT JOIN btouch t ON e.src = t.src WHERE t.src IS NULL
         |  UNION ALL SELECT src, dst, dist FROM btrim
         |  UNION ALL SELECT src, dst, dist FROM nbase),
         |iredges AS MATERIALIZED (
         |  SELECT e.src, e.dst, e.dist FROM oredges e
         |    LEFT JOIN rtouch t ON e.src = t.src WHERE t.src IS NULL
         |  UNION ALL SELECT src, dst, dist FROM rtrim
         |  UNION ALL SELECT src, dst, dist FROM nrep)""".stripMargin
  }

  /** The chained BUILD replay (no leading WITH): chunk membership (keyed
    * md5-mod `|gbld`), the seed chunk's two exact kNN layers (same
    * rank-then-re-rank derivation as graphCtes, restricted to chunk 0),
    * then ONE FULL INSERT REPLAY PER LATER CHUNK — each step's unrolled
    * searches run over the PREVIOUS step's layers, its entry sample over
    * the accumulated old corpus' reps, exactly the engine chain
    * (KnnGraph.buildByInsertion). Emits bbase$c/brep$c per step; the last
    * pair is the built artifact.
    */
  /** One NN-descent round over `edgesCte`, in SQL — KnnGraph.refine's
    * exact arithmetic: reverse lists capped per node at 2M by (dist, id),
    * the (src,dst)-deduped undirected neighborhood capped at 4M, the
    * local join (u and w both adjacent to a pivot, either direction),
    * fold-L2 scoring of the new pairs only, per-src top-2M over
    * {current ∪ scored}. Emits rfrev/rfund/rfnew/rfined.
    */
  private def refineCtes(edgesCte: String): String = {
    val dd = "(cast(a.embedding[i] as double) - cast(b.embedding[i] as double))"
    val m = 2 * M
    s"""rfrev AS (SELECT dst AS src, src AS dst, dist FROM (
       |    SELECT src, dst, dist,
       |      row_number() OVER (PARTITION BY dst ORDER BY dist, src) AS rn
       |    FROM $edgesCte) WHERE rn <= $m),
       |rfund AS MATERIALIZED (SELECT src, dst FROM (
       |    SELECT src, dst,
       |      row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
       |    FROM (SELECT src, dst, min(dist) AS dist FROM (
       |        SELECT src, dst, dist FROM $edgesCte
       |        UNION ALL SELECT src, dst, dist FROM rfrev) GROUP BY 1, 2))
       |  WHERE rn <= ${2 * m}),
       |rfnew AS (SELECT c.src, c.dst,
       |    sqrt(list_reduce(list_transform(range(1, ${D + 1}), i -> $dd * $dd), (x, y) -> x + y)) AS dist
       |  FROM (SELECT DISTINCT l.src AS src, r.dst AS dst
       |      FROM rfund l JOIN rfund r ON r.src = l.dst WHERE r.dst <> l.src
       |      EXCEPT SELECT src, dst FROM $edgesCte) c
       |  JOIN embeddings a ON a.vec_id = c.src
       |  JOIN embeddings b ON b.vec_id = c.dst),
       |rfined AS MATERIALIZED (SELECT src, dst, dist FROM (
       |    SELECT src, dst, dist,
       |      row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
       |    FROM (SELECT src, dst, dist FROM $edgesCte
       |      UNION ALL SELECT src, dst, dist FROM rfnew))
       |  WHERE rn <= $m)""".stripMargin
  }

  private def buildCtes: String = buildCtesFor(
    s"${md5ModCol("cast(vec_id as varchar) || '|gbld'", BuildChunks.toString)}",
    BuildChunks, SeedChunks)

  /** buildCtes parameterized over the CHUNK MEMBERSHIP expression and the
    * (nChunks, seedChunks) split — shared by the md5-chunked batch build
    * (ann_graph_build_incremental) and the vec_id-quartile streaming
    * ingest (q_stream_graph_ingest, whose chunks are the replay's
    * contiguous ntile ranges).
    */
  /** The streaming replay's chunk membership: vec_id-ordered ntile — the
    * exact `((rn − 1) · n) / N` arithmetic multiBatchTableDir splits with.
    */
  private def ingestChunkSql: String =
    s"((row_number() OVER (ORDER BY vec_id) - 1) * $IngestChunks) " +
      "// (SELECT count(*) FROM embeddings)"

  /** The recall-gauge replay tail over a (repCte, baseCte) layer pair —
    * entry sample from the full corpus' reps, the two unrolled layered
    * phases, top-10 vs raw17 — ONE definition shared by the build and
    * ingest recall oracles (their engine sides share graphRecallGauge the
    * same way, so neither half of the gauge can drift copy-by-copy).
    * Requires graphCtes' `raw17` in scope.
    */
  private def recallGaugeCtes(repCte: String, baseCte: String): String =
    s"""yfent AS (SELECT vec_id AS node FROM embeddings
       |  WHERE ${md5ModCol("cast(vec_id as varchar) || '|grep'", RepMod.toString)} = 0
       |  ORDER BY md5('gentry|' || cast(vec_id as varchar)), vec_id LIMIT $GraphEntries),
       |yq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 100),
       |""".stripMargin +
      graphSearchCtesOver("yq", "wr", repCte,
        "SELECT q.query_id, e.node FROM yq q, yfent e", RepBeam, RepRounds) +
      ",\n" +
      graphSearchCtesOver("yq", "wb", baseCte,
        s"SELECT query_id, node FROM wrb$RepRounds", BaseBeam, BaseRounds) +
      ",\n" +
      s"""wk AS (SELECT query_id, node AS neighbor_id FROM (
         |    SELECT query_id, node,
         |      row_number() OVER (PARTITION BY query_id ORDER BY dist, node) AS rn
         |    FROM wbb$BaseRounds) WHERE rn <= 10),
         |wbk AS (SELECT query_id, neighbor_id FROM raw17 WHERE query_id < 100 AND rank <= 10)
         |SELECT b.query_id, cast(count(i.neighbor_id) as bigint) AS n_hit,
         |  cast(count(i.neighbor_id) as double) / count(*) AS recall
         |FROM wbk b LEFT JOIN wk i
         |  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
         |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin

  private def buildCtesFor(chunkSql: String, nChunks: Int,
                           seedChunks: Int): String = {
    val dd = "(cast(a.embedding[i] as double) - cast(b.embedding[i] as double))"
    def knnLayer(pfx: String, corpus: String): String =
      s"""${pfx}knn0 AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    sqrt(list_reduce(list_transform(range(1, ${D + 1}), i -> $dd * $dd), (x, y) -> x + y)) AS dist
         |  FROM $corpus a, $corpus b),
         |${pfx}raw AS MATERIALIZED (SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
         |    FROM ${pfx}knn0) WHERE rank <= ${2 * M + 1}),
         |${pfx}edges AS MATERIALIZED (SELECT * FROM (
         |    SELECT query_id AS src, neighbor_id AS dst, dist,
         |      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS r2
         |    FROM ${pfx}raw WHERE neighbor_id <> query_id) WHERE r2 <= ${2 * M})""".stripMargin
    def step(c: Int, prevBase: String, prevRep: String): String =
      s"""bold$c AS MATERIALIZED (SELECT vec_id, embedding FROM bch WHERE ck < $c),
         |bnew$c AS MATERIALIZED (SELECT vec_id, embedding FROM bch WHERE ck = $c),
         |bent$c AS (SELECT vec_id AS node FROM bold$c
         |  WHERE ${md5ModCol("cast(vec_id as varchar) || '|grep'", RepMod.toString)} = 0
         |  ORDER BY md5('gentry|' || cast(vec_id as varchar)), vec_id LIMIT $GraphEntries),
         |bq$c AS MATERIALIZED (SELECT vec_id AS query_id, embedding AS qe FROM bnew$c),
         |""".stripMargin +
        graphSearchCtesOver(s"bq$c", s"xr$c", prevRep,
          s"SELECT q.query_id, e.node FROM bq$c q, bent$c e", BuildBeam, RepRounds) +
        ",\n" +
        graphSearchCtesOver(s"bq$c", s"xb$c", prevBase,
          s"SELECT query_id, node FROM xr${c}b$RepRounds", BuildBeam, BaseRounds) +
        ",\n" +
        s"""bnb$c AS MATERIALIZED (SELECT query_id AS src, node AS dst, dist FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, node) AS rn
           |    FROM xb${c}b$BaseRounds) WHERE rn <= ${2 * M}),
           |bbt$c AS (SELECT DISTINCT dst AS src FROM bnb$c),
           |bbtr$c AS MATERIALIZED (SELECT src, dst, dist FROM (
           |    SELECT u.src, u.dst, u.dist,
           |      row_number() OVER (PARTITION BY u.src ORDER BY u.dist, u.dst) AS rn
           |    FROM (SELECT e.src, e.dst, e.dist FROM $prevBase e JOIN bbt$c t ON e.src = t.src
           |          UNION ALL
           |          SELECT n.dst AS src, n.src AS dst, n.dist FROM bnb$c n) u)
           |  WHERE rn <= ${2 * M}),
           |bnrq$c AS (SELECT vec_id FROM bnew$c
           |  WHERE ${md5ModCol("cast(vec_id as varchar) || '|grep'", RepMod.toString)} = 0),
           |bnr$c AS MATERIALIZED (SELECT query_id AS src, node AS dst, dist FROM (
           |    SELECT b.query_id, b.node, b.dist,
           |      row_number() OVER (PARTITION BY b.query_id ORDER BY b.dist, b.node) AS rn
           |    FROM xr${c}b$RepRounds b JOIN bnrq$c r ON r.vec_id = b.query_id)
           |  WHERE rn <= ${2 * M}),
           |brt$c AS (SELECT DISTINCT dst AS src FROM bnr$c),
           |brtr$c AS MATERIALIZED (SELECT src, dst, dist FROM (
           |    SELECT u.src, u.dst, u.dist,
           |      row_number() OVER (PARTITION BY u.src ORDER BY u.dist, u.dst) AS rn
           |    FROM (SELECT e.src, e.dst, e.dist FROM $prevRep e JOIN brt$c t ON e.src = t.src
           |          UNION ALL
           |          SELECT n.dst AS src, n.src AS dst, n.dist FROM bnr$c n) u)
           |  WHERE rn <= ${2 * M}),
           |bbase$c AS MATERIALIZED (
           |  SELECT e.src, e.dst, e.dist FROM $prevBase e
           |    LEFT JOIN bbt$c t ON e.src = t.src WHERE t.src IS NULL
           |  UNION ALL SELECT src, dst, dist FROM bbtr$c
           |  UNION ALL SELECT src, dst, dist FROM bnb$c),
           |brep$c AS MATERIALIZED (
           |  SELECT e.src, e.dst, e.dist FROM $prevRep e
           |    LEFT JOIN brt$c t ON e.src = t.src WHERE t.src IS NULL
           |  UNION ALL SELECT src, dst, dist FROM brtr$c
           |  UNION ALL SELECT src, dst, dist FROM bnr$c)""".stripMargin
    val head =
      s"""bch AS MATERIALIZED (SELECT vec_id, embedding,
         |    $chunkSql AS ck
         |  FROM embeddings),
         |bc0 AS MATERIALIZED (SELECT vec_id, embedding FROM bch WHERE ck < $seedChunks),
         |br0 AS MATERIALIZED (SELECT vec_id, embedding FROM bc0
         |  WHERE ${md5ModCol("cast(vec_id as varchar) || '|grep'", RepMod.toString)} = 0),
         |${knnLayer("yb", "bc0")},
         |${knnLayer("yr", "br0")}""".stripMargin
    val steps = (seedChunks until nChunks).map { c =>
      step(c, if (c == seedChunks) "ybedges" else s"bbase${c - 1}",
        if (c == seedChunks) "yredges" else s"brep${c - 1}")
    }
    (head +: steps).mkString(",\n")
  }

  /** The incremental-delete replay (no leading WITH; requires graphCtes'
    * `edges` and repLayerCtes' `reps`/`redges` in scope): victims from the
    * keyed md5-mod slice, then the closed-form repair per layer — kept
    * edges (both endpoints survive), the (loser, victim) in-edge set, the
    * victims' surviving out-neighbors as inherited candidates (self and
    * already-adjacent pairs excluded), fresh fold-L2 scores, grouped
    * re-trim to 2M. Emits db- and dr-prefixed chains; `dbedges2` and
    * `dredges2` are the repaired layers, `dbtrim`/`drtrim` the re-trimmed
    * lists.
    */
  private def deleteCtes: String = {
    val dd = "(cast(a.embedding[i] as double) - cast(b.embedding[i] as double))"
    def layer(pfx: String, edgesCte: String, victCte: String): String =
      s"""${pfx}keep AS MATERIALIZED (SELECT e.src, e.dst, e.dist FROM $edgesCte e
         |  LEFT JOIN $victCte v1 ON e.src = v1.node
         |  LEFT JOIN $victCte v2 ON e.dst = v2.node
         |  WHERE v1.node IS NULL AND v2.node IS NULL),
         |${pfx}lost AS (SELECT e.src, e.dst AS vv FROM $edgesCte e
         |  JOIN $victCte v ON e.dst = v.node
         |  LEFT JOIN $victCte v1 ON e.src = v1.node WHERE v1.node IS NULL),
         |${pfx}vadj AS (SELECT e.src AS vv, e.dst AS cand FROM $edgesCte e
         |  JOIN $victCte v ON e.src = v.node
         |  LEFT JOIN $victCte v2 ON e.dst = v2.node WHERE v2.node IS NULL),
         |${pfx}cand AS (SELECT DISTINCT l.src, a.cand FROM ${pfx}lost l
         |  JOIN ${pfx}vadj a ON l.vv = a.vv
         |  LEFT JOIN ${pfx}keep k ON k.src = l.src AND k.dst = a.cand
         |  WHERE a.cand <> l.src AND k.src IS NULL),
         |${pfx}scored AS (SELECT c.src, c.cand AS dst,
         |    sqrt(list_reduce(list_transform(range(1, ${D + 1}), i -> $dd * $dd), (x, y) -> x + y)) AS dist
         |  FROM ${pfx}cand c JOIN embeddings a ON a.vec_id = c.src
         |  JOIN embeddings b ON b.vec_id = c.cand),
         |${pfx}touch AS (SELECT DISTINCT src FROM ${pfx}lost),
         |${pfx}trim AS MATERIALIZED (SELECT src, dst, dist FROM (
         |    SELECT u.src, u.dst, u.dist,
         |      row_number() OVER (PARTITION BY u.src ORDER BY u.dist, u.dst) AS rn
         |    FROM (SELECT k.src, k.dst, k.dist FROM ${pfx}keep k JOIN ${pfx}touch t ON k.src = t.src
         |          UNION ALL SELECT src, dst, dist FROM ${pfx}scored) u) WHERE rn <= ${2 * M}),
         |${pfx}edges2 AS MATERIALIZED (
         |  SELECT k.src, k.dst, k.dist FROM ${pfx}keep k
         |    LEFT JOIN ${pfx}touch t ON k.src = t.src WHERE t.src IS NULL
         |  UNION ALL SELECT src, dst, dist FROM ${pfx}trim)""".stripMargin
    s"""dvict AS MATERIALIZED (SELECT vec_id AS node FROM embeddings
       |  WHERE ${md5ModCol("cast(vec_id as varchar) || '|gdel'", DelMod.toString)} = 0),
       |rvict AS (SELECT r.vec_id AS node FROM reps r JOIN dvict v ON r.vec_id = v.node),
       |${layer("db", "edges", "dvict")},
       |${layer("dr", "redges", "rvict")}""".stripMargin
  }

  /** PQ codebook + assignment CTEs (embed_pq's semantics): `cb` = the 16
    * keyed-md5 sample rows with code = sample rank, `best` = per-(vec_id,
    * subspace u) fold-L2 argmin code (ties to the lower code).
    */
  private def pqCtes: String =
    """cb AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS code, embedding FROM (
      |    SELECT md5('pq|' || cast(vec_id as varchar)) AS h, vec_id, embedding
      |    FROM embeddings ORDER BY h, vec_id LIMIT 16)),
      |su AS (SELECT unnest(range(0, 8)) AS u),
      |scored AS (SELECT e.vec_id, s.u, c.code,
      |    list_reduce(list_transform(range(1, 9), j ->
      |      (cast(e.embedding[s.u * 8 + j] as double) - cast(c.embedding[s.u * 8 + j] as double))
      |      * (cast(e.embedding[s.u * 8 + j] as double) - cast(c.embedding[s.u * 8 + j] as double))),
      |      (x, y) -> x + y) AS d2
      |  FROM embeddings e, su s, cb c),
      |best AS (SELECT vec_id, u, code FROM (
      |    SELECT vec_id, u, code,
      |      row_number() OVER (PARTITION BY vec_id, u ORDER BY d2, code) AS rn
      |    FROM scored) WHERE rn = 1)""".stripMargin

  /** PQ reconstruction CTE: per vec_id, the 64-float list stitched from the
    * assigned codewords' subvectors (u ASC keeps element order).
    */
  private def pqReconCtes: String =
    """rec AS (SELECT b.vec_id,
      |    flatten(list(c.embedding[b.u * 8 + 1 : b.u * 8 + 8] ORDER BY b.u)) AS re
      |  FROM best b JOIN cb c ON c.code = b.code GROUP BY b.vec_id)""".stripMargin

  /** The IVFADC trained-index replay (expects `cent`/`nrm`/`asg` from
    * ivfIndexCtes in scope; no leading WITH) — the SQL mirror of
    * ivfAdcIndex + ivfAdcSearch's encoding:
    *   cstat/cent1: one coarse Lloyd step — per-(cluster, dim)
    *     integer-micros sums over the sampled-centroid assignment, mean
    *     float32-cast; empty cells (duplicate sample vectors only) keep
    *     their init point via the LEFT JOIN coalesce;
    *   asg1/probe1: corpus assignment + query probe vs the REFINED cells;
    *   rcb/rcbr0: residual codebook init — the "pqres" keyed sample's
    *     residuals vs their own refined cell (exact doubles);
    *   rstat/rcb1: one codebook Lloyd step — per-(subspace, code, dim)
    *     micros means of the residuals each init codeword wins;
    *   rbest/arec: final per-(vector, subspace) argmin (ties to the lower
    *     code) and reconstruction centroid + codeword, float32-cast per
    *     element (the lane the engine's .toFloat shares).
    */
  private def ivfAdcCtes: String =
    s"""rsu AS (SELECT unnest(range(0, 8)) AS u),
       |cstat AS (SELECT a.cluster, j.range AS j,
       |    cast(sum(cast(floor(cast(a.embedding[j.range] as double) * 1000000.0 + 0.5) as bigint)) as bigint) AS m,
       |    count(*) AS n
       |  FROM asg a, range(1, ${D + 1}) j GROUP BY 1, 2),
       |cent1 AS MATERIALIZED (SELECT c0.cluster, list(coalesce(
       |      cast(cast((cast(s.m as double) / s.n) / 1000000.0 as real) as double),
       |      cast(c0.embedding[j.range] as double)) ORDER BY j.range) AS embedding
       |  FROM cent c0 CROSS JOIN range(1, ${D + 1}) j
       |    LEFT JOIN cstat s ON s.cluster = c0.cluster AND s.j = j.range
       |  GROUP BY c0.cluster),
       |asg1 AS MATERIALIZED (SELECT vec_id, embedding, sq, cluster FROM (
       |    SELECT e.vec_id, e.embedding, e.sq, c.cluster,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${l2sqSql("e.embedding", "c.embedding")}, c.cluster) AS rn
       |    FROM nrm e, cent1 c) WHERE rn = 1),
       |probe1 AS (SELECT query_id, qe, qsq, cluster FROM (
       |    SELECT e.vec_id AS query_id, e.embedding AS qe, e.sq AS qsq, c.cluster,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${l2sqSql("e.embedding", "c.embedding")}, c.cluster) AS rn
       |    FROM nrm e, cent1 c WHERE e.vec_id < 100) WHERE rn <= 4),
       |rcb AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS code, vec_id, embedding FROM (
       |    SELECT md5('pqres|' || cast(vec_id as varchar)) AS h, vec_id, embedding
       |    FROM embeddings ORDER BY h, vec_id LIMIT 16)),
       |rcbr0 AS (SELECT r.code, list_transform(range(1, ${D + 1}), i ->
       |      cast(r.embedding[i] as double) - c.embedding[i]) AS re
       |  FROM rcb r JOIN asg1 a ON a.vec_id = r.vec_id JOIN cent1 c ON c.cluster = a.cluster),
       |rsd AS MATERIALIZED (SELECT a.vec_id, a.cluster, list_transform(range(1, ${D + 1}), i ->
       |      cast(a.embedding[i] as double) - c.embedding[i]) AS rv
       |  FROM asg1 a JOIN cent1 c ON c.cluster = a.cluster),
       |rbest0 AS (SELECT vec_id, u, code FROM (
       |    SELECT v.vec_id, s.u, b.code,
       |      row_number() OVER (PARTITION BY v.vec_id, s.u ORDER BY
       |        list_reduce(list_transform(range(1, 9), j ->
       |          (v.rv[s.u * 8 + j] - b.re[s.u * 8 + j]) * (v.rv[s.u * 8 + j] - b.re[s.u * 8 + j])),
       |          (x, y) -> x + y), b.code) AS rn
       |    FROM rsd v, rsu s, rcbr0 b) WHERE rn = 1),
       |rstat AS (SELECT b.u, b.code, j.range AS j,
       |    cast(sum(cast(floor(v.rv[b.u * 8 + j.range] * 1000000.0 + 0.5) as bigint)) as bigint) AS m,
       |    count(*) AS n
       |  FROM rbest0 b JOIN rsd v ON v.vec_id = b.vec_id, range(1, 9) j
       |  GROUP BY 1, 2, 3),
       |rcb1 AS MATERIALIZED (SELECT s.u, r0.code, list(coalesce(
       |      (cast(t.m as double) / t.n) / 1000000.0,
       |      r0.re[s.u * 8 + j.range]) ORDER BY j.range) AS cw
       |  FROM rcbr0 r0 CROSS JOIN rsu s CROSS JOIN range(1, 9) j
       |    LEFT JOIN rstat t ON t.u = s.u AND t.code = r0.code AND t.j = j.range
       |  GROUP BY s.u, r0.code),
       |rbest AS (SELECT vec_id, u, code FROM (
       |    SELECT v.vec_id, b.u, b.code,
       |      row_number() OVER (PARTITION BY v.vec_id, b.u ORDER BY
       |        list_reduce(list_transform(range(1, 9), j ->
       |          (v.rv[b.u * 8 + j] - b.cw[j]) * (v.rv[b.u * 8 + j] - b.cw[j])),
       |          (x, y) -> x + y), b.code) AS rn
       |    FROM rsd v, rcb1 b) WHERE rn = 1),
       |arec AS (SELECT b.vec_id,
       |    flatten(list(list_transform(range(1, 9), j -> cast(cast(
       |        c.embedding[b.u * 8 + j] + r.cw[j] as real) as double))
       |      ORDER BY b.u)) AS re
       |  FROM rbest b JOIN rcb1 r ON r.u = b.u AND r.code = b.code
       |    JOIN rsd v ON v.vec_id = b.vec_id JOIN cent1 c ON c.cluster = v.cluster
       |  GROUP BY b.vec_id)""".stripMargin

  /** The probed asymmetric-cosine scoring of reconstruction frame `arec`
    * over the refined probe/assignment (probe1/asg1 from ivfAdcCtes):
    * candidates = probed inverted lists, score = fold-cosine(query,
    * reconstruction). No leading WITH; emits CTE `acand`.
    */
  private def ivfAdcCandCte: String =
    s"""arsq AS (SELECT r.vec_id, r.re,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
       |      i -> r.re[i] * r.re[i])), (acc, x) -> acc + x) AS sq
       |  FROM arec r),
       |acand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    CASE WHEN sqrt(p.qsq) * sqrt(r.sq) = 0 THEN 0.0 ELSE
       |      list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
       |        i -> cast(p.qe[i] as double) * r.re[i])), (acc, x) -> acc + x)
       |      / (sqrt(p.qsq) * sqrt(r.sq)) END AS score
       |  FROM probe1 p JOIN asg1 a ON p.cluster = a.cluster JOIN arsq r ON r.vec_id = a.vec_id)""".stripMargin

  /** The ADC distance: fold-L2 between query `q.embedding` and
    * reconstruction `r.re`, the bit-exact mirror of Knn.exact's fold kernel.
    */
  private def pqAdcDist(q: String, r: String): String =
    s"sqrt(list_reduce(list_transform(range(1, ${D + 1}), i -> " +
      s"(cast($q.embedding[i] as double) - cast($r.re[i] as double)) * " +
      s"(cast($q.embedding[i] as double) - cast($r.re[i] as double))), (x, y) -> x + y))"

  /** Horner fold of md5(expr) modulo a possibly COLUMN modulus (the bit
    * position's span is row-dependent) — full-128-bit semantics as md5ModSql.
    */
  private def md5ModCol(expr: String, m: String): String =
    s"list_reduce(list_transform(string_split(md5($expr), ''), " +
      s"c -> strpos('0123456789abcdef', c) - 1), (a, b) -> (a * 16 + b) % ($m))"

  /** CTE fragment (no leading WITH) replaying the ENTIRE RS embed pipeline of
    * Bits/Tvp in closed-form SQL — the decimal-binary codec needs no string
    * loop because for float32-derived values every quantity is exact double
    * arithmetic:
    *   fraction bit j     = trunc(frac·2^j) mod 2            (exact: the
    *     float32 mantissa spans ≤24 bits, so frac·2^j is an exact double)
    *   fraction length e  = min j with frac·2^j integral     (the Python
    *     expansion loop stops at the lowest set bit)
    *   binRep length      = intlen + 1 + e  (integer values: ".0" ⇒ e=1)
    *   flipped value      = v ± 2^±k  then float32 cast      (re-summing the
    *     bit string left-to-right is exact inside the 24-bit window)
    * Produces CTEs: wcls (per-row pos/oldbit/hidden_bit/group_id), wneeds,
    * wcarriers (keyed-hash ranked, rn ≤ need), wmvals (carrier dim + new
    * float32 value), wemb (the watermarked table). Mirrors classify →
    * groupNeeds → carriersRs → applyEmbed bit-for-bit.
    */
  private def rsCodecCtes: String =
    s"""$rsCodecPrefix,
       |${rsCarrierCtes(Strength, "")},
       |wemb AS (SELECT e.vec_id,
       |    CASE WHEN w.vec_id IS NULL THEN e.embedding
       |      ELSE list_transform(range(1, ${D + 1}),
       |             i -> CASE WHEN i = w.pos + 1 THEN w.newv ELSE e.embedding[i] END)
       |    END AS embedding
       |  FROM embeddings e LEFT JOIN wmvals w ON e.vec_id = w.vec_id)""".stripMargin

  /** TVP carrier candidates + their ai-descending rank — th-INdependent
    * (mirrors Tvp.carriersAi's `cand`/`ranked`). Requires graphCtes' `ai`
    * and the codec chain's `wcls`/`wneeds`.
    */
  private def tvpCandCtes: String =
    s"""tcand AS (SELECT c.vec_id, c.group_id, c.pos, c.oldbit, c.v, c.bp, c.intlen, c.frac, c.ip,
       |    n.wm_bit, n.need, n.n_cand, a.ai
       |  FROM wcls c
       |  JOIN wneeds n ON c.group_id = n.group_id
       |    AND cast((c.oldbit + c.pos) % 2 as int) <> n.wm_bit
       |  JOIN ai a ON a.vec_id = c.vec_id),
       |tranked AS MATERIALIZED (SELECT *, row_number() OVER (PARTITION BY group_id ORDER BY ai DESC, vec_id) AS rn_ai
       |  FROM tcand)""".stripMargin

  /** The th-dependent tail of the TVP selection: rank-threshold row (absent →
    * −inf, Tvp.carriersAi:92–96), qualification split, vec_id-order pick and
    * ai-order backfill. `sfx`-suffixed so one shared `tranked` serves a whole
    * THRESHOLD sweep.
    */
  private def tvpThCtes(th: Double, sfx: String): String =
    s"""tthr$sfx AS (SELECT group_id AS tg, ai AS thr_ai FROM tranked
       |  WHERE rn_ai = cast(trunc(n_cand * $th) as bigint)),
       |twt$sfx AS (SELECT * FROM tranked LEFT JOIN tthr$sfx ON group_id = tg),
       |tw2$sfx AS (SELECT *, (thr_ai IS NULL OR ai >= thr_ai) AS qual FROM twt$sfx),
       |tnq$sfx AS (SELECT group_id AS ng, count(*) AS n_qual FROM tw2$sfx WHERE qual GROUP BY 1),
       |tw3$sfx AS (SELECT *, coalesce(n_qual, 0) AS nq,
       |    row_number() OVER (PARTITION BY group_id, qual ORDER BY vec_id) AS rn1,
       |    row_number() OVER (PARTITION BY group_id, qual ORDER BY ai DESC, vec_id) AS rn2
       |  FROM tw2$sfx LEFT JOIN tnq$sfx ON group_id = ng),
       |tcarriers$sfx AS MATERIALIZED (SELECT * FROM tw3$sfx
       |  WHERE (qual AND rn1 <= need) OR ((NOT qual) AND rn2 <= need - least(need, nq)))""".stripMargin

  /** Parameterized classification chain — content id, keyed dim walk,
    * float-codec bit read, group id — over ANY (vec_id, embedding) relation
    * `src`. CTE names are `${pfx}base`, `${pfx}p0..p11`, `${pfx}geo..geo6`,
    * `${pfx}cls`; with pfx="w" and src="embeddings" it reproduces the
    * historical codec-prefix names, and other prefixes let the robustness-
    * grid oracle classify attack-modified/inserted embeddings with the same
    * replayed arithmetic.
    */
  private def classifyCtes(src: String, pfx: String, wm: String = WM): String = {
    val allDims  = dims.mkString(", ")
    val skipChain = (0 until 11).map { i =>
      s"${pfx}p${i + 1} AS (SELECT * REPLACE (CASE WHEN pos IN ($allDims) THEN (pos + 1) % $D ELSE pos END AS pos) FROM ${pfx}p$i)"
    }.mkString(",\n")
    s"""${pfx}base AS (SELECT vec_id, embedding, ${cidSql(dims.init.toSeq, key.scale)} AS cid FROM $src),
       |${pfx}p0 AS (SELECT *, cast(${md5ModCol("cid", D.toString)} as int) AS pos FROM ${pfx}base),
       |$skipChain,
       |${pfx}geo AS (SELECT *, abs(cast(embedding[pos + 1] as double)) AS v FROM ${pfx}p11),
       |${pfx}geo2 AS (SELECT *, trunc(v) AS ip, v - trunc(v) AS frac, (v = trunc(v)) AS isint,
       |    length(format('{:b}', cast(trunc(v) as bigint))) AS intlen FROM ${pfx}geo),
       |${pfx}geo3 AS (SELECT *, CASE WHEN isint THEN 1 ELSE
       |      list_min(list_filter(range(1, 200), j -> frac * pow(2.0, j) = trunc(frac * pow(2.0, j)))) END AS e
       |  FROM ${pfx}geo2),
       |${pfx}geo4 AS (SELECT *, intlen + e AS lenbin,
       |    cast(trunc((intlen + e) * 0.5) as bigint) AS minpos,
       |    (intlen + e) - cast(trunc((intlen + e) * 0.5) as bigint) AS span FROM ${pfx}geo3),
       |${pfx}geo5 AS (SELECT *, ${md5ModCol("cid", "span")} + minpos AS bp0 FROM ${pfx}geo4),
       |${pfx}geo6 AS (SELECT *, CASE WHEN bp0 = intlen THEN bp0 - 1 ELSE bp0 END AS bp FROM ${pfx}geo5),
       |${pfx}cls AS (SELECT *,
       |    CASE WHEN bp < intlen THEN cast(trunc(ip / pow(2.0, intlen - 1 - bp)) as bigint) % 2
       |         ELSE cast(trunc(frac * pow(2.0, bp - intlen)) as bigint) % 2 END AS oldbit,
       |    cast(${md5ModSql("cid", wm.length)} as int) AS group_id
       |  FROM ${pfx}geo6)""".stripMargin
  }

  /** The strength-INdependent head of the codec replay: classification
    * (classifyCtes over the raw table) and per-group occupancy stats. Ends
    * at `wgstat`; see rsCarrierCtes for the tail.
    */
  private def rsCodecPrefix: String =
    s"""${classifyCtes("embeddings", "w")},
       |wbits(bit_pos, wm_bit) AS (VALUES $bitsValuesSql),
       |wgstat AS (SELECT group_id, count(*) AS n_group, sum((oldbit + pos) % 2) AS n_one
       |  FROM wcls GROUP BY 1)""".stripMargin

  /** The strength-dependent tail of the codec replay — deficit, keyed carrier
    * ranking, and the flipped float32 values — with `sfx`-suffixed CTE names
    * so one shared `wcls`/`wgstat` prefix can serve a whole STRENGTH sweep
    * (only these four CTEs vary with strength).
    */
  private def rsCarrierCtes(strength: Double, sfx: String,
                            seed: String = key.seed): String =
    s"""wneeds$sfx AS (SELECT g.group_id, b.wm_bit,
       |    least(greatest(0, cast(ceil(g.n_group * $strength) as bigint) -
       |        (CASE WHEN b.wm_bit = 1 THEN g.n_one ELSE g.n_group - g.n_one END)),
       |      g.n_group - (CASE WHEN b.wm_bit = 1 THEN g.n_one ELSE g.n_group - g.n_one END)) AS need,
       |    g.n_group - (CASE WHEN b.wm_bit = 1 THEN g.n_one ELSE g.n_group - g.n_one END) AS n_cand
       |  FROM wgstat g JOIN wbits b ON g.group_id = b.bit_pos),
       |wcand$sfx AS (SELECT c.*, n.wm_bit, n.need,
       |    row_number() OVER (PARTITION BY c.group_id
       |      ORDER BY md5(cast(c.vec_id as varchar) || '#rs#$seed'), c.vec_id) AS rn
       |  FROM wcls c JOIN wneeds$sfx n
       |    ON c.group_id = n.group_id AND cast((c.oldbit + c.pos) % 2 as int) <> n.wm_bit),
       |wcarriers$sfx AS (SELECT * FROM wcand$sfx WHERE rn <= need),
       |wmvals$sfx AS (SELECT vec_id, pos, group_id, wm_bit,
       |    cast(v + ((wm_bit + pos) % 2 - oldbit) *
       |      (CASE WHEN bp < intlen THEN pow(2.0, intlen - 1 - bp)
       |            ELSE pow(2.0, -(bp - intlen)) END) as real) AS newv
       |  FROM wcarriers$sfx)""".stripMargin

  /** The watermark message as a DuckDB VALUES list: (bit_pos, wm_bit). */
  private def bitsValuesSql: String = bitsValuesSqlFor(WM)
  private def bitsValuesSqlFor(wm: String): String =
    wm.zipWithIndex.map { case (c, i) => s"($i, ${c.asDigit})" }.mkString(", ")

  /** Blind-extraction oracle for an embed→extract round-trip.
    *
    * The extraction result is SQL-predictable from the RAW table because the
    * schemes guarantee a fixed point: (1) group membership is invariant under
    * embedding — the carrier dims exclude every content-id dim (RS/TVP:
    * applyEmbed skips key dims; SCPW: position=30 ∉ the first-topK id dims) —
    * and (2) with strength > 0.5 the deficit equation (Tvp.groupNeeds) drives
    * every nonempty group's post-embed majority to exactly its wm bit:
    * n_expressing_after = min(max(n_target, ceil(s·n)), n) > n/2. Empty
    * groups read the pre-seeded 0 (watermarking.py:121). So the oracle
    * recomputes group OCCUPANCY from raw data and asserts the engine's full
    * embed→extract chain lands on the theoretical result — a real check of
    * classification parity, carrier accounting, and the majority vote.
    */
  private def roundtripSql(cidExpr: String): String =
    s"""WITH g AS (SELECT ${md5ModSql(cidExpr, WM.length)} AS group_id, count(*) AS n
       |  FROM embeddings GROUP BY 1),
       |bits(bit_pos, wm_bit) AS (VALUES $bitsValuesSql)
       |SELECT cast(bits.bit_pos as bigint) AS bit_pos,
       |  cast(bits.wm_bit as bigint) AS wm_bit,
       |  cast(CASE WHEN coalesce(g.n, 0) > 0 THEN bits.wm_bit ELSE 0 END as bigint) AS extracted_bit
       |FROM bits LEFT JOIN g ON g.group_id = bits.bit_pos
       |ORDER BY bit_pos""".stripMargin

  /** DuckDB mirror of Hashing.gauss: Box–Muller over two keyed md5 uniforms. */
  private def gaussSql(keyExpr: String): String =
    s"(sqrt(-2.0 * ln(1.0 - (cast('0x' || substr(md5($keyExpr || '|u1'), 1, 13) as bigint) / 4503599627370496.0))) " +
      s"* cos(2.0 * pi() * (cast('0x' || substr(md5($keyExpr || '|u2'), 1, 13) as bigint) / 4503599627370496.0)))"

  /** Word n-gram expansion over a `ws` string array column — the DuckDB
    * mirror of Dedup.shingles' per-row transform (consumers add their own
    * DISTINCT / length guard).
    */
  private def ngramSql(n: Int): String = {
    val words = (0 until n).map(j => if (j == 0) "ws[i]" else s"ws[i + $j]").mkString(" || ' ' || ")
    s"list_transform(range(1, len(ws) - ${n - 2}), i -> $words)"
  }

  /** MinHash banded-LSH near-dup pairs replayed over ANY (doc_id, text)
    * relation `src` (Dedup.minhashBands/nearDupPairs): one md5 per distinct
    * shingle reduced mod p, 16 universal-hash lanes with md5-keyed a/b
    * constants, 4 band keys, candidate bucket join, exact set-Jaccard
    * verification at `thr`. Produces CTEs `${p}words..${p}j` and the final
    * `${p}pairs` (a, b, jaccard).
    */
  /** One corpus side of the MinHash replay: shingles, hash family lanes,
    * signatures, band keys — all prefixed `p` so two sides can share one
    * WITH list (the cross-corpus decontamination oracle).
    */
  private def minhashSideCtes(src: String, p: String): String =
    s"""${p}words AS (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
       |${p}sh AS (SELECT DISTINCT doc_id,
       |         unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
       |       FROM ${p}words),
       |${p}shh AS (SELECT doc_id, shingle,
       |          cast('0x' || substr(md5(shingle), 1, 13) as bigint) % ${Dedup.MinhashP} AS hh
       |        FROM ${p}sh),
       |${p}seeds AS (SELECT seed,
       |            ${md5ModCol("'minhash-a|' || cast(seed as varchar)", (Dedup.MinhashP - 1).toString)} + 1 AS a,
       |            ${md5ModCol("'minhash-b|' || cast(seed as varchar)", Dedup.MinhashP.toString)} AS b
       |          FROM (SELECT unnest(range(0, 16)) AS seed)),
       |${p}sigs AS (SELECT doc_id, seed, min((s.a * h.hh + s.b) % ${Dedup.MinhashP}) AS sig
       |         FROM ${p}shh h, ${p}seeds s GROUP BY 1, 2),
       |${p}bk AS (SELECT doc_id, cast(floor(seed / 4.0) as int) AS band,
       |         md5(string_agg(cast(sig as varchar), '|' ORDER BY seed)) AS band_key
       |       FROM ${p}sigs GROUP BY 1, 2)""".stripMargin

  /** Exact-Jaccard verification tail over a candidate CTE `${p}cand`
    * (a, b) and a shingle CTE `shSrc` covering both id spaces.
    */
  private def minhashVerifyCtes(p: String, shSrc: String, thr: Double): String =
    s"""${p}sizes AS (SELECT doc_id, count(*) AS sz FROM $shSrc GROUP BY 1),
       |${p}cm AS (SELECT c.a, c.b, count(*) AS common FROM ${p}cand c
       |       JOIN $shSrc sa ON sa.doc_id = c.a
       |       JOIN $shSrc sb ON sb.doc_id = c.b AND sa.shingle = sb.shingle
       |       GROUP BY 1, 2),
       |${p}j AS (SELECT c.a, c.b, coalesce(cm.common, 0) AS common, za.sz AS sza, zb.sz AS szb
       |      FROM ${p}cand c LEFT JOIN ${p}cm cm ON c.a = cm.a AND c.b = cm.b
       |      JOIN ${p}sizes za ON za.doc_id = c.a JOIN ${p}sizes zb ON zb.doc_id = c.b),
       |${p}pairs AS (SELECT a, b, cast(common as double) / (sza + szb - common) AS jaccard
       |  FROM ${p}j WHERE cast(common as double) / (sza + szb - common) >= $thr)""".stripMargin

  private def minhashPairsCtes(src: String, p: String, thr: Double): String =
    s"""${minhashSideCtes(src, p)},
       |${p}cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM ${p}bk x JOIN ${p}bk y
       |         ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
       |${minhashVerifyCtes(p, s"${p}sh", thr)}""".stripMargin

  /** Scpw.microsRender(v) as varchar — the integer rendering the SCPW value
    * hash keys on (Scpw.hiddenBit). Exact on both engines by construction.
    */
  private def scpwMicrosSql(v: String): String =
    s"cast(cast(floor(cast($v as double) * 1000000.0 + 0.5) as bigint) as varchar)"

  /** SCPW classification replay (Scpw.classify, SCPW.py:130–169) over ANY
    * (vec_id, embedding) relation `src` — content id over the FIRST topK
    * dims, md5 group, micros-rendered value-hash hidden bit. No codec chain
    * needed (unlike classifyCtes): SCPW reads no binary expansion. Produces
    * `${pfx}b` / `${pfx}g` / `${pfx}cls` (vec_id, embedding, cid, group_id,
    * pos, hb).
    */
  private def scpwClassifySql(src: String, pfx: String): String =
    s"""${pfx}b AS (SELECT vec_id, embedding,
       |    ${cidSql(0 until scpwKey.topK, scpwKey.scale)} AS cid FROM $src),
       |${pfx}g AS (SELECT *, cast(${md5ModSql("cid", WM.length)} as int) AS group_id,
       |    ${md5ModSql("cid", D)} AS pos FROM ${pfx}b),
       |${pfx}cls AS (SELECT *, cast((${md5ModSql(scpwMicrosSql(s"embedding[${scpwKey.position + 1}]"), 2)} + pos % 2) % 2 as int) AS hb
       |  FROM ${pfx}g)""".stripMargin

  /** The SCPW embed replayed in SQL (Scpw.embed): raw classification
    * (scpwClassifySql) → deficit + keyed carrier ranking → the
    * rejection-resample embed as a RECURSIVE CTE (each step re-adds one
    * keyed correlated-noise draw e = kx·x + k1·u + k2 in float32 until the
    * vector expresses its target bit, cap 64 — SCPW.py:216–223), noise
    * constants from the exact integer-nanos stats (Scpw.noiseParams), the
    * bounded keyed-stride pool. Produces scls (raw classification), scarr
    * (carriers) and `semb` (the watermarked table); callers must open WITH
    * RECURSIVE and define `wbits` first.
    */
  private def scpwEmbedCtes(strength: Double): String = {
    val sseed = scpwKey.seed
    val stdE  = scpwKey.stdE
    val vpos1 = scpwKey.position + 1
    // one rejection step: v' = float32(v + (kx·pool[idx(t)] + k1·gauss(t) + k2))
    def stepV(idExpr: String, vExpr: String, tKey: String) =
      s"""cast(cast($vExpr as double) + (k.kx *
         |        cast(p.pool[1 + ${md5ModCol(s"cast($idExpr as varchar) || '|scpw-pool|$sseed|' || $tKey", "len(p.pool)")}] as double) +
         |        k.k1 * ${gaussSql(s"cast($idExpr as varchar) || '|scpw-g|$sseed|' || $tKey")} + k.k2) as real)""".stripMargin
    val okExpr =
      s"(${md5ModSql(scpwMicrosSql("v"), 2)} + posm2) % 2 = wm_bit"
    s"""${scpwClassifySql("embeddings", "s")},
       |sgstat AS (SELECT group_id, count(*) AS n_group, sum(hb) AS n_one
       |  FROM scls GROUP BY 1),
       |sneeds AS (SELECT g.group_id, b.wm_bit,
       |    least(greatest(0, cast(ceil(g.n_group * $strength) as bigint) -
       |        (CASE WHEN b.wm_bit = 1 THEN g.n_one ELSE g.n_group - g.n_one END)),
       |      g.n_group - (CASE WHEN b.wm_bit = 1 THEN g.n_one ELSE g.n_group - g.n_one END)) AS need
       |  FROM sgstat g JOIN wbits b ON g.group_id = b.bit_pos),
       |scarr AS (SELECT vec_id, cid, posm2, wm_bit, v0 FROM (
       |    SELECT c.vec_id, c.cid, c.pos % 2 AS posm2, n.wm_bit,
       |      c.embedding[$vpos1] AS v0, n.need,
       |      row_number() OVER (PARTITION BY c.group_id
       |        ORDER BY md5(cast(c.vec_id as varchar) || '#scpw#$sseed'), c.vec_id) AS rn
       |    FROM scls c JOIN sneeds n
       |      ON c.group_id = n.group_id AND c.hb <> n.wm_bit)
       |  WHERE rn <= need),
       |snn AS (SELECT count(*) AS n FROM embeddings),
       |spool AS MATERIALIZED (SELECT list(v ORDER BY vec_id) AS pool FROM (
       |    SELECT e.vec_id, e.embedding[$vpos1] AS v FROM embeddings e, snn
       |    WHERE ${md5ModCol(s"cast(e.vec_id as varchar) || '#scpw-poolsel#$sseed'", "greatest(1, snn.n // 65536)")} = 0
       |    ORDER BY e.vec_id LIMIT 65536)),
       |sstat AS (SELECT
       |    cast(sum(cast(floor(cast(embedding[$vpos1] as double) * 1000000000.0 + 0.5) as bigint)) as bigint) AS sv,
       |    cast(sum(cast(floor(cast(embedding[$vpos1] as double) * cast(embedding[$vpos1] as double) * 1000000000.0 + 0.5) as bigint)) as bigint) AS sq,
       |    count(*) AS n FROM embeddings),
       |sprm AS (SELECT kx, sqrt($stdE * $stdE - kx * kx * varp) AS k1, -kx * mu AS k2 FROM (
       |    SELECT mu, varp, -$stdE * $stdE / (2 * varp) AS kx FROM (
       |      SELECT (cast(sv as double) / 1000000000.0 / n) AS mu,
       |        greatest(cast(sq as double) / 1000000000.0 / n -
       |          (cast(sv as double) / 1000000000.0 / n) * (cast(sv as double) / 1000000000.0 / n), 0.0) AS varp
       |      FROM sstat))),
       |srec AS (
       |  SELECT vec_id, cid, posm2, wm_bit, v, t, $okExpr AS ok FROM (
       |    SELECT s.vec_id, s.cid, s.posm2, s.wm_bit,
       |      ${stepV("s.vec_id", "s.v0", "'0'")} AS v, 1 AS t
       |    FROM scarr s, sprm k, spool p)
       |  UNION ALL
       |  SELECT vec_id, cid, posm2, wm_bit, v, t, $okExpr AS ok FROM (
       |    SELECT r.vec_id, r.cid, r.posm2, r.wm_bit,
       |      ${stepV("r.vec_id", "r.v", "cast(r.t as varchar)")} AS v, r.t + 1 AS t
       |    FROM srec r, sprm k, spool p WHERE NOT r.ok AND r.t < 64)),
       |sfinal AS (SELECT vec_id, v FROM srec WHERE ok OR t = 64),
       |semb AS MATERIALIZED (SELECT e.vec_id,
       |    CASE WHEN f.vec_id IS NULL THEN e.embedding
       |      ELSE list_transform(range(1, ${D + 1}),
       |             i -> CASE WHEN i = $vpos1 THEN f.v ELSE e.embedding[i] END)
       |    END AS embedding
       |  FROM embeddings e LEFT JOIN sfinal f ON e.vec_id = f.vec_id)""".stripMargin
  }

  /** H2's SCPW column of the robustness grid, replayed cell-for-cell like
    * h_robustness_grid: the SQL embed replay (scpwEmbedCtes), then the
    * shared attack grid (keyed/ai rankings, 30-dim run overwrite
    * re-classified, fold-stat gaussian synthetics re-classified), majority
    * vote + BER per (attack, p). Empty groups extract the pre-seeded 0.
    */
  private def scpwGridSql: String = {
    val atkSeed = s"att-${key.seed}-r0"
    val gdim0   = Hashing.md5Mod(s"$atkSeed|dim0", D.toLong).toInt
    def unit(k: String) =
      s"(cast('0x' || substr(md5($k), 1, 13) as bigint) / 4503599627370496.0)"
    def pcut(expr: String) = s"ceil(nn.n * cast($expr as double))"
    graphCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
      s"""wbits(bit_pos, wm_bit) AS (VALUES $bitsValuesSql),
         |${scpwEmbedCtes(0.7)},
         |${scpwClassifySql("semb", "sp")},
         |nn AS (SELECT count(*) AS n, max(vec_id) AS maxid FROM embeddings),
         |pvals(p) AS (VALUES ${RobGridPs.map(p => s"($p)").mkString(", ")}),
         |rkd AS (SELECT vec_id, row_number() OVER (ORDER BY md5(cast(vec_id as varchar) || '#del#$atkSeed'), vec_id) AS r FROM embeddings),
         |rkm AS (SELECT vec_id, row_number() OVER (ORDER BY md5(cast(vec_id as varchar) || '#modrow#$atkSeed'), vec_id) AS r FROM embeddings),
         |rka AS (SELECT vec_id, row_number() OVER (ORDER BY ai DESC, vec_id) AS r FROM ai),
         |mrun AS (SELECT vec_id, cast(${md5ModSql(s"cast(vec_id as varchar) || '#moddim#$atkSeed'", D)} as bigint) AS rst FROM embeddings),
         |sdims AS (SELECT cast(min(embedding[${gdim0 + 1}]) as double) AS mn,
         |    cast(max(embedding[${gdim0 + 1}]) as double) AS mx FROM semb),
         |smemb AS (SELECT w.vec_id,
         |    list_transform(range(1, ${D + 1}), i ->
         |      CASE WHEN ((i - 1 - m.rst) % $D + $D) % $D < 30
         |        THEN cast(sd.mn + (sd.mx - sd.mn) * ${unit(s"cast(w.vec_id as varchar) || '#modval#$atkSeed'")} as real)
         |        ELSE w.embedding[i] END) AS embedding
         |  FROM semb w JOIN mrun m ON m.vec_id = w.vec_id, sdims sd),
         |${scpwClassifySql("smemb", "sm")},
         |sspd AS (SELECT dim, ${nanoMeanSql("fsum", "cnt")} AS mu,
         |    sqrt(greatest(${nanoMeanSql("fsq", "cnt")} - ${nanoMeanSql("fsum", "cnt")} * ${nanoMeanSql("fsum", "cnt")}, 0.0)) AS sg
         |  FROM (SELECT i.dim AS dim,
         |      ${sumNanosSql("cast(w.embedding[i.dim] as double)")} AS fsum,
         |      ${sumNanosSql("cast(w.embedding[i.dim] as double) * cast(w.embedding[i.dim] as double)")} AS fsq,
         |      count(*) AS cnt
         |    FROM semb w CROSS JOIN (SELECT unnest(range(1, ${D + 1})) AS dim) i
         |    GROUP BY i.dim)),
         |ssin AS (SELECT list(mu ORDER BY dim) AS mus, list(sg ORDER BY dim) AS sgs FROM sspd),
         |syn AS (SELECT nn.maxid + 1 + unnest(range(0, cast(${pcut(RobGridPs.max.toString)} as bigint))) AS vec_id FROM nn),
         |ssynv AS (SELECT y.vec_id,
         |    list_transform(range(1, ${D + 1}), i ->
         |      cast(s.mus[i] + s.sgs[i] * ${gaussSql(s"cast(y.vec_id as varchar) || '#ins' || cast(i - 1 as varchar) || '#$atkSeed'")} as real)) AS embedding
         |  FROM syn y, ssin s),
         |${scpwClassifySql("ssynv", "sy")},
         |ab AS (
         |  SELECT 'random_delete' AS attack, pv.p, pb.group_id, pb.hb
         |    FROM pvals pv, nn, spcls pb JOIN rkd ON pb.vec_id = rkd.vec_id
         |    WHERE rkd.r <= nn.n - ${pcut("pv.p")}
         |  UNION ALL
         |  SELECT 'adaptive_delete' AS attack, pv.p, pb.group_id, pb.hb
         |    FROM pvals pv, nn, spcls pb JOIN rka ON pb.vec_id = rka.vec_id
         |    WHERE rka.r > ${pcut("pv.p")}
         |  UNION ALL
         |  SELECT 'random_modify' AS attack, pv.p, mb.group_id, mb.hb
         |    FROM pvals pv, nn, smcls mb JOIN rkm ON mb.vec_id = rkm.vec_id
         |    WHERE rkm.r <= ${pcut("pv.p")}
         |  UNION ALL
         |  SELECT 'random_modify' AS attack, pv.p, pb.group_id, pb.hb
         |    FROM pvals pv, nn, spcls pb JOIN rkm ON pb.vec_id = rkm.vec_id
         |    WHERE rkm.r > ${pcut("pv.p")}
         |  UNION ALL
         |  SELECT 'adaptive_modify' AS attack, pv.p, mb.group_id, mb.hb
         |    FROM pvals pv, nn, smcls mb JOIN rka ON mb.vec_id = rka.vec_id
         |    WHERE rka.r <= ${pcut("pv.p")}
         |  UNION ALL
         |  SELECT 'adaptive_modify' AS attack, pv.p, pb.group_id, pb.hb
         |    FROM pvals pv, nn, spcls pb JOIN rka ON pb.vec_id = rka.vec_id
         |    WHERE rka.r > ${pcut("pv.p")}
         |  UNION ALL
         |  SELECT 'insert' AS attack, pv.p, pb.group_id, pb.hb
         |    FROM pvals pv, spcls pb
         |  UNION ALL
         |  SELECT 'insert' AS attack, pv.p, ib.group_id, ib.hb
         |    FROM pvals pv, nn, sycls ib WHERE ib.vec_id - (nn.maxid + 1) < ${pcut("pv.p")}),
         |votes AS (SELECT attack, p, group_id, sum(hb) AS n1, count(*) AS nv
         |  FROM ab GROUP BY 1, 2, 3),
         |cells AS (SELECT a.attack, pv.p
         |  FROM (VALUES ('random_delete'), ('adaptive_delete'), ('random_modify'),
         |               ('adaptive_modify'), ('insert')) a(attack),
         |       pvals pv)
         |SELECT 'SchemeScpw' AS scheme, c.attack, cast(c.p as double) AS p,
         |  cast(0 as bigint) AS rep,
         |  avg(CASE WHEN b.wm_bit <> coalesce(CASE WHEN v.n1 * 2 > v.nv THEN 1 ELSE 0 END, 0)
         |      THEN 1 ELSE 0 END) AS ber
         |FROM cells c CROSS JOIN wbits b
         |LEFT JOIN votes v ON v.attack = c.attack AND v.p = c.p AND v.group_id = b.bit_pos
         |GROUP BY c.attack, c.p
         |ORDER BY 1, 2, 3""".stripMargin
  }

  // shared oracle bodies for queries that run the SAME semantics through a
  // different physical regime (broadcast kernel vs probed join; broadcast
  // vs shuffle-hash candidate join) — one replay gates both rows
  private lazy val filteredTopkOracle: String = cosineSql(
    queryFilter = "q.vec_id < 100 AND c.vec_id IN " +
      "(SELECT vec_id FROM embeddings WHERE label = 3)",
    k = 10,
    select = """SELECT query_id, neighbor_id, score,
                |  cast(row_number() OVER w as bigint) AS rank
                |FROM pairs WINDOW w AS (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
                |QUALIFY rank <= 10 ORDER BY query_id, rank""".stripMargin)

  private lazy val ivfTopkOracle: String =
    s"WITH $ivfDetCtes\n" +
      """SELECT query_id, neighbor_id, cast(rank as bigint) AS rank FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
        |  FROM cand) WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin
  private lazy val crossNearDupOracle: String =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 100 != 7),
       |benchd AS (SELECT doc_id, text FROM documents WHERE doc_id % 100 = 7),
       |${minhashSideCtes("corpus", "x")},
       |${minhashSideCtes("benchd", "y")},
       |xysh AS (SELECT * FROM xsh UNION ALL SELECT * FROM ysh),
       |ccand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM xbk x JOIN ybk y
       |       ON x.band = y.band AND x.band_key = y.band_key),
       |${minhashVerifyCtes("c", "xysh", 0.5)}
       |SELECT a, b, jaccard FROM cpairs ORDER BY a, b""".stripMargin

  // stream-leg oracle bodies, shared between the per-leg entries and the
  // q_stream_block count report (the block wraps each in SELECT count(*))
  private lazy val streamTumblingOracle: String =
    s"""SELECT cast(floor(epoch(ts) / 600) as bigint) AS bucket, event_type,
       |  count(*) AS n, ${sumMicrosSql("value")} AS sum_value_micros,
       |  cast(floor(epoch(ts) / 600) as bigint) * 600 AS bucket_start
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  private lazy val streamDedupOracle: String =
    s"""SELECT event_id, user_id, event_type,
       |  ${microsSql("value")} AS value_micros,
       |  cast(floor(epoch(ts)) as bigint) AS es
       |FROM events ORDER BY event_id""".stripMargin
  private lazy val streamSessionsOracle: String =
    """WITH e AS (SELECT user_id, event_id, value, ts,
      |             cast(floor(epoch(ts)) as bigint) AS es FROM events),
      |s AS (SELECT *, CASE WHEN lag(es) OVER w IS NULL OR es - lag(es) OVER w > 1800
      |                     THEN 1 ELSE 0 END AS ns
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s2 AS (SELECT *, cast(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS UNBOUNDED PRECEDING) as bigint) AS session_seq FROM s),
      |g AS (SELECT user_id, session_seq, count(*) AS n_events, min(es) AS start_es,
      |        max(es) AS end_es, __SUMV__ AS sum_value_micros
      |      FROM s2 GROUP BY 1, 2),
      |wm AS (SELECT max(cast(floor(epoch(ts)) as bigint)) * 1000 - 1800500 AS wm_ms FROM events)
      |SELECT user_id, start_es, end_es, n_events, sum_value_micros
      |FROM g, wm
      |WHERE session_seq < (SELECT max(session_seq) FROM g g2 WHERE g2.user_id = g.user_id)
      |   OR (end_es + 1800) * 1000 < wm.wm_ms
      |ORDER BY user_id, start_es""".stripMargin
      .replace("__SUMV__", sumMicrosSql("value"))
  /** Shared by q_events_sessions and q_events_sessions_bucketed: the two
    * engines' physical shapes (one window per user vs per (user, slice) +
    * stitch) must land on the SAME logical sessionization.
    */
  private lazy val batchSessionsOracle: String =
    """WITH e AS (SELECT user_id, event_id, value, ts,
      |             cast(floor(epoch(ts)) as bigint) AS es FROM events),
      |s AS (SELECT *, CASE WHEN lag(es) OVER w IS NULL OR es - lag(es) OVER w > 1800
      |                     THEN 1 ELSE 0 END AS ns
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s2 AS (SELECT *, cast(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS UNBOUNDED PRECEDING) as bigint) AS session_seq FROM s)
      |SELECT user_id, session_seq, count(*) AS n_events, min(es) AS start_es,
      |  max(es) AS end_es, __SUMV__ AS sum_value_micros,
      |  max(es) - min(es) AS duration_sec
      |FROM s2 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      .replace("__SUMV__", sumMicrosSql("value"))
  private lazy val kmvOracle: String =
    """WITH h AS (SELECT DISTINCT event_type,
      |    list_reduce(list_transform(
      |      string_split(substring(md5(cast(user_id AS varchar)), 1, 12), ''),
      |      x -> cast(strpos('0123456789abcdef', x) - 1 AS bigint)),
      |      (a, b) -> a * 16 + b) AS hv
      |  FROM events),
      |r AS (SELECT event_type, hv,
      |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk FROM h),
      |s AS (SELECT event_type, cast(count(*) as bigint) AS n_kept,
      |    max(CASE WHEN rk = 64 THEN hv END) AS hk
      |  FROM r WHERE rk <= 64 GROUP BY 1),
      |x AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events
      |  GROUP BY 1)
      |SELECT s.event_type, x.n_exact, s.n_kept,
      |  cast(CASE WHEN s.n_kept < 64 THEN s.n_kept
      |    ELSE (63 * 281474976710656) // s.hk END as bigint) AS est_distinct
      |FROM s JOIN x ON s.event_type = x.event_type
      |ORDER BY 1""".stripMargin

  private lazy val asofJoinOracle: String =
    s"""WITH dim AS (SELECT user_id, ts, max(${microsSql("value")}) AS sv
       |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
       |SELECT e.user_id, count(*) AS n_events,
       |  cast(sum(CASE WHEN d.sv IS NOT NULL THEN 1 ELSE 0 END) as bigint)
       |    AS n_matched,
       |  cast(coalesce(sum(d.sv), 0) as bigint) AS sm_signup
       |FROM events e ASOF LEFT JOIN dim d
       |  ON e.user_id = d.user_id AND e.ts >= d.ts
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The stream-stream join leg's pair set — the plain batch interval join
    * (clicks ⋈ purchases of the same user within the following 2 h).
    */
  private lazy val streamJoinPairsOracle: String =
    s"""SELECT c.user_id, c.click_id, p.p_id, p.p_val_us
       |FROM (SELECT user_id, event_id AS click_id, ts AS ct FROM events
       |      WHERE event_type = 'click') c
       |JOIN (SELECT user_id AS p_user, event_id AS p_id, ts AS pt,
       |        ${microsSql("value")} AS p_val_us FROM events
       |      WHERE event_type = 'purchase') p
       |  ON c.user_id = p.p_user
       | AND p.pt >= c.ct AND p.pt < c.ct + INTERVAL 7200 SECOND""".stripMargin
  private lazy val streamNeardupOracle: String =
    s"WITH ${minhashSideCtes("documents", "m")},\n" +
      """owners AS (SELECT band, band_key, min(doc_id) AS owner
        |  FROM mbk GROUP BY 1, 2)
        |SELECT b.doc_id,
        |  cast(count(*) as bigint) AS n_bands,
        |  cast(sum(CASE WHEN o.owner < b.doc_id THEN 1 ELSE 0 END) as bigint) AS n_collided,
        |  cast(CASE WHEN sum(CASE WHEN o.owner < b.doc_id THEN 1 ELSE 0 END) = 0
        |       THEN 1 ELSE 0 END as int) AS kept
        |FROM mbk b JOIN owners o ON b.band = o.band AND b.band_key = o.band_key
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "wm_rs_roundtrip"  -> roundtripSql(cidSql(dims.init.toSeq, key.scale)),
    "wm_tvp_roundtrip" -> roundtripSql(cidSql(dims.init.toSeq, key.scale)),
    "scpw_roundtrip"   -> roundtripSql(cidSql(0 until scpwKey.topK, scpwKey.scale)),

    // A8 — the z-test result is SQL-predictable from the raw table: content
    // ids are invariant under the dim-`position` perturbation (position ∉ the
    // first-k id dims), so the match set equals the clean-match set, and every
    // matched CARRIER's diff is a draw from the green category by construction
    // (tabularMark.py:117–127) — ng = |matched ∧ wm_id < nw|. Any cid
    // collision matching a non-carrier would break the premise; the fixture
    // has none (tm_match_clean = exactly the nw carriers) and a violation
    // surfaces as a hash mismatch, not a silent pass.
    "tm_detect" ->
      s"""WITH ids AS (SELECT vec_id, ${cidSql(0 until tmKey.k, tmKey.scale)} AS id FROM embeddings),
         |pks AS (SELECT id, min(vec_id) AS orig_id FROM ids WHERE vec_id < ${tmKey.nw} GROUP BY id),
         |m AS (SELECT ids.vec_id AS wm_id FROM ids JOIN pks ON ids.id = pks.id),
         |c AS (SELECT count(*) AS n_matched,
         |        coalesce(sum(CASE WHEN wm_id < ${tmKey.nw} THEN 1 ELSE 0 END), 0) AS ng FROM m)
         |SELECT cast(${tmKey.nw} as bigint) AS nw, cast(n_matched as bigint) AS n_matched,
         |  cast(ng as bigint) AS ng,
         |  round(2.0 * (ng - 0.5 * ${tmKey.nw}) / sqrt(cast(${tmKey.nw} as double)), 9) AS z,
         |  (2.0 * (ng - 0.5 * ${tmKey.nw}) / sqrt(cast(${tmKey.nw} as double))) > ${tmKey.alpha} AS detected
         |FROM c""".stripMargin,

    // Per-carrier bit-codec parity: the full RS embed replayed in closed-form
    // SQL (see rsCodecCtes) — carrier selection, keyed dim, and the embedded
    // float32 value must match the engine bit-for-bit.
    "wm_carriers" ->
      (s"WITH $rsCodecCtes\n" +
        """SELECT vec_id, cast(group_id as bigint) AS group_id,
          |  cast(wm_bit as bigint) AS wm_bit,
          |  cast(pos as bigint) AS carrier_dim,
          |  cast(newv as double) AS new_val
          |FROM wmvals ORDER BY vec_id""".stripMargin),

    // W1 bit-level: carriersAi replayed in SQL — threshold at the
    // floor(n_cand·th)-ranked ai, qualification split, vec_id-ordered fill,
    // ai-ordered backfill — over the graph CTEs' bit-exact ai; embedded
    // values from the codec formulas.
    "wm_tvp_carriers" ->
      (graphCtes + ",\n" + rsCodecCtes + ",\n" + tvpCandCtes + ",\n" + tvpThCtes(0.5, "") + "\n" +
        s"""SELECT vec_id, cast(group_id as bigint) AS group_id,
           |  cast(wm_bit as bigint) AS wm_bit,
           |  cast(pos as bigint) AS carrier_dim,
           |  cast(cast(v + ((wm_bit + pos) % 2 - oldbit) *
           |    (CASE WHEN bp < intlen THEN pow(2.0, intlen - 1 - bp)
           |          ELSE pow(2.0, -(bp - intlen)) END) as real) as double) AS new_val
           |FROM tcarriers ORDER BY vec_id""".stripMargin),

    // Full SQL replay of extraction after a keyed deletion attack: survivors'
    // post-embed hidden bits, majority per group, pre-seeded 0 for empties.
    "wm_extract_after_delete" ->
      (s"WITH $rsCodecCtes,\n" +
        s"""postbits AS (SELECT c.vec_id, c.group_id,
           |    CASE WHEN w.vec_id IS NOT NULL THEN w.wm_bit
           |         ELSE cast((c.oldbit + c.pos) % 2 as int) END AS hbit
           |  FROM wcls c LEFT JOIN wmvals w ON c.vec_id = w.vec_id),
           |kept AS (SELECT vec_id FROM (
           |    SELECT vec_id,
           |      row_number() OVER (ORDER BY md5(cast(vec_id as varchar) || '#del#$Seed'), vec_id) AS rn,
           |      count(*) OVER () AS n
           |    FROM embeddings) WHERE rn <= n - ceil(n * cast($DeleteP as double))),
           |votes AS (SELECT p.group_id, sum(p.hbit) AS n_one, count(*) AS n
           |  FROM postbits p JOIN kept k ON p.vec_id = k.vec_id GROUP BY 1)
           |SELECT cast(b.bit_pos as bigint) AS bit_pos, cast(b.wm_bit as bigint) AS wm_bit,
           |  cast(CASE WHEN coalesce(v.n_one, 0) * 2 > coalesce(v.n, 0) THEN 1 ELSE 0 END as bigint) AS extracted_bit
           |FROM wbits b LEFT JOIN votes v ON v.group_id = b.bit_pos
           |ORDER BY bit_pos""".stripMargin),

    // H1 RS×deletion curve: shared post-embed bits + one keyed ranking,
    // majority per (p, group) over each cutoff's survivors.
    "h_rs_delete_grid" ->
      (s"WITH $rsCodecCtes,\n" +
        s"""postbits AS (SELECT c.vec_id, c.group_id,
           |    CASE WHEN w.vec_id IS NOT NULL THEN w.wm_bit
           |         ELSE cast((c.oldbit + c.pos) % 2 as int) END AS hbit
           |  FROM wcls c LEFT JOIN wmvals w ON c.vec_id = w.vec_id),
           |ranked AS (SELECT vec_id,
           |    row_number() OVER (ORDER BY md5(cast(vec_id as varchar) || '#del#$Seed'), vec_id) AS rn,
           |    count(*) OVER () AS n
           |  FROM embeddings),
           |pvals(p) AS (VALUES (0.0), (0.3), (0.5), (0.7)),
           |votes AS (SELECT pv.p, pb.group_id, sum(pb.hbit) AS n_one, count(*) AS n
           |  FROM pvals pv
           |  JOIN ranked r ON r.rn <= r.n - ceil(r.n * cast(pv.p as double))
           |  JOIN postbits pb ON pb.vec_id = r.vec_id
           |  GROUP BY 1, 2)
           |SELECT cast(pv.p as double) AS p, cast(b.bit_pos as bigint) AS bit_pos,
           |  cast(b.wm_bit as bigint) AS wm_bit,
           |  cast(CASE WHEN coalesce(v.n_one, 0) * 2 > coalesce(v.n, 0) THEN 1 ELSE 0 END as bigint) AS extracted_bit
           |FROM pvals pv CROSS JOIN wbits b
           |LEFT JOIN votes v ON v.group_id = b.bit_pos AND v.p = pv.p
           |ORDER BY p, bit_pos""".stripMargin),

    // H1 strength×deletion grid: ONE shared classification prefix, a
    // per-strength deficit/carrier tail, one keyed ranking for all cutoffs.
    "h_strength_grid" -> {
      // carriers are rep-INdependent (the reference re-seeds each embed call
      // identically) — one carrier tail per strength; reps enter only as
      // re-rolled deletion rankings
      val sfxs = StrengthGridSts.zipWithIndex.map { case (st, i) => (st, s"_s$i") }
      val tails = sfxs.map { case (st, x) => rsCarrierCtes(st, x) }.mkString(",\n")
      val postbits = sfxs.map { case (st, x) =>
        s"""SELECT $st AS strength, c.vec_id, c.group_id,
           |    CASE WHEN w.vec_id IS NOT NULL THEN w.wm_bit
           |         ELSE cast((c.oldbit + c.pos) % 2 as int) END AS hbit
           |  FROM wcls c LEFT JOIN wmvals$x w ON c.vec_id = w.vec_id""".stripMargin
      }.mkString("\nUNION ALL\n")
      val rankedAll = (0 until StrengthGridReps).map(rep =>
        s"""SELECT vec_id, $rep AS rep,
           |    row_number() OVER (ORDER BY md5(cast(vec_id as varchar) || '#del#$Seed-r$rep'), vec_id) AS rn,
           |    count(*) OVER () AS n
           |  FROM embeddings""".stripMargin).mkString("\nUNION ALL\n")
      s"WITH $rsCodecPrefix,\n$tails,\n" +
        s"""postbits AS MATERIALIZED ($postbits),
           |ranked AS MATERIALIZED ($rankedAll),
           |pvals(p) AS (VALUES ${StrengthGridPs.map(p => s"($p)").mkString(", ")}),
           |svals(strength) AS (VALUES ${StrengthGridSts.map(st => s"($st)").mkString(", ")}),
           |rvals(rep) AS (VALUES ${(0 until StrengthGridReps).map(r => s"($r)").mkString(", ")}),
           |votes AS (SELECT pb.strength, r.rep, pv.p, pb.group_id,
           |    sum(pb.hbit) AS n_one, count(*) AS n
           |  FROM pvals pv
           |  JOIN ranked r ON r.rn <= r.n - ceil(r.n * cast(pv.p as double))
           |  JOIN postbits pb ON pb.vec_id = r.vec_id
           |  GROUP BY 1, 2, 3, 4)
           |SELECT cast(sv.strength as double) AS strength, cast(rv.rep as bigint) AS rep,
           |  cast(pv.p as double) AS p,
           |  cast(b.bit_pos as bigint) AS bit_pos, cast(b.wm_bit as bigint) AS wm_bit,
           |  cast(CASE WHEN coalesce(v.n_one, 0) * 2 > coalesce(v.n, 0) THEN 1 ELSE 0 END as bigint) AS extracted_bit
           |FROM svals sv CROSS JOIN rvals rv CROSS JOIN pvals pv CROSS JOIN wbits b
           |LEFT JOIN votes v ON v.group_id = b.bit_pos AND v.p = pv.p
           |  AND v.strength = sv.strength AND v.rep = rv.rep
           |ORDER BY strength, rep, p, bit_pos""".stripMargin
    },

    // H1 th×deletion grid: shared graph ai + codec prefix + one shared
    // candidate ranking; per-th threshold/backfill tail; one keyed ranking
    // for all cutoffs.
    "h_th_grid" -> {
      val sfxs = ThGridThs.zipWithIndex.map { case (th, i) => (th, s"_t$i") }
      val tails = sfxs.map { case (th, x) => tvpThCtes(th, x) }.mkString(",\n")
      val postbits = sfxs.map { case (th, x) =>
        s"""SELECT $th AS th, c.vec_id, c.group_id,
           |    CASE WHEN t.vec_id IS NOT NULL THEN t.wm_bit
           |         ELSE cast((c.oldbit + c.pos) % 2 as int) END AS hbit
           |  FROM wcls c LEFT JOIN tcarriers$x t ON c.vec_id = t.vec_id""".stripMargin
      }.mkString("\nUNION ALL\n")
      val rankedAll = (0 until StrengthGridReps).map(rep =>
        s"""SELECT vec_id, $rep AS rep,
           |    row_number() OVER (ORDER BY md5(cast(vec_id as varchar) || '#del#$Seed-r$rep'), vec_id) AS rn,
           |    count(*) OVER () AS n
           |  FROM embeddings""".stripMargin).mkString("\nUNION ALL\n")
      graphCtes + ",\n" + rsCodecCtes + ",\n" + tvpCandCtes + ",\n" + tails + ",\n" +
        s"""postbits AS MATERIALIZED ($postbits),
           |ranked AS MATERIALIZED ($rankedAll),
           |pvals(p) AS (VALUES ${StrengthGridPs.map(p => s"($p)").mkString(", ")}),
           |tvals(th) AS (VALUES ${ThGridThs.map(th => s"($th)").mkString(", ")}),
           |rvals(rep) AS (VALUES ${(0 until StrengthGridReps).map(r => s"($r)").mkString(", ")}),
           |votes AS (SELECT pb.th, r.rep, pv.p, pb.group_id, sum(pb.hbit) AS n_one, count(*) AS n
           |  FROM pvals pv
           |  JOIN ranked r ON r.rn <= r.n - ceil(r.n * cast(pv.p as double))
           |  JOIN postbits pb ON pb.vec_id = r.vec_id
           |  GROUP BY 1, 2, 3, 4)
           |SELECT cast(tv.th as double) AS th, cast(rv.rep as bigint) AS rep,
           |  cast(pv.p as double) AS p,
           |  cast(b.bit_pos as bigint) AS bit_pos, cast(b.wm_bit as bigint) AS wm_bit,
           |  cast(CASE WHEN coalesce(v.n_one, 0) * 2 > coalesce(v.n, 0) THEN 1 ELSE 0 END as bigint) AS extracted_bit
           |FROM tvals tv CROSS JOIN rvals rv CROSS JOIN pvals pv CROSS JOIN wbits b
           |LEFT JOIN votes v ON v.group_id = b.bit_pos AND v.p = pv.p AND v.th = tv.th AND v.rep = rv.rep
           |ORDER BY th, rep, p, bit_pos""".stripMargin
    },

    // Full SQL replay of the published impact sweep: one shared
    // classification/candidate prefix, then per threshold the th-dependent
    // TVP selection (tvpThCtes), the applyEmbed'd table, a fold-kNN pass of
    // the watermarked table against itself, and the per-carrier miss/false +
    // traffic accounting — exactly the chain impactSweep runs per tagged
    // union branch. All averaged quantities are means of small integer
    // counts (exact in double regardless of order), so round(,6) matches.
    "h_impact_sweep" -> {
      val sfxs = (1 to 10).map(i => (i / 10.0, s"_i$i"))
      val dd = "(cast(a.embedding[i] as double) - cast(b.embedding[i] as double))"
      val thTails = sfxs.map { case (th, x) =>
        s"""${tvpThCtes(th, x)},
           |twmvals$x AS (SELECT vec_id, pos,
           |    cast(v + ((wm_bit + pos) % 2 - oldbit) *
           |      (CASE WHEN bp < intlen THEN pow(2.0, intlen - 1 - bp)
           |            ELSE pow(2.0, -(bp - intlen)) END) as real) AS newv
           |  FROM tcarriers$x),
           |twemb$x AS MATERIALIZED (SELECT e.vec_id,
           |    CASE WHEN w.vec_id IS NULL THEN e.embedding
           |      ELSE list_transform(range(1, ${D + 1}),
           |             i -> CASE WHEN i = w.pos + 1 THEN w.newv ELSE e.embedding[i] END)
           |    END AS embedding
           |  FROM embeddings e LEFT JOIN twmvals$x w ON e.vec_id = w.vec_id),
           |after$x AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
           |    FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |            sqrt(list_reduce(list_transform(range(1, ${D + 1}), i -> $dd * $dd),
           |              (xx, yy) -> xx + yy)) AS dist
           |          FROM twemb$x a, twemb$x b))
           |  WHERE rank <= 10),
           |hb$x AS (SELECT t.vec_id AS carrier, b.query_id AS query
           |  FROM (SELECT query_id, neighbor_id FROM raw17 WHERE rank <= 10) b
           |  JOIN tcarriers$x t ON b.neighbor_id = t.vec_id),
           |ha$x AS (SELECT t.vec_id AS carrier, a.query_id AS query
           |  FROM after$x a JOIN tcarriers$x t ON a.neighbor_id = t.vec_id),
           |mf$x AS MATERIALIZED (SELECT carrier,
           |    sum(CASE WHEN inb IS NOT NULL AND ina IS NULL THEN 1 ELSE 0 END) AS miss,
           |    sum(CASE WHEN ina IS NOT NULL AND inb IS NULL THEN 1 ELSE 0 END) AS false_hits
           |  FROM (SELECT 1 AS inb, carrier, query FROM hb$x) fb
           |  FULL OUTER JOIN (SELECT 1 AS ina, carrier, query FROM ha$x) fa USING (carrier, query)
           |  GROUP BY carrier),
           |met$x AS (SELECT cast($th as double) AS th,
           |    (SELECT count(*) FROM tcarriers$x) AS n_carriers,
           |    (SELECT round(avg(miss), 6) FROM mf$x) AS avg_miss,
           |    (SELECT round(avg(false_hits), 6) FROM mf$x) AS avg_false,
           |    (SELECT round(avg(query_count), 6) FROM qc JOIN tcarriers$x t ON qc.vec_id = t.vec_id) AS traffic_before,
           |    (SELECT round(avg(coalesce(ac.qcnt, 0)), 6)
           |       FROM tcarriers$x t LEFT JOIN
           |         (SELECT neighbor_id, count(*) AS qcnt FROM after$x
           |          WHERE neighbor_id <> query_id GROUP BY 1) ac
           |       ON ac.neighbor_id = t.vec_id) AS traffic_after)""".stripMargin
      }.mkString(",\n")
      val unions = sfxs.map { case (_, x) => s"SELECT * FROM met$x" }.mkString("\nUNION ALL\n")
      graphCtes + ",\n" + rsCodecCtes + ",\n" + tvpCandCtes + ",\n" + thTails + "\n" +
        unions + "\nORDER BY th"
    },

    // TabularMark deletion curve: matched set from the tm_detect premise
    // (matched carriers are green by construction), survivors per cutoff.
    "h_tm_delete_grid" ->
      s"""WITH ids AS (SELECT vec_id, ${cidSql(0 until tmKey.k, tmKey.scale)} AS id FROM embeddings),
         |pks AS (SELECT id, min(vec_id) AS orig_id FROM ids WHERE vec_id < ${tmKey.nw} GROUP BY id),
         |m AS (SELECT ids.vec_id AS wm_id FROM ids JOIN pks ON ids.id = pks.id),
         |ranked AS (SELECT vec_id,
         |    row_number() OVER (ORDER BY md5(cast(vec_id as varchar) || '#del#$Seed'), vec_id) AS rn,
         |    count(*) OVER () AS n
         |  FROM embeddings),
         |pvals(p) AS (VALUES ${TmGridPs.map(p => s"($p)").mkString(", ")}),
         |c AS (SELECT pv.p, count(*) AS n_matched,
         |        coalesce(sum(CASE WHEN m.wm_id < ${tmKey.nw} THEN 1 ELSE 0 END), 0) AS ng
         |      FROM pvals pv
         |      JOIN ranked r ON r.rn <= r.n - ceil(r.n * cast(pv.p as double))
         |      JOIN m ON m.wm_id = r.vec_id
         |      GROUP BY 1)
         |SELECT cast(pv.p as double) AS p, cast(${tmKey.nw} as bigint) AS nw,
         |  coalesce(c.n_matched, 0) AS n_matched, cast(coalesce(c.ng, 0) as bigint) AS ng,
         |  round(2.0 * (coalesce(c.ng, 0) - 0.5 * ${tmKey.nw}) / sqrt(cast(${tmKey.nw} as double)), 9) AS z,
         |  (cast(${tmKey.nw} as double) - coalesce(c.n_matched, 0)) / cast(${tmKey.nw} as double) AS match_loss
         |FROM pvals pv LEFT JOIN c ON c.p = pv.p
         |ORDER BY p""".stripMargin,

    // TM modification curve replayed END-TO-END: the interval bipartition
    // (P12, a stateful loop in the engine) runs as a recursive CTE over
    // scalar segment state — per iteration one (start, end, category) row
    // plus running category lengths; the trim step re-sums prior segment
    // lengths in generation order (exactly the engine's cat.init.map.sum
    // float arithmetic). Embed offsets, the 30-run keyed overwrite, the
    // corrupted 40-digit content ids, first-match join, and the float32
    // diff all replay mechanically.
    "h_tm_modify_grid" -> {
      val (nw, kk, pos) = (tmKey.nw, tmKey.k, tmKey.position)
      def unitSql(key: String) =
        s"(cast('0x' || substr(md5($key), 1, 13) as bigint) / 4503599627370496.0)"
      def digit(v: String) =
        s"substr(cast(cast(trunc(abs($v) * ${tmKey.scale}) as bigint) as varchar), 1, 1)"
      def modval(dd: Int) = {
        val base = if (dd != pos) s"cast(e.embedding[${dd + 1}] as double)"
                   else "cast(w.wm50 as double)"
        s"CASE WHEN r.sel AND ((($dd - r.runstart) % $D + $D) % $D) < 30 " +
          s"THEN cast(r.newv as double) ELSE $base END"
      }
      val modId = (0 until kk).map(modval).map(digit).mkString(" || ")
      s"""WITH RECURSIVE
         |$tmEmbedCtes,
         |st AS (SELECT cast(min(embedding[${modGridDim0 + 1}]) as double) AS mn,
         |              cast(max(embedding[${modGridDim0 + 1}]) as double) AS mx,
         |              count(*) AS n FROM embeddings),
         |ranked AS MATERIALIZED (
         |  SELECT vec_id,
         |    row_number() OVER (ORDER BY md5(cast(vec_id as varchar) || '#modrow#$TmModSeed'), vec_id) AS rn
         |  FROM embeddings),
         |pvals(p) AS (VALUES ${TmGridPs.map(p => s"($p)").mkString(", ")}),
         |rowsx AS MATERIALIZED (
         |  SELECT e.vec_id, pv.p, r.rn <= ceil(st.n * cast(pv.p as double)) AS sel,
         |    ${md5ModCol(s"cast(e.vec_id as varchar) || '#moddim#$TmModSeed'", D.toString)} AS runstart,
         |    cast(st.mn + (st.mx - st.mn) * ${unitSql(s"cast(e.vec_id as varchar) || '#modval#$TmModSeed'")} as real) AS newv
         |  FROM embeddings e, ranked r, pvals pv, st
         |  WHERE r.vec_id = e.vec_id),
         |modrows AS MATERIALIZED (
         |  SELECT r.vec_id, r.p, $modId AS mid,
         |    cast(${modval(pos)} as real) AS mod50
         |  FROM rowsx r
         |  JOIN embeddings e ON e.vec_id = r.vec_id
         |  JOIN tmwm w ON w.vec_id = r.vec_id),
         |matched AS MATERIALIZED (
         |  SELECT m.p, m.vec_id AS wm_id, pk.id, pk.orig_id,
         |    cast(cast(cast(m.mod50 as double) - cast(o.embedding[${pos + 1}] as double) as real) as double) AS diff
         |  FROM modrows m
         |  JOIN pks pk ON pk.id = m.mid
         |  JOIN embeddings o ON o.vec_id = pk.orig_id),
         |cats AS (
         |  SELECT p, wm_id,
         |    CASE WHEN EXISTS (SELECT 1 FROM segfinal sg WHERE sg.id = matched.id AND sg.cat = 1
         |                        AND sg.s <= matched.diff AND matched.diff <= sg.e) THEN 0
         |         WHEN EXISTS (SELECT 1 FROM segfinal sg WHERE sg.id = matched.id AND sg.cat = 2
         |                        AND sg.s <= matched.diff AND matched.diff <= sg.e) THEN 1
         |         ELSE -1 END AS cat
         |  FROM matched),
         |agg AS (SELECT p, count(*) AS n_matched,
         |    sum(CASE WHEN cat = 0 THEN 1 ELSE 0 END) AS ng
         |  FROM cats GROUP BY p)
         |SELECT cast(pv.p as double) AS p, cast($nw as bigint) AS nw,
         |  coalesce(a.n_matched, 0) AS n_matched, cast(coalesce(a.ng, 0) as bigint) AS ng,
         |  round(2.0 * (cast(coalesce(a.ng, 0) as double) - 0.5 * $nw) / sqrt(cast($nw as double)), 9) AS z,
         |  (2.0 * (cast(coalesce(a.ng, 0) as double) - 0.5 * $nw) / sqrt(cast($nw as double))) > 1.96 AS detected
         |FROM pvals pv LEFT JOIN agg a ON a.p = pv.p
         |ORDER BY p""".stripMargin
    },

    // Multi-scheme impact comparison replayed end-to-end: one shared graph +
    // codec prefix, then per scheme its watermarked table (RS wemb, TVP
    // th-tail applyEmbed, TM recursive-CTE offsets), a fold-kNN pass of raw
    // queries against it, and the per-carrier miss/false accounting.
    "h_impact_compare" -> {
      val dd = "(cast(a.embedding[i] as double) - cast(b.embedding[i] as double))"
      def impactBlock(sfx: String, corpus: String, carriers: String): String =
        s"""after$sfx AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
           |    FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |            sqrt(list_reduce(list_transform(range(1, ${D + 1}), i -> $dd * $dd),
           |              (xx, yy) -> xx + yy)) AS dist
           |          FROM embeddings a, $corpus b))
           |  WHERE rank <= 10),
           |hb$sfx AS (SELECT c.vec_id AS carrier, b.query_id AS query
           |  FROM (SELECT query_id, neighbor_id FROM raw17 WHERE rank <= 10) b
           |  JOIN $carriers c ON b.neighbor_id = c.vec_id),
           |ha$sfx AS (SELECT c.vec_id AS carrier, a.query_id AS query
           |  FROM after$sfx a JOIN $carriers c ON a.neighbor_id = c.vec_id),
           |mf$sfx AS MATERIALIZED (SELECT carrier,
           |    sum(CASE WHEN inb IS NOT NULL AND ina IS NULL THEN 1 ELSE 0 END) AS miss,
           |    sum(CASE WHEN ina IS NOT NULL AND inb IS NULL THEN 1 ELSE 0 END) AS false_hits
           |  FROM (SELECT 1 AS inb, carrier, query FROM hb$sfx) fb
           |  FULL OUTER JOIN (SELECT 1 AS ina, carrier, query FROM ha$sfx) fa USING (carrier, query)
           |  GROUP BY carrier)""".stripMargin
      def row(name: String, sfx: String): String =
        s"""SELECT '$name' AS scheme, (SELECT count(*) FROM mf$sfx) AS n_carriers,
           |  (SELECT round(avg(miss), 6) FROM mf$sfx) AS avg_miss,
           |  (SELECT round(avg(false_hits), 6) FROM mf$sfx) AS avg_false""".stripMargin
      "WITH RECURSIVE " + graphCtes.stripPrefix("WITH ") + ",\n" +
        rsCodecCtes + ",\n" + tvpCandCtes + ",\n" + tvpThCtes(0.1, "_c0") + ",\n" +
        s"""twmvals_c0 AS (SELECT vec_id, pos,
           |    cast(v + ((wm_bit + pos) % 2 - oldbit) *
           |      (CASE WHEN bp < intlen THEN pow(2.0, intlen - 1 - bp)
           |            ELSE pow(2.0, -(bp - intlen)) END) as real) AS newv
           |  FROM tcarriers_c0),
           |twemb_c0 AS MATERIALIZED (SELECT e.vec_id,
           |    CASE WHEN w.vec_id IS NULL THEN e.embedding
           |      ELSE list_transform(range(1, ${D + 1}),
           |             i -> CASE WHEN i = w.pos + 1 THEN w.newv ELSE e.embedding[i] END)
           |    END AS embedding
           |  FROM embeddings e LEFT JOIN twmvals_c0 w ON e.vec_id = w.vec_id),""".stripMargin + "\n" +
        tmEmbedCtes + ",\n" +
        s"""tmemb AS MATERIALIZED (SELECT e.vec_id,
           |    list_transform(range(1, ${D + 1}),
           |      i -> CASE WHEN i = ${tmKey.position + 1} THEN w.wm50 ELSE e.embedding[i] END) AS embedding
           |  FROM embeddings e JOIN tmwm w ON w.vec_id = e.vec_id),""".stripMargin + "\n" +
        scpwEmbedCtes(Strength) + ",\n" +
        impactBlock("_rs", "wemb", "wcarriers") + ",\n" +
        impactBlock("_tv", "twemb_c0", "tcarriers_c0") + ",\n" +
        impactBlock("_tm", "tmemb", s"(SELECT vec_id FROM tmids WHERE vec_id < ${tmKey.nw})") + ",\n" +
        impactBlock("_sc", "semb", "scarr") + "\n" +
        row("rs", "_rs") + "\nUNION ALL\n" + row("scpw", "_sc") + "\nUNION ALL\n" +
        row("tm", "_tm") + "\nUNION ALL\n" +
        row("tvp", "_tv") + "\nORDER BY scheme"
    },

    // Full SQL replay of the impact metric: base kNN from the shared graph
    // CTEs, after-kNN over the codec-replayed watermarked table, per-carrier
    // full-outer miss/false accounting.
    "impact_embed_missfalse" ->
      (graphCtes + ",\n" + rsCodecCtes + ",\n" +
        s"""aknn AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |    sqrt(list_reduce(list_transform(range(1, ${D + 1}),
           |      i -> (cast(a.embedding[i] as double) - cast(b.embedding[i] as double))
           |         * (cast(a.embedding[i] as double) - cast(b.embedding[i] as double))),
           |      (x, y) -> x + y)) AS dist
           |  FROM embeddings a, wemb b),
           |after10 AS (SELECT query_id, neighbor_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
           |    FROM aknn) WHERE rank <= 10),
           |hb AS (SELECT c.vec_id AS carrier, b.query_id AS query
           |  FROM (SELECT query_id, neighbor_id FROM raw17 WHERE rank <= 10) b
           |  JOIN wcarriers c ON b.neighbor_id = c.vec_id),
           |ha AS (SELECT c.vec_id AS carrier, a.query_id AS query
           |  FROM after10 a JOIN wcarriers c ON a.neighbor_id = c.vec_id),
           |mf AS (SELECT carrier,
           |    sum(CASE WHEN inb IS NOT NULL AND ina IS NULL THEN 1 ELSE 0 END) AS miss,
           |    sum(CASE WHEN ina IS NOT NULL AND inb IS NULL THEN 1 ELSE 0 END) AS false_hits
           |  FROM (SELECT 1 AS inb, carrier, query FROM hb) x
           |  FULL OUTER JOIN (SELECT 1 AS ina, carrier, query FROM ha) y USING (carrier, query)
           |  GROUP BY carrier)
           |SELECT round(avg(miss), 6) AS avg_miss, round(avg(false_hits), 6) AS avg_false,
           |  count(*) AS n_carriers FROM mf""".stripMargin),

    // Byte-histogram stub decode replayed in SQL: the documents fixture is
    // single-byte text (multimodal_meta proves byte length == char length),
    // so per-char codepoints equal payload bytes; the real→double widening
    // mirrors the engine's float32 feature arithmetic exactly.
    "multimodal_features" ->
      """WITH h AS (SELECT doc_id, strlen(text) AS n,
        |  list_transform(string_split(text, ''), c -> ord(c) % 16) AS ms FROM documents)
        |SELECT doc_id AS asset_id,
        |  round(cast(cast(len(list_filter(ms, m -> m = 0)) as real) / cast(greatest(n, 1) as real) as double), 6) AS f0,
        |  round(cast(cast(len(list_filter(ms, m -> m = 15)) as real) / cast(greatest(n, 1) as real) as double), 6) AS f15
        |FROM h ORDER BY asset_id""".stripMargin,

    // K5/A12 — synthetic rows replayed in SQL: per-column μ/σ aggregates plus
    // the identical md5 Box–Muller draw per (row, dim); float32-cast before
    // the 4-decimal round on both sides. μ/σ from exact integer nano-sums —
    // the arithmetic of Attacks.insertGen (σ = sqrt(E[v²] − μ²) over the
    // same bigint sums and double divisions), so the synthetic float32
    // values replay bit-for-bit with no ordered fold on either engine.
    "attack_insert" ->
      s"""WITH base AS (SELECT
         |    ${sumNanosSql("cast(embedding[1] as double)")} AS fs0,
         |    ${sumNanosSql("(cast(embedding[1] as double)) * (cast(embedding[1] as double))")} AS fq0,
         |    ${sumNanosSql(s"cast(embedding[$D] as double)")} AS fs63,
         |    ${sumNanosSql(s"(cast(embedding[$D] as double)) * (cast(embedding[$D] as double))")} AS fq63,
         |    count(*) AS n, max(vec_id) AS maxid
         |  FROM embeddings),
         |st AS (SELECT ${nanoMeanSql("fs0", "n")} AS mu0,
         |    sqrt(greatest(${nanoMeanSql("fq0", "n")} - ${nanoMeanSql("fs0", "n")} * ${nanoMeanSql("fs0", "n")}, 0.0)) AS s0,
         |    ${nanoMeanSql("fs63", "n")} AS mu63,
         |    sqrt(greatest(${nanoMeanSql("fq63", "n")} - ${nanoMeanSql("fs63", "n")} * ${nanoMeanSql("fs63", "n")}, 0.0)) AS s63,
         |    n, maxid
         |  FROM base),
         |ins AS (SELECT maxid + 1 + unnest(range(0, cast(ceil(n * 0.2) as bigint))) AS vec_id,
         |          mu0, s0, mu63, s63 FROM st)
         |SELECT vec_id,
         |  round(cast(cast(mu0 + s0 * ${gaussSql(s"cast(vec_id as varchar) || '#ins0#$Seed'")} as real) as double), 4) + 0.0 AS f0,
         |  round(cast(cast(mu63 + s63 * ${gaussSql(s"cast(vec_id as varchar) || '#ins${D - 1}#$Seed'")} as real) as double), 4) + 0.0 AS f63
         |FROM ins ORDER BY vec_id""".stripMargin,

    // P16 per scheme: the three replayed watermarked tables (RS codec flip,
    // TVP th-tail flip, SCPW recursive rejection embed) each joined back to
    // the raw table under the fold-L2; exact nano-sums + identical double
    // mean ops.
    "mean_distortion_schemes" -> {
      def distRow(name: String, wm: String): String =
        s"""SELECT '$name' AS scheme, ${sumNanosSql("dist")} AS sum_dist_nanos,
           |  count(*) AS n,
           |  cast(${sumNanosSql("dist")} as double) / 1.0e9 / cast(count(*) as double) AS mean_l2
           |FROM (SELECT sqrt(${l2sqSql("e.embedding", "w.embedding")}) AS dist
           |      FROM embeddings e JOIN $wm w ON e.vec_id = w.vec_id)""".stripMargin
      "WITH RECURSIVE " + graphCtes.stripPrefix("WITH ") + ",\n" +
        rsCodecCtes + ",\n" + tvpCandCtes + ",\n" + tvpThCtes(0.1, "_c0") + ",\n" +
        s"""twmvals_c0 AS (SELECT vec_id, pos,
           |    cast(v + ((wm_bit + pos) % 2 - oldbit) *
           |      (CASE WHEN bp < intlen THEN pow(2.0, intlen - 1 - bp)
           |            ELSE pow(2.0, -(bp - intlen)) END) as real) AS newv
           |  FROM tcarriers_c0),
           |twemb_c0 AS MATERIALIZED (SELECT e.vec_id,
           |    CASE WHEN w.vec_id IS NULL THEN e.embedding
           |      ELSE list_transform(range(1, ${D + 1}),
           |             i -> CASE WHEN i = w.pos + 1 THEN w.newv ELSE e.embedding[i] END)
           |    END AS embedding
           |  FROM embeddings e LEFT JOIN twmvals_c0 w ON e.vec_id = w.vec_id),""".stripMargin + "\n" +
        scpwEmbedCtes(Strength) + "\n" +
        distRow("rs", "wemb") + "\nUNION ALL\n" +
        distRow("scpw", "semb") + "\nUNION ALL\n" +
        distRow("tvp", "twemb_c0") + "\nORDER BY scheme"
    },

    // P16 — K3-perturbed rows differ only at the keyed dim, so the l2 fold
    // reduces to sqrt(dd²) exactly (zero terms add exactly); unmodified rows
    // contribute exact 0.0. Nano-sum is exact; the mean repeats the identical
    // double ops.
    "mean_distortion" ->
      s"""WITH ranked AS (
         |  SELECT vec_id, embedding,
         |    row_number() OVER (ORDER BY md5(cast(vec_id as varchar) || '#modrow#$Seed'), vec_id) AS rn,
         |    count(*) OVER () AS nn
         |  FROM embeddings),
         |stats AS (SELECT cast(min(embedding[${modDim0 + 1}]) as double) AS mn,
         |          cast(max(embedding[${modDim0 + 1}]) as double) AS mx
         |          FROM embeddings),
         |diffs AS (SELECT CASE WHEN rn <= ceil(nn * 0.2)
         |    THEN sqrt((cast(cast(mn + (mx - mn) *
         |        (cast('0x' || substr(md5(cast(vec_id as varchar) || '#modval#$Seed'), 1, 13) as bigint)
         |          / 4503599627370496.0) as real) as double) - cast(embedding[${modDim0 + 1}] as double))
         |      * (cast(cast(mn + (mx - mn) *
         |        (cast('0x' || substr(md5(cast(vec_id as varchar) || '#modval#$Seed'), 1, 13) as bigint)
         |          / 4503599627370496.0) as real) as double) - cast(embedding[${modDim0 + 1}] as double)))
         |    ELSE 0.0 END AS dist
         |  FROM ranked, stats)
         |SELECT ${sumNanosSql("dist")} AS sum_dist_nanos, count(*) AS n,
         |  cast(${sumNanosSql("dist")} as double) / 1.0e9 / cast(count(*) as double) AS mean_l2
         |FROM diffs""".stripMargin,
    "q1_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sumMicrosSql("l_quantity")} AS sum_qty_micros,
         |  ${sumMicrosSql("l_extendedprice")} AS sum_base_price_micros,
         |  ${sumMicrosSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price_micros,
         |  ${sumMicrosSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge_micros,
         |  count(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "wm_content_id" ->
      s"""SELECT vec_id, ${cidSql(dims.init.toSeq, key.scale)} AS content_id
         |FROM embeddings ORDER BY vec_id""".stripMargin,

    "wm_group_sizes" ->
      s"""WITH c AS (SELECT ${cidSql(dims.init.toSeq, key.scale)} AS content_id FROM embeddings)
         |SELECT ${md5ModSql("content_id", WM.length)} AS group_id, count(*) AS n
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "attack_random_delete" ->
      s"""WITH ranked AS (
         |  SELECT vec_id,
         |    row_number() OVER (ORDER BY md5(cast(vec_id as varchar) || '#del#$Seed'), vec_id) AS rn,
         |    count(*) OVER () AS n
         |  FROM embeddings)
         |SELECT vec_id FROM ranked WHERE rn <= n - ceil(n * cast($DeleteP as double)) ORDER BY vec_id""".stripMargin,

    "knn_topk_grouped_split" ->
      s"""WITH g AS (SELECT vec_id, embedding, vec_id % 3 AS grp FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qe, grp FROM g WHERE vec_id < 100),
         |pairs AS (
         |  SELECT q.grp, q.query_id, c.vec_id AS neighbor_id,
         |    sqrt(list_reduce(list_transform(range(1, ${D + 1}),
         |      i -> (cast(qe[i] as double) - cast(c.embedding[i] as double))
         |         * (cast(qe[i] as double) - cast(c.embedding[i] as double))),
         |      (a, b) -> a + b)) AS dist
         |  FROM q JOIN g c ON q.grp = c.grp)
         |SELECT cast(grp as bigint) AS grp, query_id, neighbor_id, dist,
         |  cast(row_number() OVER (PARTITION BY grp, query_id ORDER BY dist, neighbor_id) as bigint) AS rank
         |FROM pairs QUALIFY rank <= 5 ORDER BY grp, query_id, rank""".stripMargin,

    "knn_topk_sample" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 100),
         |pairs AS (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |    sqrt(list_reduce(list_transform(range(1, ${D + 1}),
         |      i -> (cast(qe[i] as double) - cast(c.embedding[i] as double))
         |         * (cast(qe[i] as double) - cast(c.embedding[i] as double))),
         |      (a, b) -> a + b)) AS dist
         |  FROM q, embeddings c)
         |SELECT query_id, neighbor_id, dist,
         |  cast(row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) as bigint) AS rank
         |FROM pairs QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "scpw_group_sizes" ->
      s"""WITH c AS (SELECT ${cidSql(0 until scpwKey.topK, scpwKey.scale)} AS content_id FROM embeddings)
         |SELECT ${md5ModSql("content_id", WM.length)} AS group_id, count(*) AS n
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "scpw_column_stats" ->
      s"""SELECT
         |  ${sumNanosSql(s"cast(embedding[${scpwKey.position + 1}] as double)")} AS sum_val_nanos,
         |  ${sumNanosSql(s"cast(embedding[${scpwKey.position + 1}] as double) * cast(embedding[${scpwKey.position + 1}] as double)")} AS sum_sq_nanos,
         |  count(*) AS n
         |FROM embeddings""".stripMargin,

    "tm_match_clean" ->
      s"""WITH ids AS (SELECT vec_id, ${cidSql(0 until tmKey.k, tmKey.scale)} AS id FROM embeddings),
         |pks AS (SELECT id, min(vec_id) AS orig_id FROM ids WHERE vec_id < ${tmKey.nw} GROUP BY id)
         |SELECT pks.orig_id, ids.id, ids.vec_id AS wm_id
         |FROM ids JOIN pks ON ids.id = pks.id
         |ORDER BY wm_id""".stripMargin,

    "text_stats" ->
      s"""SELECT doc_id,
         |  cast(len(string_split(text, ' ')) as bigint) AS n_tokens,
         |  -- the BPE-ish boundary split (word runs + single punctuation
         |  -- marks) counts as |\\w+ matches| + |non-word non-space chars| —
         |  -- the lookaround-free form RE2 can evaluate
         |  cast(len(regexp_extract_all(text, '[0-9A-Za-z_]+')) +
         |    length(regexp_replace(text, '[0-9A-Za-z_\\s]', '', 'g')) as bigint) AS n_tokens_regex,
         |  cast(length(text) as bigint) AS n_chars_actual,
         |  ${TextOps.qualityScoreSql("text")} AS quality,
         |  ${TextOps.langIdSql("text")} AS pred_lang,
         |  ${TextOps.fingerprintSql("text")} AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,

    // Deterministic top-k: the (n DESC, token) total order makes the cut
    // tie-free, so the DuckDB LIMIT and Spark's TakeOrderedAndProject select
    // the same 100 rows.
    "text_top_tokens" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE length(token) > 0
        |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin,

    // Every CMS cell and estimate rebuilt literally: same keyed md5-mod
    // bucket hash, same min-over-rows estimator.
    "text_heavy_hitters_cms" -> {
      val bucket = md5ModSql("cast(j AS varchar) || '#' || token", 1024)
      s"""WITH t AS (SELECT token, count(*) AS n
         |    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         |    WHERE length(token) > 0 GROUP BY 1),
         |  js AS (SELECT * FROM (VALUES (0), (1), (2), (3)) j(j)),
         |  cms AS (SELECT j, $bucket AS b, cast(sum(n) as bigint) AS c
         |    FROM t, js GROUP BY 1, 2),
         |  top AS (SELECT token, n FROM t ORDER BY n DESC, token LIMIT 20),
         |  probe AS (SELECT top.token, top.n, js.j, $bucket AS b FROM top, js)
         |SELECT probe.token, cast(probe.n as bigint) AS n_exact,
         |  cast(min(cms.c) as bigint) AS n_cms
         |FROM probe JOIN cms ON cms.j = probe.j AND cms.b = probe.b
         |GROUP BY 1, 2 ORDER BY n_exact DESC, token""".stripMargin
    },

    // Integer ppm arithmetic — no double division to drift between engines.
    "corpus_mix" ->
      """WITH t AS (SELECT source, lang,
        |    cast(len(string_split(text, ' ')) as bigint) AS tk FROM documents),
        |g AS (SELECT source, lang, count(*) AS n_docs,
        |    cast(sum(tk) as bigint) AS n_tokens FROM t GROUP BY 1, 2),
        |tot AS (SELECT cast(sum(tk) as bigint) AS tot FROM t)
        |SELECT source, lang, n_docs, n_tokens,
        |  (n_tokens * 1000000) // tot AS token_share_ppm
        |FROM g, tot ORDER BY source, lang""".stripMargin,

    // Same keyed md5 draws (full-128-bit mod) as the engine — membership is
    // content-deterministic, so the oracle reproduces it row-for-row.
    "sample_stratified" -> {
      val strat = md5ModSql("'strat|' || cast(doc_id as varchar)", 1000)
      val draw  = md5ModSql("'split|' || cast(doc_id as varchar)", 10)
      s"""SELECT lang,
         |  CASE WHEN $draw <= 7 THEN 'train'
         |       WHEN $draw = 8 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs, min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM documents WHERE $strat < 100
         |GROUP BY 1, 2 ORDER BY lang, split""".stripMargin
    },

    // sqrt + largest-remainder apportionment + keyed-md5 per-source ranks —
    // every step exact or correctly-rounded, so quota AND membership
    // replay; -1 sentinels keep the summary columns non-nullable.
    "sample_mixture_sqrt" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |w AS (SELECT source, n_docs, sqrt(cast(n_docs as double)) AS w FROM c),
        |tot AS (SELECT list_reduce(list_prepend(0.0, list(w ORDER BY source)), (a, b) -> a + b) AS bw FROM w),
        |q0 AS (SELECT source, n_docs,
        |    cast(floor(120.0 * w / bw) as bigint) AS base,
        |    120.0 * w / bw - floor(120.0 * w / bw) AS frac
        |  FROM w, tot),
        |q1 AS (SELECT *, row_number() OVER (ORDER BY frac DESC, source) AS fr FROM q0),
        |quota AS (SELECT source, n_docs,
        |    base + (CASE WHEN fr <= (SELECT 120 - sum(base) FROM q0) THEN 1 ELSE 0 END) AS quota
        |  FROM q1),
        |rk AS (SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('mix|' || cast(doc_id as varchar)), doc_id) AS rn
        |  FROM documents),
        |smp AS (SELECT r.source, r.doc_id FROM rk r JOIN quota q USING (source)
        |  WHERE r.rn <= q.quota)
        |SELECT q.source, q.n_docs, q.quota,
        |  count(s.doc_id) AS n_sampled,
        |  coalesce(min(s.doc_id), -1) AS first_doc,
        |  coalesce(max(s.doc_id), -1) AS last_doc,
        |  coalesce(cast(sum(s.doc_id) as bigint), -1) AS sum_doc_ids
        |FROM quota q LEFT JOIN smp s ON s.source = q.source
        |GROUP BY 1, 2, 3 ORDER BY q.source""".stripMargin,

    // Priority = w/u is one IEEE division over the replayed quality score
    // and the shared 52-bit md5 uniform — the sampled set reproduces
    // row-for-row, rank-for-rank. The draw is (bits+1)/2^52 ∈ (0,1] (DLT
    // requires u > 0; the integer +1 is exact pre-division in both engines).
    "sample_weighted_priority" ->
      s"""WITH p AS (SELECT doc_id, lang,
         |    ${TextOps.qualityScoreSql("text")} AS w,
         |    ${TextOps.qualityScoreSql("text")} /
         |      (cast(cast('0x' || substr(md5('wsamp|' || cast(doc_id as varchar)), 1, 13) as bigint) + 1 as double)
         |        / 4503599627370496.0) AS pri
         |  FROM documents)
         |SELECT rank, doc_id, lang, w_us FROM (
         |  SELECT doc_id, lang, ${microsSql("w")} AS w_us,
         |    row_number() OVER (ORDER BY pri DESC, doc_id) AS rank
         |  FROM p) WHERE rank <= 100 ORDER BY rank""".stripMargin,

    "pack_sequences" ->
      """WITH t AS (SELECT source, doc_id,
        |    cast(len(string_split(text, ' ')) as bigint) AS tk FROM documents),
        |c AS (SELECT source, doc_id, tk,
        |    cast(sum(tk) OVER (PARTITION BY source ORDER BY doc_id) as bigint) AS cum
        |  FROM t)
        |SELECT source, (cum - 1) // 2048 AS window_id, count(*) AS n_docs,
        |  cast(sum(tk) as bigint) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY source, window_id""".stripMargin,

    // Same keyed Box–Muller matrix (float32 lanes), same sequential folds,
    // same quantize-then-render order as the engine — the JL projection
    // replays bit-for-bit.
    "embed_project" ->
      s"""WITH jproj AS MATERIALIZED (
         |  SELECT t, list(cast(cast(g as real) as double) ORDER BY j) AS r
         |  FROM (SELECT ts.range AS t, js.range AS j,
         |          ${gaussSql("'jlproj|' || cast(ts.range as varchar) || '|' || cast(js.range as varchar)")} AS g
         |        FROM range(0, 16) ts, range(0, $D) js)
         |  GROUP BY t),
         |ys AS (
         |  SELECT e.vec_id, p.t,
         |    cast(cast(list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
         |      i -> cast(e.embedding[i] as double) * p.r[i])), (a, b) -> a + b) / 4.0 as real) as double) AS yq
         |  FROM embeddings e, jproj p),
         |pagg AS (
         |  SELECT vec_id,
         |    cast(floor(min(CASE WHEN t = 0 THEN yq END) * 1000000.0 + 0.5) as bigint) AS y0_micros,
         |    cast(floor(min(CASE WHEN t = 15 THEN yq END) * 1000000.0 + 0.5) as bigint) AS y15_micros,
         |    cast(floor(list_reduce(list_prepend(0.0, list(yq * yq ORDER BY t)),
         |      (a, b) -> a + b) * 1000000000.0 + 0.5) as bigint) AS proj_sq_nanos
         |  FROM ys GROUP BY vec_id),
         |osq AS (
         |  SELECT vec_id, cast(floor(list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
         |      i -> cast(embedding[i] as double) * cast(embedding[i] as double))),
         |      (a, b) -> a + b) * 1000000000.0 + 0.5) as bigint) AS orig_sq_nanos
         |  FROM embeddings)
         |SELECT a.vec_id, y0_micros, y15_micros, orig_sq_nanos, proj_sq_nanos
         |FROM pagg a JOIN osq o ON o.vec_id = a.vec_id
         |ORDER BY a.vec_id""".stripMargin,

    // PQ replay: codebook = the 16 keyed-md5 sample rows (code = sample
    // rank), assignment = per-(vector, subspace) fold-L2 argmin (ties to the
    // lower code), reconstruction error = order-free bigint micro sums.
    "embed_pq" ->
      (s"WITH $pqCtes\n" +
        """SELECT b.vec_id, cast(b.u as bigint) AS subspace, cast(b.code as bigint) AS code,
          |  cast(list_reduce(list_transform(range(1, 9), j ->
          |    cast(floor(abs(cast(c.embedding[b.u * 8 + j] as double) - cast(e.embedding[b.u * 8 + j] as double))
          |      * 1000000.0 + 0.5) as bigint)),
          |    (x, y) -> x + y) as bigint) AS err_micros
          |FROM best b JOIN cb c ON c.code = b.code JOIN embeddings e ON e.vec_id = b.vec_id
          |ORDER BY b.vec_id, subspace""".stripMargin),

    // ADC scan replay: reconstruct every corpus row from its codes, then
    // the exact fold-L2 window against the query sample — the asymmetric
    // distance IS the distance to the reconstruction.
    "ann_pq_topk" ->
      (s"WITH $pqCtes,\n$pqReconCtes,\n" +
        s"""pqp AS (SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id, ${pqAdcDist("q", "r")} AS dist
           |  FROM embeddings q, rec r WHERE q.vec_id < 100)
           |SELECT query_id, neighbor_id, dist, cast(rank as bigint) AS rank FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
           |  FROM pqp) WHERE rank <= 10
           |ORDER BY query_id, rank""".stripMargin),

    // ADC recall@10 vs the exact uncompressed fold-L2 top-10.
    "ann_pq_recall" ->
      (s"WITH $pqCtes,\n$pqReconCtes,\n" +
        s"""pqp AS (SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id, ${pqAdcDist("q", "r")} AS dist
           |  FROM embeddings q, rec r WHERE q.vec_id < 100),
           |gk AS (SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
           |    FROM pqp) WHERE rank <= 10),
           |xp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |    sqrt(list_reduce(list_transform(range(1, ${D + 1}), i ->
           |      (cast(a.embedding[i] as double) - cast(b.embedding[i] as double))
           |      * (cast(a.embedding[i] as double) - cast(b.embedding[i] as double))),
           |      (x, y) -> x + y)) AS dist
           |  FROM embeddings a, embeddings b WHERE a.vec_id < 100),
           |bk AS (SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
           |    FROM xp) WHERE rank <= 10)
           |SELECT b.query_id, cast(count(i.neighbor_id) as bigint) AS n_hit,
           |  cast(count(i.neighbor_id) as double) / count(*) AS recall
           |FROM bk b LEFT JOIN gk i
           |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
           |GROUP BY b.query_id ORDER BY 1""".stripMargin),

    // IVFPQ replay: the IVF probe chain (cent/nrm/asg/probe) composed with
    // the PQ reconstruction chain (cb/best/rec); candidates are scored by
    // the fold-cosine against the RECONSTRUCTION — the asymmetric ADC form.
    "ann_ivfpq_topk" ->
      (s"WITH $pqCtes,\n$pqReconCtes,\n$ivfIndexCtes,\n$ivfProbeCte,\n" +
        s"""rsq AS (SELECT r.vec_id, r.re,
           |    list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
           |      i -> cast(r.re[i] as double) * cast(r.re[i] as double))), (acc, x) -> acc + x) AS sq
           |  FROM rec r),
           |candq AS (
           |  SELECT p.query_id, a.vec_id AS neighbor_id,
           |    CASE WHEN sqrt(p.qsq) * sqrt(r.sq) = 0 THEN 0.0 ELSE
           |      list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
           |        i -> cast(p.qe[i] as double) * cast(r.re[i] as double))), (acc, x) -> acc + x)
           |      / (sqrt(p.qsq) * sqrt(r.sq)) END AS score
           |  FROM probe p JOIN asg a ON p.cluster = a.cluster JOIN rsq r ON r.vec_id = a.vec_id)
           |SELECT query_id, neighbor_id, score, cast(rank as bigint) AS rank FROM (
           |  SELECT query_id, neighbor_id, score,
           |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
           |  FROM candq) WHERE rank <= 10
           |ORDER BY query_id, rank""".stripMargin),

    // IVFPQ recall replay: composite top-10 (candq, as ann_ivfpq_topk) vs
    // brute-cosine top-10 over the same nrm frame.
    "ann_ivfpq_recall" ->
      (s"WITH $pqCtes,\n$pqReconCtes,\n$ivfIndexCtes,\n$ivfProbeCte,\n" +
        s"""rsq AS (SELECT r.vec_id, r.re,
           |    list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
           |      i -> cast(r.re[i] as double) * cast(r.re[i] as double))), (acc, x) -> acc + x) AS sq
           |  FROM rec r),
           |candq AS (
           |  SELECT p.query_id, a.vec_id AS neighbor_id,
           |    CASE WHEN sqrt(p.qsq) * sqrt(r.sq) = 0 THEN 0.0 ELSE
           |      list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
           |        i -> cast(p.qe[i] as double) * cast(r.re[i] as double))), (acc, x) -> acc + x)
           |      / (sqrt(p.qsq) * sqrt(r.sq)) END AS score
           |  FROM probe p JOIN asg a ON p.cluster = a.cluster JOIN rsq r ON r.vec_id = a.vec_id),
           |gk AS (SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
           |    FROM candq) WHERE rank <= 10),
           |bpairs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    CASE WHEN sqrt(q.sq) * sqrt(c.sq) = 0 THEN 0.0 ELSE
           |      list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
           |        i -> cast(q.embedding[i] as double) * cast(c.embedding[i] as double))), (acc, x) -> acc + x)
           |      / (sqrt(q.sq) * sqrt(c.sq)) END AS score
           |  FROM nrm q, nrm c WHERE q.vec_id < 100),
           |bk AS (SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
           |    FROM bpairs) WHERE rank <= 10)
           |SELECT b.query_id, cast(count(i.neighbor_id) as bigint) AS n_hit,
           |  cast(count(i.neighbor_id) as double) / count(*) AS recall
           |FROM bk b LEFT JOIN gk i
           |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
           |GROUP BY b.query_id ORDER BY 1""".stripMargin),

    // IVFADC replay: the IVF chain (cent/asg/probe) + the residual-encoding
    // chain (rcb → rcbr residual codebook, rsd per-row residuals, rbest
    // assignment, arec = centroid + codeword float32-cast), scored by the
    // asymmetric fold-cosine.
    "ann_ivfadc_topk" ->
      (s"WITH $ivfIndexCtes,\n$ivfAdcCtes,\n$ivfAdcCandCte\n" +
        """SELECT query_id, neighbor_id, score, cast(rank as bigint) AS rank FROM (
          |  SELECT query_id, neighbor_id, score,
          |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
          |  FROM acand) WHERE rank <= 10
          |ORDER BY query_id, rank""".stripMargin),

    // IVFADC recall replay: residual-composite top-10 vs brute-cosine
    // top-10 over the same nrm frame (the ann_ivfpq_recall shape with the
    // residual reconstruction swapped in).
    "ann_ivfadc_recall" ->
      (s"WITH $ivfIndexCtes,\n$ivfAdcCtes,\n$ivfAdcCandCte,\n" +
        s"""gk AS (SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
           |    FROM acand) WHERE rank <= 10),
           |bpairs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    CASE WHEN sqrt(q.sq) * sqrt(c.sq) = 0 THEN 0.0 ELSE
           |      list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
           |        i -> cast(q.embedding[i] as double) * cast(c.embedding[i] as double))), (acc, x) -> acc + x)
           |      / (sqrt(q.sq) * sqrt(c.sq)) END AS score
           |  FROM nrm q, nrm c WHERE q.vec_id < 100),
           |bk AS (SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
           |    FROM bpairs) WHERE rank <= 10)
           |SELECT b.query_id, cast(count(i.neighbor_id) as bigint) AS n_hit,
           |  cast(count(i.neighbor_id) as double) / count(*) AS recall
           |FROM bk b LEFT JOIN gk i
           |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
           |GROUP BY b.query_id ORDER BY 1""".stripMargin),

    // Per-token −ln p float32-quantized before the micros render, so the
    // two engines' libm lanes agree; sums are exact bigints, the mean one
    // double division.
    "text_surprisal" ->
      """WITH tk AS (SELECT doc_id, t AS token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE length(t) > 0),
        |v AS (SELECT token, count(*) AS cnt FROM tk GROUP BY 1),
        |tot AS (SELECT cast(sum(cnt) as bigint) AS tot FROM v),
        |sc AS (SELECT tk.doc_id,
        |    cast(floor(cast(cast(-ln(cast(cnt as double) / tot) as real) as double)
        |      * 1000000.0 + 0.5) as bigint) AS sm
        |  FROM tk JOIN v USING (token), tot)
        |SELECT doc_id, cast(count(*) as bigint) AS n_tokens,
        |  cast(sum(sm) as bigint) AS surprisal_micros,
        |  cast(sum(sm) as double) / count(*) AS mean_surprisal
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,

    // Bounded-broadcast variant: only the top-K (cnt DESC, token ASC) types
    // score individually; every tail token takes the one smoothed estimate
    // −ln(tail_mass/total/n_tail_types). Same f32-quantized micros lanes.
    "text_surprisal_topk" ->
      s"""WITH tk AS (SELECT doc_id, t AS token FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
         |  WHERE length(t) > 0),
         |v AS (SELECT token, count(*) AS cnt FROM tk GROUP BY 1),
         |tot AS (SELECT cast(sum(cnt) as bigint) AS tot FROM v),
         |topk AS (SELECT token, cnt FROM v ORDER BY cnt DESC, token LIMIT $SurprisalTopK),
         |tail AS (SELECT coalesce(cast(sum(cnt) as bigint), 0) AS tail_cnt,
         |    cast(count(*) as bigint) AS n_tail
         |  FROM v WHERE token NOT IN (SELECT token FROM topk)),
         |sc AS (SELECT tk.doc_id, k.cnt,
         |    CASE WHEN k.cnt IS NOT NULL
         |      THEN cast(floor(cast(cast(-ln(cast(k.cnt as double) / tot) as real) as double)
         |        * 1000000.0 + 0.5) as bigint)
         |      ELSE cast(floor(cast(cast(-ln(cast(tail_cnt as double) / tot / n_tail) as real) as double)
         |        * 1000000.0 + 0.5) as bigint) END AS sm
         |  FROM tk LEFT JOIN topk k USING (token), tot, tail)
         |SELECT doc_id, cast(count(*) as bigint) AS n_tokens,
         |  cast(sum(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END) as bigint) AS n_oov,
         |  cast(sum(sm) as bigint) AS surprisal_micros,
         |  cast(sum(sm) as double) / count(*) AS mean_surprisal
         |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,

    // Per-doc repetition fractions rendered as integer micros (IEEE double
    // division + floor identical in both engines), flag thresholds compared
    // on the micros integers; per-doc top-2-gram counts via unnest+group.
    "text_quality_flags" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |    string_split(text, chr(10)) AS ls FROM documents),
        |base AS (SELECT doc_id,
        |    len(ls) AS nl, len(list_distinct(ls)) AS ndl,
        |    len(ws) AS nt, len(list_distinct(ws)) AS ndt,
        |    CASE WHEN len(ws) >= 2 THEN len(ws) - 1 ELSE 0 END AS n2,
        |    CASE WHEN len(ws) >= 2 THEN len(list_distinct(
        |      list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])))
        |      ELSE 0 END AS nd2
        |  FROM t),
        |gc AS (SELECT doc_id, g2, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |      i -> ws[i] || ' ' || ws[i+1])) AS g2 FROM t WHERE len(ws) >= 2)
        |  GROUP BY 1, 2),
        |mx AS (SELECT doc_id, max(c) AS maxc FROM gc GROUP BY 1),
        |m AS (SELECT
        |    cast(floor((CASE WHEN nl = 0 THEN 0.0
        |      ELSE 1.0 - cast(ndl as double) / nl END) * 1000000.0 + 0.5) as bigint) AS dl,
        |    cast(floor((CASE WHEN n2 = 0 THEN 0.0
        |      ELSE 1.0 - cast(nd2 as double) / n2 END) * 1000000.0 + 0.5) as bigint) AS d2,
        |    cast(floor((CASE WHEN nt = 0 THEN 0.0
        |      ELSE 1.0 - cast(ndt as double) / nt END) * 1000000.0 + 0.5) as bigint) AS dt,
        |    cast(floor((CASE WHEN nt = 0 OR maxc IS NULL THEN 0.0
        |      ELSE 2.0 * maxc / nt END) * 1000000.0 + 0.5) as bigint) AS t2
        |  FROM base b LEFT JOIN mx USING (doc_id)),
        |a AS (SELECT cast(count(*) as bigint) AS n_docs,
        |    cast(sum(CASE WHEN d2 > 300000 THEN 1 ELSE 0 END) as bigint) AS f_2g,
        |    cast(sum(d2) as bigint) AS s_2g,
        |    cast(sum(CASE WHEN dl > 300000 THEN 1 ELSE 0 END) as bigint) AS f_ln,
        |    cast(sum(dl) as bigint) AS s_ln,
        |    cast(sum(CASE WHEN dt > 500000 THEN 1 ELSE 0 END) as bigint) AS f_tk,
        |    cast(sum(dt) as bigint) AS s_tk,
        |    cast(sum(CASE WHEN t2 > 200000 THEN 1 ELSE 0 END) as bigint) AS f_t2,
        |    cast(sum(t2) as bigint) AS s_t2
        |  FROM m)
        |SELECT * FROM (
        |  SELECT 'dup_2grams' AS rule, f_2g AS n_flagged, s_2g AS sum_metric_micros, n_docs FROM a
        |  UNION ALL SELECT 'dup_lines', f_ln, s_ln, n_docs FROM a
        |  UNION ALL SELECT 'dup_tokens', f_tk, s_tk, n_docs FROM a
        |  UNION ALL SELECT 'top_2gram', f_t2, s_t2, n_docs FROM a)
        |ORDER BY rule""".stripMargin,

    // PII scrub replay: identical planted augmentation, RE2 editions of
    // the same pattern strings (Pii.redactSql/countSql), md5 of the
    // scrubbed text byte-for-byte.
    "text_pii_redact" ->
      (s"""WITH aug AS (SELECT doc_id, text ||
         |    CASE WHEN doc_id % 4 = 0 THEN ' contact user' || cast(doc_id as varchar) || '@example.com now'
         |         WHEN doc_id % 4 = 1 THEN ' from 10.' || cast(doc_id % 256 as varchar) || '.0.' || cast(doc_id % 97 as varchar) || ' logged'
         |         WHEN doc_id % 4 = 2 THEN ' call +1 555 ' || cast(doc_id % 1000 + 1000 as varchar) || ' today'
         |         ELSE '' END AS aug
         |  FROM documents)
         |SELECT doc_id,
         |  ${Pii.countSql("aug", Pii.EmailRe)} AS n_email,
         |  ${Pii.countSql("aug", Pii.Ipv4Re)} AS n_ip,
         |  ${Pii.countSql("aug", Pii.PhoneRe)} AS n_phone,
         |  cast(length(${Pii.redactSql("aug")}) as bigint) AS len_redacted,
         |  md5(${Pii.redactSql("aug")}) AS md5_redacted
         |FROM aug ORDER BY doc_id""".stripMargin),

    // float→double→round arithmetic is IEEE-identical in both engines
    // (round is half-away-from-zero on doubles in both); error totals fold
    // as integer micros, so partition order cannot drift the sum.
    "embed_quantize" ->
      s"""WITH s AS (SELECT vec_id, embedding,
         |    list_reduce(list_prepend(0.0, list_transform(embedding,
         |      x -> abs(cast(x as double)))), (a, b) -> greatest(a, b)) / 127.0 AS scale
         |  FROM embeddings),
         |q AS (SELECT vec_id, scale, embedding,
         |    list_transform(range(1, ${D + 1}), i -> CASE WHEN scale = 0.0 THEN cast(0 as bigint)
         |      ELSE cast(round(cast(embedding[i] as double) / scale) as bigint) END) AS qs
         |  FROM s)
         |SELECT vec_id,
         |  cast(list_reduce(list_prepend(cast(0 as bigint), list_transform(qs, v -> abs(v))),
         |    (a, b) -> greatest(a, b)) as bigint) AS q_max,
         |  ${microsSql("scale")} AS scale_micros,
         |  cast(list_reduce(list_prepend(cast(0 as bigint), list_transform(range(1, ${D + 1}),
         |      i -> cast(floor(abs(qs[i] * scale - cast(embedding[i] as double)) * 1000000.0 + 0.5) as bigint))),
         |    (a, b) -> a + b) as bigint) AS err_total_micros
         |FROM q ORDER BY vec_id""".stripMargin,

    // Decimal sums are exact, so the final avg is one double division of two
    // exact values in both engines.
    "profile_columns" -> {
      def block(c: String) =
        s"""SELECT '$c' AS col_name, count($c) AS n,
           |  count(DISTINCT $c) AS n_distinct,
           |  min($c) AS vmin, max($c) AS vmax,
           |  cast(sum(cast($c AS decimal(18,2))) AS double) / count($c) AS avg
           |FROM lineitem""".stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(block).mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY col_name")
    },

    // The KMV estimator replayed literally: same 48-bit md5-prefix hash
    // (Horner fold = conv base 16), same bottom-k selection, same integer
    // division — the sketch is deterministic, so this is an exact compare
    // of an approximate algorithm.
    "profile_distinct_kmv" -> kmvOracle,

    // The Aggregator path must land on the window path's exact numbers.
    "profile_distinct_kmv_agg" -> kmvOracle,

    // Every Bloom bit rebuilt literally: same keyed md5-mod positions, same
    // 63-bit words, same bit_or/bit_count/min-over-probes — an exact
    // compare of the whole filter, its candidate set, and its
    // false-positive population.
    "profile_bloom" -> {
      val pos = md5ModSql("cast(j AS varchar) || '#' || cast(user_id AS varchar)", 4096)
      s"""WITH dim AS (SELECT DISTINCT user_id FROM events
         |    WHERE event_type = 'error' AND user_id % 5 = 0),
         |probes AS (SELECT DISTINCT user_id FROM events),
         |js AS (SELECT * FROM (VALUES (0), (1), (2)) j(j)),
         |dpos AS (SELECT DISTINCT $pos AS pos
         |  FROM (SELECT user_id, j FROM dim, js) t(user_id, j)),
         |bloom AS (SELECT pos // 63 AS word,
         |    cast(bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) as bigint) AS bits
         |  FROM dpos GROUP BY 1),
         |ppos AS (SELECT user_id, j, $pos AS pos
         |  FROM (SELECT user_id, j FROM probes, js) t(user_id, j)),
         |hits AS (SELECT pp.user_id,
         |    CASE WHEN (coalesce(b.bits, 0) &
         |          (CAST(1 AS BIGINT) << CAST(pp.pos % 63 AS INT))) != 0
         |      THEN 1 ELSE 0 END AS hit
         |  FROM ppos pp LEFT JOIN bloom b ON b.word = pp.pos // 63),
         |verd AS (SELECT user_id, min(hit) AS might FROM hits GROUP BY 1),
         |sb AS (SELECT cast(coalesce(sum(bit_count(bits)), 0) as bigint) AS nsb
         |  FROM bloom)
         |SELECT cast(count(*) as bigint) AS n_probes,
         |  cast(sum(CASE WHEN d.user_id IS NOT NULL THEN 1 ELSE 0 END) as bigint)
         |    AS n_members,
         |  cast(sum(v.might) as bigint) AS n_might,
         |  cast(sum(CASE WHEN v.might = 1 AND d.user_id IS NULL THEN 1 ELSE 0 END)
         |    as bigint) AS n_false_pos,
         |  cast(sum(CASE WHEN v.might = 0 AND d.user_id IS NOT NULL THEN 1 ELSE 0 END)
         |    as bigint) AS n_false_neg,
         |  (SELECT nsb FROM sb) AS n_set_bits
         |FROM verd v LEFT JOIN dim d ON d.user_id = v.user_id""".stripMargin
    },

    // Histogram-cumsum exact quantiles, quantile_disc semantics from first
    // principles (smallest value with cum ≥ ceil(p·n)) — no engine
    // built-in's interpolation rule on either side.
    "profile_quantiles" ->
      """WITH h AS (SELECT source, n_chars, count(*) AS c FROM documents GROUP BY 1, 2),
        |cum AS (SELECT source, n_chars,
        |    sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum FROM h),
        |tot AS (SELECT source, sum(c) AS n FROM h GROUP BY 1)
        |SELECT s.source, cast(t.n AS bigint) AS n_docs,
        |  min(CASE WHEN s.cum >= ceil(0.5 * cast(t.n AS double)) THEN s.n_chars END) AS p50,
        |  min(CASE WHEN s.cum >= ceil(0.9 * cast(t.n AS double)) THEN s.n_chars END) AS p90,
        |  min(CASE WHEN s.cum >= ceil(0.99 * cast(t.n AS double)) THEN s.n_chars END) AS p99
        |FROM cum s JOIN tot t USING (source)
        |GROUP BY s.source, t.n ORDER BY 1""".stripMargin,

    // The bottom-k-sample quantile sketch replayed literally: same 48-bit
    // md5-prefix row hash (Horner fold), same k-smallest selection, same
    // integer per-mille rank — exact compare of an approximate algorithm,
    // like the KMV replay above.
    "profile_quantiles_sketch" ->
      """WITH h AS (SELECT event_type, value,
        |    list_reduce(list_transform(
        |      string_split(substring(md5(cast(event_id AS varchar)), 1, 12), ''),
        |      x -> cast(strpos('0123456789abcdef', x) - 1 AS bigint)),
        |      (a, b) -> a * 16 + b) AS hv
        |  FROM events WHERE value IS NOT NULL),
        |sel AS (SELECT event_type, value, hv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv, value) AS rk
        |  FROM h),
        |ranked AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, hv) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS m
        |  FROM sel WHERE rk <= 256),
        |qs AS (SELECT unnest([100, 500, 900, 990]) AS q_pm)
        |SELECT r.event_type, q.q_pm, cast(r.m as bigint) AS n_sample,
        |  cast(floor(r.value * 1000000.0 + 0.5) as bigint) AS est_value_micros
        |FROM ranked r JOIN qs q
        |  ON r.rn = greatest(1, (cast(q.q_pm as bigint) * r.m + 999) // 1000)
        |ORDER BY 1, 2""".stripMargin,

    "dedup_exact_groups" ->
      """SELECT md5(text) AS text_hash, count(*) AS n, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // MinHash family mirror: one md5 per shingle → h = 52-bit prefix mod p,
    // lanes (a_s·h + b_s) mod p with the same md5-keyed a/b constants the
    // engine derives (Dedup.minhashBands).
    "dedup_minhash_pairs" ->
      (s"WITH ${minhashPairsCtes("documents", "m", 0.5)}\n" +
        "SELECT a, b, jaccard FROM mpairs ORDER BY a, b"),

    // Streaming near-dup replay: the same md5-keyed band derivation, then
    // the first-owner rule — a doc's band verdict is `collided` iff the
    // bucket's min doc_id is smaller (doc_id order = arrival order in the
    // replay). One row per banded doc with its collision count.
    "q_stream_neardup" -> streamNeardupOracle,

    // The shared replay block's count report: one row per leg with the row
    // count of that leg's registered result — each count(*) wraps the SAME
    // oracle body the per-leg entries use, so the block is a real
    // correctness check (every sink materialized, every leg's cardinality
    // exact), not just a timing hook.
    "q_stream_block" ->
      s"""SELECT * FROM (
         |  SELECT 'dedup' AS leg,
         |    cast((SELECT count(*) FROM ($streamDedupOracle)) as bigint) AS n_rows
         |  UNION ALL SELECT 'join',
         |    cast((SELECT count(*) FROM ($streamJoinPairsOracle)) as bigint)
         |  UNION ALL SELECT 'neardup',
         |    cast((SELECT count(*) FROM ($streamNeardupOracle)) as bigint)
         |  UNION ALL SELECT 'sessions',
         |    cast((SELECT count(*) FROM ($streamSessionsOracle)) as bigint)
         |  UNION ALL SELECT 'tumbling',
         |    cast((SELECT count(*) FROM ($streamTumblingOracle)) as bigint)
         |) ORDER BY leg""".stripMargin,

    // Cross-corpus replay: both sides re-derive the SAME hash family (the
    // seeds CTEs are per-side but md5-keyed identically), candidates are the
    // cross band-key join (no a < b — id spaces are disjoint), and the
    // verify tail runs over the union of both sides' shingle sets.
    "dedup_cross_neardup" -> crossNearDupOracle,

    // Same replay — the engine side runs the beyond-broadcast shuffle-hash
    // candidate join (broadcastBench = false), which must land on identical
    // rows; driver-gates the large mode PlanSpec only shape-gates.
    "dedup_cross_neardup_large" -> crossNearDupOracle,

    // Near-dup clusters: the minhash pair chain + a recursive min-label
    // closure over the (undirected) pair graph — the engine's Pregel-style
    // fixpoint must land on the same components.
    "dedup_neardup_clusters" ->
      (s"WITH RECURSIVE ${minhashPairsCtes("documents", "m", 0.5)},\n" +
        """medges AS (SELECT a AS src, b AS dst FROM mpairs
          |  UNION ALL SELECT b AS src, a AS dst FROM mpairs),
          |reach(vec_id, comp) AS (
          |  SELECT src, src FROM medges
          |  UNION
          |  SELECT e.dst, r.comp FROM reach r JOIN medges e ON e.src = r.vec_id)
          |SELECT vec_id AS doc_id, min(comp) AS canonical_id
          |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin),

    // Same cluster CTE + the replayed quality score; the keep rule is
    // rank 1 by (quality DESC, doc_id ASC) per cluster.
    "dedup_keep_best" ->
      (s"WITH RECURSIVE ${minhashPairsCtes("documents", "m", 0.5)},\n" +
        s"""medges AS (SELECT a AS src, b AS dst FROM mpairs
           |  UNION ALL SELECT b AS src, a AS dst FROM mpairs),
           |reach(vec_id, comp) AS (
           |  SELECT src, src FROM medges
           |  UNION
           |  SELECT e.dst, r.comp FROM reach r JOIN medges e ON e.src = r.vec_id),
           |comps AS (SELECT vec_id AS doc_id, min(comp) AS canonical_id
           |  FROM reach GROUP BY 1),
           |cq AS (SELECT c.canonical_id, c.doc_id,
           |    ${microsSql(TextOps.qualityScoreSql("d.text"))} AS q_us
           |  FROM comps c JOIN documents d ON d.doc_id = c.doc_id)
           |SELECT canonical_id, n_members, kept_doc, kept_q_us FROM (
           |  SELECT canonical_id,
           |    count(*) OVER (PARTITION BY canonical_id) AS n_members,
           |    doc_id AS kept_doc, q_us AS kept_q_us,
           |    row_number() OVER (PARTITION BY canonical_id
           |      ORDER BY q_us DESC, doc_id) AS rn
           |  FROM cq) WHERE rn = 1
           |ORDER BY canonical_id""".stripMargin),

    // The mix build replayed whole: minhash pairs → recursive components →
    // keep-best per cluster → kept corpus → sqrt apportionment over kept
    // counts → per-source priority ranks ((bits+1)/2^52 draw, one IEEE
    // division) → per-source sample fingerprints.
    "pipeline_mix_dedup" ->
      (s"WITH RECURSIVE ${minhashPairsCtes("documents", "m", 0.5)},\n" +
        s"""medges AS (SELECT a AS src, b AS dst FROM mpairs
           |  UNION ALL SELECT b AS src, a AS dst FROM mpairs),
           |reach(vec_id, comp) AS (
           |  SELECT src, src FROM medges
           |  UNION
           |  SELECT e.dst, r.comp FROM reach r JOIN medges e ON e.src = r.vec_id),
           |comps AS (SELECT vec_id AS doc_id, min(comp) AS canonical_id
           |  FROM reach GROUP BY 1),
           |cq AS (SELECT c.canonical_id, c.doc_id,
           |    ${microsSql(TextOps.qualityScoreSql("d.text"))} AS q_us
           |  FROM comps c JOIN documents d ON d.doc_id = c.doc_id),
           |bestd AS (SELECT doc_id FROM (
           |    SELECT doc_id, row_number() OVER (PARTITION BY canonical_id
           |      ORDER BY q_us DESC, doc_id) AS rn FROM cq) WHERE rn = 1),
           |kept AS MATERIALIZED (SELECT d.* FROM documents d
           |  WHERE d.doc_id NOT IN (SELECT doc_id FROM comps)
           |     OR d.doc_id IN (SELECT doc_id FROM bestd)),
           |c AS (SELECT source, count(*) AS n_kept FROM kept GROUP BY 1),
           |w AS (SELECT source, n_kept, sqrt(cast(n_kept as double)) AS w FROM c),
           |tot AS (SELECT list_reduce(list_prepend(0.0, list(w ORDER BY source)), (a, b) -> a + b) AS bw FROM w),
           |q0 AS (SELECT source, n_kept,
           |    cast(floor(120.0 * w / bw) as bigint) AS base,
           |    120.0 * w / bw - floor(120.0 * w / bw) AS frac
           |  FROM w, tot),
           |q1 AS (SELECT *, row_number() OVER (ORDER BY frac DESC, source) AS fr FROM q0),
           |quota AS (SELECT source, n_kept,
           |    base + (CASE WHEN fr <= (SELECT 120 - sum(base) FROM q0) THEN 1 ELSE 0 END) AS quota
           |  FROM q1),
           |rk AS (SELECT source, doc_id, q_us, row_number() OVER (
           |      PARTITION BY source ORDER BY pri DESC, doc_id) AS rn
           |  FROM (SELECT k.source, k.doc_id,
           |      ${microsSql(TextOps.qualityScoreSql("k.text"))} AS q_us,
           |      ${TextOps.qualityScoreSql("k.text")} /
           |        (cast(cast('0x' || substr(md5('mixdd|' || cast(k.doc_id as varchar)), 1, 13) as bigint) + 1 as double)
           |          / 4503599627370496.0) AS pri
           |    FROM kept k)),
           |smp AS (SELECT r.source, r.doc_id, r.q_us FROM rk r JOIN quota q USING (source)
           |  WHERE r.rn <= q.quota)
           |SELECT q.source, q.n_kept, q.quota,
           |  count(s.doc_id) AS n_sampled,
           |  coalesce(min(s.doc_id), -1) AS first_doc,
           |  coalesce(max(s.doc_id), -1) AS last_doc,
           |  coalesce(cast(sum(s.doc_id) as bigint), -1) AS sum_doc_ids,
           |  coalesce(cast(sum(s.q_us) as bigint), -1) AS sum_q_us
           |FROM quota q LEFT JOIN smp s ON s.source = q.source
           |GROUP BY 1, 2, 3 ORDER BY q.source""".stripMargin),

    // The full cleaning pipeline: every stage replayed (quality formula,
    // min-per-md5 exact dedup, the parameterized minhash chain over the
    // exact-dedup survivors, trigram decontamination vs the raw benchmark
    // slice), counts per stage.
    "pipeline_clean_corpus" ->
      (s"""WITH qd AS (SELECT doc_id, text FROM documents
         |  WHERE ${TextOps.qualityScoreSql("text")} >= 0.8),
         |ed AS (SELECT d.doc_id, d.text FROM qd d
         |  JOIN (SELECT min(doc_id) AS keep FROM qd GROUP BY md5(text)) k
         |    ON d.doc_id = k.keep),
         |${minhashPairsCtes("ed", "p", 0.5)},
         |nd AS (SELECT e.doc_id, e.text FROM ed e
         |  WHERE e.doc_id NOT IN (SELECT b FROM ppairs)),
         |bsh AS (SELECT DISTINCT unnest(${ngramSql(4)}) AS s
         |  FROM (SELECT string_split(text, ' ') AS ws FROM documents
         |        WHERE doc_id % 100 = 7) WHERE len(ws) >= 4),
         |scan AS (SELECT doc_id, text FROM nd WHERE doc_id % 100 <> 7),
         |csh AS (SELECT DISTINCT doc_id, unnest(${ngramSql(4)}) AS s
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM scan)
         |  WHERE len(ws) >= 4),
         |bad AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (s)),
         |fin AS (SELECT doc_id FROM scan
         |  WHERE doc_id NOT IN (SELECT doc_id FROM bad))
         |SELECT * FROM (
         |  SELECT cast(0 as bigint) AS stage_id, 'input' AS stage,
         |    (SELECT count(*) FROM documents) AS n_docs
         |  UNION ALL SELECT 1, 'quality', (SELECT count(*) FROM qd)
         |  UNION ALL SELECT 2, 'exact_dedup', (SELECT count(*) FROM ed)
         |  UNION ALL SELECT 3, 'near_dup', (SELECT count(*) FROM nd)
         |  UNION ALL SELECT 4, 'decontaminated', (SELECT count(*) FROM fin))
         |ORDER BY stage_id""".stripMargin),

    // Manifest replay: each rule is the SAME fragment its own query uses —
    // minhash pair b-sides, exact-dup keep-min, 4-gram benchmark collisions,
    // quality score, per-doc repetition micros, per-doc surprisal micros —
    // then one fixed-order concat_ws verdict per document.
    "pipeline_doc_manifest" ->
      (s"""WITH ${minhashPairsCtes("documents", "p", 0.5)},
         |xdup AS (SELECT d.doc_id FROM documents d
         |  JOIN (SELECT md5(text) AS h, min(doc_id) AS keep_id FROM documents GROUP BY 1) k
         |    ON md5(d.text) = k.h AND d.doc_id <> k.keep_id),
         |ndup AS (SELECT DISTINCT b AS doc_id FROM ppairs),
         |bsh AS (SELECT DISTINCT unnest(${ngramSql(4)}) AS s
         |  FROM (SELECT string_split(text, ' ') AS ws FROM documents WHERE doc_id % 100 = 7)
         |  WHERE len(ws) >= 4),
         |csh AS (SELECT DISTINCT doc_id, unnest(${ngramSql(4)}) AS s
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE doc_id % 100 <> 7)
         |  WHERE len(ws) >= 4),
         |cont AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (s)),
         |rt AS (SELECT doc_id, string_split(text, ' ') AS ws,
         |    string_split(text, chr(10)) AS ls FROM documents),
         |rbase AS (SELECT doc_id,
         |    len(ls) AS nl, len(list_distinct(ls)) AS ndl,
         |    len(ws) AS nt, len(list_distinct(ws)) AS ndt,
         |    CASE WHEN len(ws) >= 2 THEN len(ws) - 1 ELSE 0 END AS n2,
         |    CASE WHEN len(ws) >= 2 THEN len(list_distinct(
         |      list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])))
         |      ELSE 0 END AS nd2
         |  FROM rt),
         |rgc AS (SELECT doc_id, g2, count(*) AS c FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(ws)),
         |      i -> ws[i] || ' ' || ws[i+1])) AS g2 FROM rt WHERE len(ws) >= 2)
         |  GROUP BY 1, 2),
         |rmx AS (SELECT doc_id, max(c) AS maxc FROM rgc GROUP BY 1),
         |rm AS (SELECT b.doc_id,
         |    cast(floor((CASE WHEN nl = 0 THEN 0.0
         |      ELSE 1.0 - cast(ndl as double) / nl END) * 1000000.0 + 0.5) as bigint) AS dl,
         |    cast(floor((CASE WHEN n2 = 0 THEN 0.0
         |      ELSE 1.0 - cast(nd2 as double) / n2 END) * 1000000.0 + 0.5) as bigint) AS d2,
         |    cast(floor((CASE WHEN nt = 0 THEN 0.0
         |      ELSE 1.0 - cast(ndt as double) / nt END) * 1000000.0 + 0.5) as bigint) AS dt,
         |    cast(floor((CASE WHEN nt = 0 OR maxc IS NULL THEN 0.0
         |      ELSE 2.0 * maxc / nt END) * 1000000.0 + 0.5) as bigint) AS t2
         |  FROM rbase b LEFT JOIN rmx USING (doc_id)),
         |stk AS (SELECT doc_id, t AS token FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
         |  WHERE length(t) > 0),
         |sv AS (SELECT token, count(*) AS cnt FROM stk GROUP BY 1),
         |stot AS (SELECT cast(sum(cnt) as bigint) AS tot FROM sv),
         |ssc AS (SELECT stk.doc_id,
         |    cast(floor(cast(cast(-ln(cast(cnt as double) / tot) as real) as double)
         |      * 1000000.0 + 0.5) as bigint) AS sm
         |  FROM stk JOIN sv USING (token), stot),
         |sd AS (SELECT doc_id, cast(sum(sm) as bigint) AS s,
         |    cast(count(*) as bigint) AS n FROM ssc GROUP BY 1),
         |flags AS (SELECT d.doc_id,
         |    d.doc_id % 100 = 7 AS benchmark,
         |    d.doc_id IN (SELECT doc_id FROM cont) AS contaminated,
         |    d.doc_id IN (SELECT doc_id FROM xdup) AS exact_dup,
         |    d.doc_id IN (SELECT doc_id FROM ndup) AS near_dup,
         |    ${TextOps.qualityScoreSql("d.text")} < 0.8 AS low_quality,
         |    rm.d2 > 300000 AS rep_2gram, rm.dl > 300000 AS rep_lines,
         |    rm.dt > 500000 AS rep_tokens, rm.t2 > 200000 AS rep_top2gram,
         |    sd.s > sd.n * 3500000 AS high_surprisal
         |  FROM documents d JOIN rm ON rm.doc_id = d.doc_id
         |    LEFT JOIN sd ON sd.doc_id = d.doc_id)
         |SELECT doc_id,
         |  cast(CASE WHEN reasons = '' THEN 1 ELSE 0 END as bigint) AS keep, reasons
         |FROM (SELECT doc_id, concat_ws(',',
         |    CASE WHEN benchmark THEN 'benchmark' END,
         |    CASE WHEN contaminated THEN 'contaminated' END,
         |    CASE WHEN exact_dup THEN 'exact_dup' END,
         |    CASE WHEN near_dup THEN 'near_dup' END,
         |    CASE WHEN low_quality THEN 'low_quality' END,
         |    CASE WHEN rep_2gram THEN 'rep_2gram' END,
         |    CASE WHEN rep_lines THEN 'rep_lines' END,
         |    CASE WHEN rep_tokens THEN 'rep_tokens' END,
         |    CASE WHEN rep_top2gram THEN 'rep_top2gram' END,
         |    CASE WHEN high_surprisal THEN 'high_surprisal' END) AS reasons
         |  FROM flags)
         |ORDER BY doc_id""".stripMargin),

    // Contamination screen: naive shingle semi-join form.
    // Per-position 8-token span dedup: md5-keyed spans, cross-doc filter,
    // per-doc rollup — the engine's three exchanges replayed as CTEs.
    "dedup_span_ngrams" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |    WHERE len(string_split(text, ' ')) >= 8),
        |g AS (SELECT doc_id, md5(array_to_string(t[i : i + 7], ' ')) AS k
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i FROM d)),
        |pg AS (SELECT k, doc_id, count(*) AS c FROM g GROUP BY 1, 2),
        |cd AS (SELECT k FROM pg GROUP BY k HAVING count(*) >= 2),
        |dup AS (SELECT pg.doc_id, sum(pg.c) AS dup_c FROM pg JOIN cd USING (k) GROUP BY 1)
        |SELECT d.doc_id, cast(len(d.t) - 7 AS bigint) AS n_grams,
        |  cast(coalesce(dup.dup_c, 0) AS bigint) AS n_dup_grams,
        |  cast(coalesce(dup.dup_c, 0) AS bigint) * 1000000 // cast(len(d.t) - 7 AS bigint) AS dup_ppm
        |FROM d LEFT JOIN dup USING (doc_id) ORDER BY doc_id""".stripMargin,

    // BM25: idf float32-quantized after ln then micros-gridded (the same
    // libm-lane collapse as text_surprisal); every other factor is IEEE
    // double arithmetic on exact integers, so per-term scores render to
    // identical integer micros and the top-10 needs no tournament here —
    // selection matches the engine's exact two-phase by construction.
    "text_bm25_topk" -> {
      val values = bm25Queries.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
      val avgdl = "(cast(st.tot AS double) / cast(st.n_docs AS double))"
      val idf = "cast(cast(floor(cast(cast(ln((cast(st.n_docs AS double) - cast(df.df AS double) + 0.5)" +
        " / (cast(df.df AS double) + 0.5) + 1.0) AS float) AS double) * 1000000.0 + 0.5) AS bigint) AS double)" +
        " / 1000000.0"
      val tfn = s"((cast(tf.tf AS double) * ${Bm25.K1 + 1.0}) / (cast(tf.tf AS double)" +
        s" + ${Bm25.K1} * (${1.0 - Bm25.B} + ${Bm25.B} * (cast(tf.dl AS double) / $avgdl))))"
      s"""WITH q(query_id, term) AS (VALUES $values),
         |d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |st AS (SELECT count(*) AS n_docs, sum(len(t)) AS tot FROM d),
         |toks AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM d),
         |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM toks
         |  WHERE term IN (SELECT term FROM q) GROUP BY 1, 2, 3),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT q.query_id, tf.doc_id, count(*) AS n_terms,
         |    cast(sum(cast(floor(($idf * $tfn) * 1000000.0 + 0.5) AS bigint)) AS bigint) AS score_micros
         |  FROM tf JOIN df USING (term) CROSS JOIN st JOIN q USING (term)
         |  GROUP BY 1, 2)
         |SELECT query_id, cast(rank AS bigint) AS rank, doc_id, n_terms, score_micros FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score_micros DESC, doc_id) AS rank
         |  FROM sc)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    },

    // AND replay: identical scoring chain, plus the per-query arity frame
    // and the all-terms-matched filter.
    "text_bm25_and_topk" -> {
      val values = bm25Queries.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
      val avgdl = "(cast(st.tot AS double) / cast(st.n_docs AS double))"
      val idf = "cast(cast(floor(cast(cast(ln((cast(st.n_docs AS double) - cast(df.df AS double) + 0.5)" +
        " / (cast(df.df AS double) + 0.5) + 1.0) AS float) AS double) * 1000000.0 + 0.5) AS bigint) AS double)" +
        " / 1000000.0"
      val tfn = s"((cast(tf.tf AS double) * ${Bm25.K1 + 1.0}) / (cast(tf.tf AS double)" +
        s" + ${Bm25.K1} * (${1.0 - Bm25.B} + ${Bm25.B} * (cast(tf.dl AS double) / $avgdl))))"
      s"""WITH q(query_id, term) AS (VALUES $values),
         |qa AS (SELECT query_id, count(*) AS qt FROM q GROUP BY 1),
         |d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |st AS (SELECT count(*) AS n_docs, sum(len(t)) AS tot FROM d),
         |toks AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM d),
         |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM toks
         |  WHERE term IN (SELECT term FROM q) GROUP BY 1, 2, 3),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT q.query_id, tf.doc_id, count(*) AS n_terms,
         |    cast(sum(cast(floor(($idf * $tfn) * 1000000.0 + 0.5) AS bigint)) AS bigint) AS score_micros
         |  FROM tf JOIN df USING (term) CROSS JOIN st JOIN q USING (term)
         |  GROUP BY 1, 2),
         |sca AS (SELECT sc.* FROM sc JOIN qa USING (query_id) WHERE sc.n_terms = qa.qt)
         |SELECT query_id, cast(rank AS bigint) AS rank, doc_id, n_terms, score_micros FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score_micros DESC, doc_id) AS rank
         |  FROM sca)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    },

    "text_contamination" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS s
        |    FROM w WHERE len(ws) >= 3)),
        |b AS (SELECT DISTINCT s FROM sh WHERE doc_id % 100 = 7)
        |SELECT doc_id, count(*) AS n_collisions
        |FROM sh JOIN b USING (s)
        |WHERE doc_id % 100 <> 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Exact n-gram Jaccard join: the engine's prefix-filtered (PPJoin-style)
    // plan must land on exactly the naive all-shared-shingle-pairs
    // semantics — the oracle computes the UNoptimized form, so a lossy
    // prefix would surface as missing rows.
    "dedup_jaccard_pairs" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS s
        |    FROM w WHERE len(ws) >= 3)),
        |sz AS (SELECT doc_id, count(*) AS szn FROM sh GROUP BY 1),
        |it AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
        |SELECT it.a, it.b, it.c AS n_common,
        |  cast(it.c as double) / (sa.szn + sb.szn - it.c) AS jaccard
        |FROM it JOIN sz sa ON sa.doc_id = it.a JOIN sz sb ON sb.doc_id = it.b
        |WHERE cast(it.c as double) / (sa.szn + sb.szn - it.c) >= 0.4
        |ORDER BY a, b""".stripMargin,

    "dedup_simhash" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |h AS (SELECT doc_id, cast('0x' || substr(md5(t), 1, 16) as ubigint) AS h64 FROM toks),
        |votes AS (SELECT doc_id, b,
        |            sum(CASE WHEN (h64 >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |          FROM h, (SELECT unnest(range(0, 64)) AS b) bs GROUP BY 1, 2),
        |fp AS (SELECT doc_id,
        |         sum(CASE WHEN v > 0 THEN
        |               (CASE WHEN b = 63 THEN -9223372036854775808 ELSE (cast(1 as bigint) << cast(b as int)) END)
        |             ELSE 0 END) AS simhash
        |       FROM votes GROUP BY 1)
        |SELECT doc_id, cast(simhash as bigint) AS simhash FROM fp ORDER BY doc_id""".stripMargin,

    "q_events_tumbling" ->
      s"""SELECT cast(floor(epoch(ts) / 600) as bigint) AS bucket, event_type,
         |  count(*) AS n, ${sumMicrosSql("value")} AS sum_value_micros,
         |  cast(floor(epoch(ts) / 600) as bigint) * 600 AS bucket_start
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // identical oracle for the STREAMING path — stream/batch parity is part
    // of the driver-gated contract
    "q_stream_tumbling" -> streamTumblingOracle,

    // Per-user rollup of the stream-stream join leg's pair set.
    "q_stream_join" ->
      s"""SELECT user_id, count(*) AS n_pairs,
         |  cast(coalesce(sum(p_val_us), 0) as bigint) AS sm_purchase
         |FROM ($streamJoinPairsOracle)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The partitioned-artifact rollup replays against the RAW events table
    // (the artifact's content IS the table, re-laid-out); the wall-clock
    // date matches the engine's tz-proof epoch-day arithmetic.
    "q_events_pruned" ->
      s"""SELECT strftime(cast(ts AS date), '%Y-%m-%d') AS day, event_type,
         |  count(*) AS n, ${sumMicrosSql("value")} AS sum_value_micros
         |FROM events
         |WHERE cast(ts AS date) BETWEEN date '2024-01-08' AND date '2024-01-14'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // A correct streaming ingest lands exactly the raw table.
    "q_stream_sink" ->
      s"""SELECT strftime(cast(ts AS date), '%Y-%m-%d') AS day,
         |  count(*) AS n, ${sumMicrosSql("value")} AS sum_value_micros
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // Upsert correctness: duplicates collapsed, shared-day batches merged,
    // nothing lost — the final table is exactly the distinct event set.
    "q_stream_upsert" ->
      s"""SELECT strftime(cast(ts AS date), '%Y-%m-%d') AS day,
         |  count(*) AS n, ${sumMicrosSql("value")} AS sum_value_micros
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // The log-backed merge must land on the identical distinct event set —
    // the storage protocol never changes the rows.
    "q_stream_upsert_log" ->
      s"""SELECT strftime(cast(ts AS date), '%Y-%m-%d') AS day,
         |  count(*) AS n, ${sumMicrosSql("value")} AS sum_value_micros
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // v4 = every event (the four upsert slices merged, duplicates
    // collapsed); v5 = minus the tombstoned keys (event_id ≡ 0 mod 37).
    "q_stream_merge_cdc" ->
      s"""SELECT 4 AS version, strftime(cast(ts AS date), '%Y-%m-%d') AS day,
         |  count(*) AS n, ${sumMicrosSql("value")} AS sum_value_micros
         |FROM events GROUP BY 2
         |UNION ALL
         |SELECT 5 AS version, strftime(cast(ts AS date), '%Y-%m-%d') AS day,
         |  count(*) AS n, ${sumMicrosSql("value")} AS sum_value_micros
         |FROM events WHERE event_id % 37 <> 0 GROUP BY 2
         |ORDER BY 1, 2""".stripMargin,

    // Full recompute of EVERY version the maintained view walked: versions
    // 1–4 are the cumulative CDC quartile slices (row_number over
    // (ts, event_id), bucket = (rn−1)·4 div n — the replay builder's exact
    // arithmetic), v5 drops the tombstoned keys, and v6 (the compaction)
    // must equal v5 with only the version label advanced — the empty feed
    // passed the state through unchanged.
    "q_stream_changefeed_ivm" ->
      s"""WITH r AS (SELECT event_id, event_type, value,
         |    ((row_number() OVER (ORDER BY ts, event_id) - 1) * 4)
         |      // (SELECT count(*) FROM events) AS b
         |  FROM events),
         |cum AS (SELECT cast(k.range AS integer) AS version, r.event_type, r.value
         |  FROM r JOIN range(1, 5) k ON r.b < k.range),
         |post AS (SELECT event_type, value FROM events WHERE event_id % 37 <> 0)
         |SELECT version, event_type, count(*) AS n,
         |  ${sumMicrosSql("value")} AS sum_value_micros
         |FROM cum GROUP BY 1, 2
         |UNION ALL
         |SELECT cast(k.range AS integer) AS version, event_type, count(*) AS n,
         |  ${sumMicrosSql("value")} AS sum_value_micros
         |FROM post, range(5, 7) k GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,

    // Catch-up replay: exactly the two ENDPOINTS the folded consumer
    // commits — the bootstrap (source v1 = the first cumulative CDC
    // quartile slice, version label 1) and the whole-backlog fold (source
    // v6 = the post-tombstone set, version label 6). The intermediate
    // versions are deliberately ABSENT: the fold never materializes them.
    "q_events_ivm_catchup" ->
      s"""WITH r AS (SELECT event_type, value,
         |    ((row_number() OVER (ORDER BY ts, event_id) - 1) * 4)
         |      // (SELECT count(*) FROM events) AS b
         |  FROM events)
         |SELECT cast(1 AS integer) AS version, event_type, count(*) AS n,
         |  ${sumMicrosSql("value")} AS sum_value_micros
         |FROM r WHERE b < 1 GROUP BY 2
         |UNION ALL
         |SELECT cast(6 AS integer) AS version, event_type, count(*) AS n,
         |  ${sumMicrosSql("value")} AS sum_value_micros
         |FROM events WHERE event_id % 37 <> 0 GROUP BY 2
         |ORDER BY 1, 2""".stripMargin,

    // The daily view shape through the same protocol: v1 = the first
    // replay quartile's per-day rollup, v6 = the post-tombstone table's —
    // same endpoints as the catch-up oracle, grouped by day instead of
    // event_type.
    "q_events_ivm_daily" ->
      s"""WITH r AS (SELECT strftime(cast(ts AS date), '%Y-%m-%d') AS day, value,
         |    ((row_number() OVER (ORDER BY ts, event_id) - 1) * 4)
         |      // (SELECT count(*) FROM events) AS b
         |  FROM events)
         |SELECT cast(1 AS integer) AS version, day, count(*) AS n,
         |  ${sumMicrosSql("value")} AS sum_value_micros
         |FROM r WHERE b < 1 GROUP BY 2
         |UNION ALL
         |SELECT cast(6 AS integer) AS version,
         |  strftime(cast(ts AS date), '%Y-%m-%d') AS day, count(*) AS n,
         |  ${sumMicrosSql("value")} AS sum_value_micros
         |FROM events WHERE event_id % 37 <> 0 GROUP BY 2
         |ORDER BY 1, 2""".stripMargin,

    // The min/max view shape: same two endpoints, per-day count + extrema
    // as exact integer micros (min/max need no decimal discipline — they
    // select, never sum — but micros keeps both engines on BIGINT).
    "q_events_ivm_minmax" ->
      s"""WITH r AS (SELECT strftime(cast(ts AS date), '%Y-%m-%d') AS day, value,
         |    ((row_number() OVER (ORDER BY ts, event_id) - 1) * 4)
         |      // (SELECT count(*) FROM events) AS b
         |  FROM events)
         |SELECT cast(1 AS integer) AS version, day, count(*) AS n,
         |  cast(min(${microsSql("value")}) as bigint) AS min_value_micros,
         |  cast(max(${microsSql("value")}) as bigint) AS max_value_micros
         |FROM r WHERE b < 1 GROUP BY 2
         |UNION ALL
         |SELECT cast(6 AS integer) AS version,
         |  strftime(cast(ts AS date), '%Y-%m-%d') AS day, count(*) AS n,
         |  cast(min(${microsSql("value")}) as bigint) AS min_value_micros,
         |  cast(max(${microsSql("value")}) as bigint) AS max_value_micros
         |FROM events WHERE event_id % 37 <> 0 GROUP BY 2
         |ORDER BY 1, 2""".stripMargin,

    // The incremental artifact's content IS the raw table when maintenance
    // is correct — the full-table rollup is the oracle.
    "q_events_incremental" ->
      s"""SELECT strftime(cast(ts AS date), '%Y-%m-%d') AS day,
         |  count(*) AS n, ${sumMicrosSql("value")} AS sum_value_micros
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // The weekend-dim join replayed literally: same 30-day calendar, same
    // index-mod-7 weekend rule (2024-01-01 is a Monday).
    "q_events_dpp" ->
      s"""WITH dim AS (SELECT cast('2024-01-01' as date) + cast(r.range as integer) AS day
         |  FROM range(0, 30) r WHERE r.range % 7 IN (5, 6))
         |SELECT strftime(f.day, '%Y-%m-%d') AS day, event_type,
         |  count(*) AS n, ${sumMicrosSql("value")} AS sum_value_micros
         |FROM (SELECT cast(ts AS date) AS day, event_type, value FROM events) f
         |JOIN dim ON f.day = dim.day
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // The Bloom-pruned join replays as the plain filtered join — runtime
    // filtering only drops rows the join would drop anyway.
    "q_bloom_join" ->
      s"""SELECT l.l_returnflag, count(*) AS n,
         |  ${sumMicrosSql("l.l_quantity")} AS sum_qty_us
         |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |WHERE o.o_orderpriority = '1-URGENT'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The salted join replays as the PLAIN join — salting only reshapes the
    // shuffle, never the row set; micros cross-multiply keeps "above
    // average" division-free on both engines.
    "q_events_skew_join" ->
      s"""WITH base AS (SELECT event_type, count(*) AS n_base,
         |    ${sumMicrosSql("value")} AS sm FROM events GROUP BY 1)
         |SELECT e.event_type, max(b.n_base) AS n_events,
         |  cast(sum(CASE WHEN ${microsSql("e.value")} * b.n_base > b.sm
         |      THEN 1 ELSE 0 END) as bigint) AS n_above
         |FROM events e JOIN base b ON e.event_type = b.event_type
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The pivot replayed as CASE sums — a pivot is notation for exactly
    // this aggregation.
    "q_events_pivot" ->
      """SELECT user_id,
        |  cast(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) as bigint) AS click,
        |  cast(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) as bigint) AS error,
        |  cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) as bigint) AS purchase,
        |  cast(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) as bigint) AS signup,
        |  cast(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) as bigint) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // Literal ROLLUP — same grouping sets, same '(all)' subtotal rendering,
    // same integer week arithmetic.
    "q_events_rollup" ->
      s"""WITH e AS (SELECT event_type,
         |    cast(cast(floor(epoch(ts)) as bigint) // 604800 AS varchar) AS wk,
         |    ${microsSql("value")} AS us FROM events)
         |SELECT coalesce(event_type, '(all)') AS event_type,
         |  coalesce(wk, '(all)') AS wk,
         |  cast(count(*) as bigint) AS n,
         |  cast(sum(us) as bigint) AS sum_value_micros
         |FROM e GROUP BY ROLLUP (event_type, wk)
         |ORDER BY 1, 2""".stripMargin,

    // Literal CUBE — the full grouping-set lattice.
    "q_events_cube" ->
      s"""WITH e AS (SELECT event_type,
         |    cast(cast(floor(epoch(ts)) as bigint) // 604800 AS varchar) AS wk,
         |    ${microsSql("value")} AS us FROM events)
         |SELECT coalesce(event_type, '(all)') AS event_type,
         |  coalesce(wk, '(all)') AS wk,
         |  cast(count(*) as bigint) AS n,
         |  cast(sum(us) as bigint) AS sum_value_micros
         |FROM e GROUP BY CUBE (event_type, wk)
         |ORDER BY 1, 2""".stripMargin,

    // Literal ASOF LEFT JOIN — DuckDB's native backward-inclusive as-of is
    // the semantics AsOfJoin.backward implements (ties inclusive, latest
    // dim wins, unmatched keep nulls). ts orders identically to the
    // engine's ts_ns (the fixture is micros-precision on both read paths).
    "q_events_asof_join" -> asofJoinOracle,

    // The bucketed (skew-safe) plan must land on the identical rows —
    // bucketing only reshapes the window partitioning.
    "q_events_asof_bucketed" -> asofJoinOracle,

    // JSON extraction replayed through DuckDB's JSON operators; the
    // engine's typed-null malformed path mirrors SQL NULL arithmetic.
    "q_events_json" ->
      """WITH j AS (SELECT event_type,
        |    cast(props->>'$.k' AS bigint) AS k FROM events)
        |SELECT event_type, count(*) AS n,
        |  cast(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) as bigint) AS n_bad,
        |  cast(coalesce(sum(k), 0) as bigint) AS sum_k,
        |  count(DISTINCT k) AS n_distinct_k
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    // "Earliest purchase at-or-after each click" as min() over the
    // inequality join; delays in exact epoch micros.
    "q_events_funnel" ->
      """WITH c AS (SELECT user_id, event_id, ts FROM events
        |    WHERE event_type = 'click'),
        |  p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |  nx AS (SELECT c.user_id, c.event_id, c.ts AS ct, min(p.ts) AS pt
        |    FROM c LEFT JOIN p ON p.user_id = c.user_id AND p.ts >= c.ts
        |    GROUP BY 1, 2, 3)
        |SELECT user_id, count(*) AS n_clicks,
        |  cast(sum(CASE WHEN pt IS NOT NULL THEN 1 ELSE 0 END) as bigint)
        |    AS n_converted,
        |  cast(coalesce(sum(epoch_us(pt) - epoch_us(ct)), 0) as bigint)
        |    AS sum_delay_us
        |FROM nx GROUP BY 1 ORDER BY 1""".stripMargin,

    // The bin-bucketed range join replays as the plain containment
    // inequality join — binning only reshapes the physical plan, never the
    // matched pair set.
    "q_events_range_join" ->
      s"""WITH inc AS (SELECT event_id AS incident_id, ts AS t0 FROM events
         |  WHERE event_type = 'error' AND event_id % 20 = 0)
         |SELECT i.incident_id, count(*) AS n_events,
         |  cast(coalesce(sum(${microsSql("e.value")}), 0) as bigint) AS sm_value
         |FROM inc i JOIN events e
         |  ON e.ts >= i.t0 AND e.ts < i.t0 + INTERVAL 1800 SECOND
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Version 1 is the pre-cut subset, version 2 the whole table — both
    // reproducible from raw events with/without the cut filter.
    "q_events_timetravel" ->
      s"""SELECT 1 AS version, count(*) AS n_events,
         |  ${sumMicrosSql("value")} AS sum_value_micros,
         |  count(DISTINCT cast(ts AS date)) AS n_days
         |FROM events WHERE cast(ts AS date) < DATE '2024-01-20'
         |UNION ALL
         |SELECT 2 AS version, count(*) AS n_events,
         |  ${sumMicrosSql("value")} AS sum_value_micros,
         |  count(DISTINCT cast(ts AS date)) AS n_days
         |FROM events
         |ORDER BY version""".stripMargin,

    // Clustering never changes rows: the optimize-clustered slice replays
    // as the identical raw-table slice (the zorder/hilbert oracle).
    "q_events_optimize_cluster" ->
      s"""SELECT event_type, count(*) AS n,
         |  ${sumMicrosSql("value")} AS sum_value_micros
         |FROM events
         |WHERE user_id < 8 AND ts >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Restore replay: the head IS v1's definition — the pre-cut slice.
    "q_events_restore" ->
      s"""SELECT event_type, count(*) AS n,
         |  ${sumMicrosSql("value")} AS sum_value_micros
         |FROM events WHERE cast(ts AS date) < DATE '$IncrCutDay'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Evolution replay: rows committed before the cut never had the
    // micros column, the sum covers exactly the post-cut slice — the null
    // backfill contributes nothing. n_scored's definitions are ALIGNED,
    // not merely coincident: the Spark side counts `us IS NOT NULL`, which
    // is post-cut membership AND a non-null value (a post-cut row whose
    // raw value were NULL would carry a NULL us in its own directory too),
    // so the oracle carries both conjuncts — the equivalence must not lean
    // on the fixture never producing NULL values.
    "q_events_schema_evolve" ->
      s"""SELECT event_type, count(*) AS n,
         |  cast(sum(CASE WHEN cast(ts AS date) >= DATE '$IncrCutDay'
         |    AND value IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS n_scored,
         |  cast(sum(CASE WHEN cast(ts AS date) >= DATE '$IncrCutDay'
         |    THEN ${microsSql("value")} ELSE 0 END) as bigint) AS sum_value_micros
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // v1→v3 net change = (insert: every day ≥ the cut) + (delete: the
    // prune day's non-click rows); the identically-rewritten click rows
    // net out.
    "q_events_changefeed" ->
      s"""SELECT 'insert' AS _change_type, event_type, count(*) AS n,
         |  ${sumMicrosSql("value")} AS sum_value_micros
         |FROM events WHERE cast(ts AS date) >= DATE '$IncrCutDay'
         |GROUP BY 2
         |UNION ALL
         |SELECT 'delete' AS _change_type, event_type, count(*) AS n,
         |  ${sumMicrosSql("value")} AS sum_value_micros
         |FROM events
         |WHERE cast(ts AS date) = DATE '$TtPruneDay' AND event_type <> 'click'
         |GROUP BY 2
         |ORDER BY 1, 2""".stripMargin,

    // The maintained rollup must equal the direct rollup of v3's content:
    // every event except the prune day's non-click rows.
    "q_events_changefeed_apply" ->
      s"""SELECT event_type, count(*) AS n,
         |  ${sumMicrosSql("value")} AS sum_value_micros
         |FROM events
         |WHERE NOT (cast(ts AS date) = DATE '$TtPruneDay' AND event_type <> 'click')
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The pruned read is row-identical to a plain day filter over raw
    // events — manifest pruning only changes WHICH directories get read.
    "q_events_timetravel_pruned" ->
      s"""SELECT event_type, count(*) AS n,
         |  ${sumMicrosSql("value")} AS sum_value_micros
         |FROM events WHERE cast(ts AS date) = DATE '$TtPruneDay'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Data skipping only changes WHICH directories get read — the result
    // is the plain time-range rollup over raw events (ts_ns is the wall
    // clock read as UTC, so the ns range [06:00, 18:00) is this timestamp
    // range).
    "q_events_stats_pruned" ->
      s"""SELECT event_type, count(*) AS n,
         |  ${sumMicrosSql("value")} AS sum_value_micros
         |FROM events
         |WHERE ts >= TIMESTAMP '$TtPruneDay 06:00:00'
         |  AND ts < TIMESTAMP '$TtPruneDay 18:00:00'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The SMB join's rows are layout-independent: the oracle computes the
    // same per-user rollups and joins them plainly.
    "q_events_smb_join" ->
      s"""WITH p AS (SELECT user_id, count(*) AS n_p,
         |    ${sumMicrosSql("value")} AS sum_p_us
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |c AS (SELECT user_id, count(*) AS n_c
         |  FROM events WHERE event_type = 'click' GROUP BY 1)
         |SELECT p.user_id, p.n_p, p.sum_p_us, c.n_c
         |FROM p JOIN c USING (user_id) ORDER BY 1""".stripMargin,

    // Standard-SQL rank family replays verbatim: both engines share ntile's
    // remainder-to-early-buckets rule and the (rank−1)/(n−1), rank/n
    // definitions; the tie-free order makes them deterministic.
    "q_events_window_funcs" ->
      s"""WITH r AS (SELECT event_type, value,
         |    ntile(4) OVER w AS quartile,
         |    percent_rank() OVER w AS pr,
         |    cume_dist() OVER w AS cd
         |  FROM events
         |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))
         |SELECT event_type, quartile, count(*) AS n,
         |  ${sumMicrosSql("pr")} AS sum_pr_us,
         |  ${sumMicrosSql("cd")} AS sum_cd_us,
         |  ${sumMicrosSql("value")} AS sum_value_micros
         |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Layout never changes rows: the z-ordered slice replays as the same
    // slice over the raw table.
    "q_events_zorder" ->
      s"""SELECT event_type, count(*) AS n,
         |  ${sumMicrosSql("value")} AS sum_value_micros
         |FROM events
         |WHERE user_id < 8 AND ts >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Layout never changes rows: the Hilbert-clustered slice replays as
    // the identical raw-table slice (same SQL as q_events_zorder — that IS
    // the point: same rows, different file locality).
    "q_events_hilbert" ->
      s"""SELECT event_type, count(*) AS n,
         |  ${sumMicrosSql("value")} AS sum_value_micros
         |FROM events
         |WHERE user_id < 8 AND ts >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The 3-D slice is layout-independent row-wise: the oracle adds the
    // value band to the same raw-events replay.
    "q_events_zorder3" ->
      s"""SELECT event_type, count(*) AS n,
         |  ${sumMicrosSql("value")} AS sum_value_micros
         |FROM events
         |WHERE user_id < 8 AND ts >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
         |  AND value >= 100.0 AND value < 200.0
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The rewrite-path LEFT containment join replays as the plain LEFT
    // inequality join — the rule only reshapes the physical plan, and the
    // preserved point side must null-extend exactly once per unmatched row.
    "q_events_range_left" ->
      """WITH inc AS (SELECT event_id AS incident_id, ts AS t0 FROM events
        |  WHERE event_type = 'error' AND event_id % 20 = 0)
        |SELECT e.event_type, count(*) AS n_rows,
        |  cast(sum(CASE WHEN i.incident_id IS NOT NULL THEN 1 ELSE 0 END) as bigint)
        |    AS n_in_incident,
        |  cast(count(DISTINCT i.incident_id) as bigint) AS n_incidents
        |FROM events e LEFT JOIN inc i
        |  ON e.ts >= i.t0 AND e.ts < i.t0 + INTERVAL 1800 SECOND
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // SCD2 replay: the same one-window validity build, with the open tail
    // kept NULL-ended (the engine's max(ts)+1 close admits exactly the same
    // points — none lie beyond max(ts)).
    "q_events_scd2" ->
      s"""WITH sg AS (SELECT user_id, ts, max(${microsSql("value")}) AS attr_us
         |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
         |dim AS (SELECT user_id, ts AS vfrom,
         |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS vto, attr_us
         |  FROM sg),
         |p AS (SELECT user_id, ts, ${microsSql("value")} AS p_val_us
         |  FROM events WHERE event_type = 'purchase')
         |SELECT p.user_id, count(*) AS n_purchases,
         |  cast(sum(d.attr_us) as bigint) AS sum_attr_us,
         |  cast(sum(p.p_val_us) as bigint) AS sum_p_us
         |FROM p JOIN dim d ON p.user_id = d.user_id
         |  AND p.ts >= d.vfrom AND (d.vto IS NULL OR p.ts < d.vto)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The bin-bucketed interval-overlap join replays as the plain overlap
    // inequality pair (max(start) < min(end)); binning and the
    // meet-in-one-bin rule only reshape the physical plan.
    "q_events_interval_overlap" ->
      """WITH inc AS (SELECT event_id AS incident_id, epoch_us(ts) AS i_s,
        |    epoch_us(ts) + 21600000000 AS i_e FROM events
        |  WHERE event_type = 'error' AND event_id % 5 = 0),
        |expo AS (SELECT event_id AS exposure_id, epoch_us(ts) AS x_s,
        |    epoch_us(ts) + 10800000000 AS x_e FROM events
        |  WHERE event_type = 'view' AND event_id % 10 = 0)
        |SELECT i.incident_id, count(*) AS n_exposures,
        |  cast(sum(least(i.i_e, x.x_e) - greatest(i.i_s, x.x_s)) as bigint)
        |    AS sum_overlap_us
        |FROM inc i JOIN expo x ON i.i_s < x.x_e AND x.x_s < i.i_e
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_events_sessions" -> batchSessionsOracle,

    // The bucketed sessionizer must be indistinguishable from the plain one
    // at the logical level — same oracle, verbatim.
    "q_events_sessions_bucketed" -> batchSessionsOracle,

    // event-closed sessions (the batch grid minus each user's last) PLUS
    // final sessions flushed by the event-time timeout: last + gap behind
    // the final watermark max(es)·1000 − 1800500 ms
    "q_stream_sessions" -> streamSessionsOracle,

    // native sliding windows replayed by explicit 2-way expansion: slot
    // boundaries are integer-aligned, so floor(epoch) assignment matches
    // Spark's µs-precise window() placement
    "q_events_sliding" ->
      s"""WITH x AS (SELECT event_type, value,
         |    cast(floor(floor(epoch(ts)) / 300) as bigint) - kk.k AS slot
         |  FROM events, (SELECT unnest([0, 1]) AS k) kk)
         |SELECT slot, event_type, count(*) AS n,
         |  ${sumMicrosSql("value")} AS sum_value_micros,
         |  slot * 300 AS window_start
         |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // duplicate-delivery dedup: the watermarked keyed state must land a
    // finite double-delivery replay on exactly the distinct batch table
    "q_stream_dedup" -> streamDedupOracle,

    "q3_shipping" ->
      s"""SELECT l_orderkey, cast(epoch(o_orderdate) as bigint) AS o_orderdate_es,
         |  ${sumMicrosSql("l_extendedprice * (1.0 - l_discount)")} AS revenue_micros
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND epoch(o_orderdate) < 883612800 AND epoch(l_shipdate) > 883612800
         |GROUP BY 1, 2 ORDER BY revenue_micros DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      s"""SELECT n_name,
         |  ${sumMicrosSql("l_extendedprice * (1.0 - l_discount)")} AS revenue_micros
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY 1 ORDER BY revenue_micros DESC, n_name""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id AS asset_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  cast(length(text) as bigint) AS n_bytes,
        |  sha256(text) AS payload_sha256
        |FROM documents ORDER BY asset_id""".stripMargin,

    "multimodal_resize" ->
      """SELECT doc_id AS asset_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  cast(length(text) as bigint) AS n_bytes,
        |  sha256(text) AS payload_sha256,
        |  cast(224 as int) AS width, cast(224 as int) AS height
        |FROM documents ORDER BY asset_id""".stripMargin,

    // Frame sampling replay, TRI-path. Video assets ≡ 2 (mod 4): the
    // structure-only synthetic MP4's closed-form layout (n = 5 + id%7
    // samples, delta = (2000 + (id%5)·1000) ms, sizes 16 + (id+k)%9, one
    // chunk at byte 32, keyframes every 3rd sample), content sentinel −1.
    // Video assets ≡ 0 (mod 4): the MJPEG variant — same n/delta/keyframe
    // formulas, UNIFORM 1024-byte samples (off = 32 + k·1024), and REAL
    // decoded content: mean_luma_milli = ((id·31 + k·97) % 256)·1000, the
    // solid gray each frame was encoded with (quality-1.0 JPEG roundtrips
    // grays bit-exactly — MjpegSpec gates the JVM fact the closed form
    // relies on). Earliest frame per 10 s bucket either way. ODD video
    // assets: the non-BMFF fallback (one row per everyMs offset below
    // duration_ms, token = base64 slice at the keyed offset).
    "multimodal_frames" ->
      """WITH v AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
        |mp4 AS (SELECT doc_id, 5 + (doc_id % 7) AS n,
        |               2000 + (doc_id % 5) * 1000 AS delta,
        |               (doc_id % 4 = 0) AS mjpeg
        |        FROM v WHERE doc_id % 2 = 0),
        |samp AS (SELECT doc_id, unnest(range(0, n)) AS k, delta, mjpeg FROM mp4),
        |sized AS (SELECT doc_id, k, k * delta AS ms,
        |                 CASE WHEN mjpeg THEN 1024 ELSE 16 + ((doc_id + k) % 9) END AS sz,
        |                 (k % 3 = 0) AS is_key,
        |                 CASE WHEN mjpeg THEN ((doc_id * 31 + k * 97) % 256) * 1000
        |                      ELSE -1 END AS luma
        |          FROM samp),
        |offs AS (SELECT doc_id, k, ms, sz, is_key, luma,
        |                32 + coalesce(sum(sz) OVER (PARTITION BY doc_id ORDER BY k
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |         FROM sized),
        |pick AS (SELECT doc_id, ms, off, sz, is_key, luma,
        |                row_number() OVER (PARTITION BY doc_id, ms // 10000
        |                  ORDER BY ms, off) AS rn
        |         FROM offs),
        |structural AS (
        |  SELECT doc_id AS asset_id, cast(ms as bigint) AS frame_ms,
        |         cast(off as bigint) AS frame_offset, cast(sz as bigint) AS frame_size,
        |         cast(CASE WHEN is_key THEN 1 ELSE 0 END as int) AS is_key,
        |         '' AS frame_token, cast(luma as bigint) AS mean_luma_milli
        |  FROM pick WHERE rn = 1),
        |fb AS (SELECT doc_id,
        |         unnest(range(0, (doc_id % 90000) + 1000, 10000)) AS frame_ms, text
        |       FROM v WHERE doc_id % 2 = 1),
        |fallback AS (
        |  SELECT doc_id AS asset_id, cast(frame_ms as bigint) AS frame_ms,
        |         cast(-1 as bigint) AS frame_offset, cast(-1 as bigint) AS frame_size,
        |         cast(-1 as int) AS is_key,
        |         substr(to_base64(encode(text)), cast((frame_ms % 32) + 1 as int), 16) AS frame_token,
        |         cast(-1 as bigint) AS mean_luma_milli
        |  FROM fb)
        |SELECT * FROM (SELECT * FROM structural UNION ALL SELECT * FROM fallback)
        |ORDER BY asset_id, frame_ms""".stripMargin,

    "q_orders_window" ->
      s"""SELECT o_custkey, o_orderkey, ${microsSql("o_totalprice")} AS top_price_micros
         |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
         |        ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
         |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q10_returned" ->
      s"""SELECT c_custkey, c_name,
         |  ${sumMicrosSql("l_extendedprice * (1.0 - l_discount)")} AS revenue_micros,
         |  count(*) AS n_items
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE l_returnflag = 'R'
         |GROUP BY 1, 2 ORDER BY revenue_micros DESC, c_custkey LIMIT 20""".stripMargin,

    "q14_promo" ->
      s"""SELECT
         |  cast(sum(CASE WHEN p_type LIKE 'PROMO%'
         |      THEN ${microsSql("l_extendedprice * (1.0 - l_discount)")}
         |      ELSE cast(0 as bigint) END) as bigint) AS promo_revenue_micros,
         |  ${sumMicrosSql("l_extendedprice * (1.0 - l_discount)")} AS total_revenue_micros,
         |  count(*) AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin,

    "tail_slice" ->
      """SELECT vec_id, label FROM
        |(SELECT vec_id, label FROM embeddings ORDER BY vec_id DESC LIMIT 100)
        |ORDER BY vec_id""".stripMargin,

    "anti_membership" ->
      """SELECT e.vec_id FROM embeddings e
        |WHERE NOT EXISTS (SELECT 1 FROM embeddings f
        |  WHERE f.vec_id < 200 AND f.embedding = e.embedding)
        |ORDER BY e.vec_id""".stripMargin,

    "attack_random_modify" ->
      s"""WITH ranked AS (
         |  SELECT vec_id, embedding,
         |    row_number() OVER (ORDER BY md5(cast(vec_id as varchar) || '#modrow#$Seed'), vec_id) AS rn,
         |    count(*) OVER () AS n
         |  FROM embeddings),
         |stats AS (SELECT cast(min(embedding[${modDim0 + 1}]) as double) AS mn,
         |          cast(max(embedding[${modDim0 + 1}]) as double) AS mx
         |          FROM embeddings)
         |SELECT vec_id,
         |  CASE WHEN rn <= ceil(n * 0.2)
         |    THEN cast(mn + (mx - mn) *
         |      (cast('0x' || substr(md5(cast(vec_id as varchar) || '#modval#$Seed'), 1, 13) as bigint)
         |        / 4503599627370496.0) as real)
         |    ELSE embedding[${modDim0 + 1}] END AS v
         |FROM ranked, stats ORDER BY vec_id""".stripMargin,

    "analytics_corr" ->
      """SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  count(*) AS n FROM lineitem""".stripMargin,

    "analytics_binned" ->
      s"""WITH s AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders)
         |SELECT cast(least(floor((o_totalprice - mn) / ((mx - mn) / 8.0)), 7) as bigint) AS bin,
         |  count(*) AS n, ${sumMicrosSql("o_totalprice")} AS sum_price_micros
         |FROM orders, s GROUP BY 1 ORDER BY 1""".stripMargin,

    "wm_query_counts" ->
      (graphCtes + "SELECT vec_id, query_count FROM qc ORDER BY vec_id"),

    "graph_bidir_hist" ->
      (graphCtes + "SELECT bidir_edges, count(*) AS n FROM bidir GROUP BY 1 ORDER BY 1"),

    "wm_accessibility" ->
      (graphCtes + "SELECT vec_id, ai FROM ai ORDER BY vec_id"),

    // graph_cold_read serves out-degree + AI from the PERSISTED parquet
    // graph; the oracle recomputes both from the raw embeddings — equality
    // proves the parquet round-trip preserved the artifact bit-for-bit.
    "graph_cold_read" ->
      (graphCtes + """,
        |deg AS (SELECT src, count(*) AS out_degree FROM edges GROUP BY 1)
        |SELECT a.vec_id, cast(coalesce(d.out_degree, 0) as bigint) AS out_degree, a.ai
        |FROM ai a LEFT JOIN deg d ON d.src = a.vec_id
        |ORDER BY a.vec_id""".stripMargin),

    // the published hit-rate curve: every cell's after-kNN is a rank window
    // over the SAME materialized all-pairs distances, restricted to that
    // cell's adaptive keep-set
    "h_hitrate_curve" -> {
      val ps = (1 to 9).map(_ / 10.0)
      val blocks = ps.zipWithIndex.map { case (p, i) =>
        s"""aft_h$i AS (SELECT query_id, neighbor_id FROM (
           |    SELECT k.query_id, k.neighbor_id,
           |      row_number() OVER (PARTITION BY k.query_id ORDER BY k.dist, k.neighbor_id) AS rank
           |    FROM knn k JOIN air r ON r.vec_id = k.neighbor_id
           |    WHERE r.rnk > ceil(r.n * cast($p as double)))
           |  WHERE rank <= 10),
           |cm_h$i AS (SELECT count(*) AS n_common FROM aft_h$i a
           |  JOIN (SELECT query_id, neighbor_id FROM raw17 WHERE rank <= 10) b
           |  USING (query_id, neighbor_id))""".stripMargin
      }.mkString(",\n")
      val rows = ps.zipWithIndex.map { case (p, i) =>
        s"""SELECT cast($p as double) AS p, (SELECT n_common FROM cm_h$i) AS n_common,
           |  (SELECT count(*) FROM embeddings) AS n_queries, cast(10 as bigint) AS k,
           |  cast((SELECT n_common FROM cm_h$i) as double)
           |    / (cast((SELECT count(*) FROM embeddings) as double) * 10.0) AS hit_rate""".stripMargin
      }.mkString("\nUNION ALL\n")
      graphCtes + ",\n" +
        s"""air AS MATERIALIZED (SELECT vec_id, row_number() OVER (ORDER BY ai DESC, vec_id) AS rnk,
           |    count(*) OVER () AS n FROM ai),""".stripMargin + "\n" +
        blocks + "\n" + rows + "\nORDER BY p"
    },

    "attack_adaptive_delete" ->
      (graphCtes +
        s"""SELECT vec_id FROM (
           |  SELECT vec_id, row_number() OVER (ORDER BY ai DESC, vec_id) AS rn,
           |    count(*) OVER () AS n FROM ai)
           |WHERE rn > ceil(n * cast($DeleteP as double)) ORDER BY vec_id""".stripMargin),

    // SO4 — in this engine the query profile counts rank≤10 hits of the
    // deterministic kNN pass, which is invariant in the graph parameter M
    // (raw depth 17 vs 25 shares the first 10 ranks), so both hidden sets
    // equal the bottom-10% of the SAME qc — the oracle recomputes that set
    // and the consequent perfect overlap from raw data.
    "so4_hidden_overlap" ->
      (graphCtes +
        """, hid AS (SELECT vec_id FROM (
          |    SELECT vec_id, row_number() OVER (ORDER BY query_count, vec_id) AS rn,
          |      count(*) OVER () AS n FROM qc)
          |  WHERE rn <= ceil(n * 0.1))
          |SELECT (SELECT count(*) FROM hid) AS n_base,
          |  (SELECT count(*) FROM hid) AS n_intersect,
          |  cast((SELECT count(*) FROM hid) as double)
          |    / cast((SELECT count(*) FROM hid) as double) AS overlap""".stripMargin),

    // K4 — ai-ranked top-set + keyed run-start overwrite, both replayed.
    "attack_adaptive_modify" ->
      (graphCtes +
        s""", sel AS (SELECT vec_id FROM (
           |    SELECT vec_id, row_number() OVER (ORDER BY ai DESC, vec_id) AS rn,
           |      count(*) OVER () AS n FROM ai)
           |  WHERE rn <= ceil(n * 0.2)),
           |st AS (SELECT cast(min(embedding[${modDim0 + 1}]) as double) AS mn,
           |         cast(max(embedding[${modDim0 + 1}]) as double) AS mx
           |       FROM embeddings),
           |rs AS (SELECT e.vec_id, e.embedding,
           |    cast(${md5ModSql(s"cast(e.vec_id as varchar) || '#moddim#$Seed'", D)} as bigint) AS run_start,
           |    (s.vec_id IS NOT NULL) AS issel
           |  FROM embeddings e LEFT JOIN sel s ON e.vec_id = s.vec_id)
           |SELECT r.vec_id, r.run_start,
           |  cast(CASE WHEN r.issel
           |    THEN cast(mn + (mx - mn) *
           |      (cast('0x' || substr(md5(cast(r.vec_id as varchar) || '#modval#$Seed'), 1, 13) as bigint)
           |        / 4503599627370496.0) as real)
           |    ELSE r.embedding[r.run_start + 1] END as double) AS v
           |FROM rs r, st ORDER BY r.vec_id""".stripMargin),

    "w3_hidden_nodes" ->
      (graphCtes +
        """SELECT vec_id, query_count FROM (
          |  SELECT *, row_number() OVER (ORDER BY query_count, vec_id) AS rn,
          |    count(*) OVER () AS n FROM qc)
          |WHERE rn <= ceil(n * 0.1) ORDER BY vec_id""".stripMargin),

    "ann_brute_topk" -> cosineSql(
      queryFilter = "q.vec_id < 100", k = 10,
      select = """SELECT query_id, neighbor_id, score,
                  |  cast(row_number() OVER w as bigint) AS rank
                  |FROM pairs WINDOW w AS (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
                  |QUALIFY rank <= 10 ORDER BY query_id, rank""".stripMargin),

    // Deterministic IVF replayed end-to-end: centroid sample (ORDER BY md5
    // LIMIT nlist), fold-L2 argmin assignment and probe (ties to the lower
    // cluster id), fold-cosine re-rank — each step the exact arithmetic the
    // Spark UDF/Column path runs.
    // Cross-modal probe replay: asset probe vectors from keyed md5 gaussians
    // of md5(text) (assets carry the utf-8 payload of the document text, so
    // DuckDB re-derives the identical key), float32-quantized per lane, then
    // the same sampled-centroid probe + fold-cosine re-rank as the IVF chain.
    // The Spark side answered this from the ivfRead PARQUET index — equality
    // proves the persisted index round-trips.
    "crossmodal_ann" ->
      (s"WITH $ivfIndexCtes,\n" +
        s"""qv AS MATERIALIZED (SELECT doc_id AS query_id,
           |    list_transform(range(0, $D), i ->
           |      cast(${gaussSql("'xm|' || md5(text) || '|' || cast(i as varchar)")} as real)) AS qe
           |  FROM documents WHERE doc_id < 100),
           |qn AS (SELECT query_id, qe,
           |    list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
           |      i -> cast(qe[i] as double) * cast(qe[i] as double))), (acc, x) -> acc + x) AS qsq
           |  FROM qv),
           |xprobe AS (SELECT query_id, qe, qsq, cluster FROM (
           |    SELECT q.query_id, q.qe, q.qsq, c.cluster,
           |      row_number() OVER (PARTITION BY q.query_id
           |        ORDER BY ${l2sqSql("q.qe", "c.embedding")}, c.cluster) AS rn
           |    FROM qn q, cent c) WHERE rn <= 4),
           |xcand AS (SELECT p.query_id, a.vec_id AS neighbor_id,
           |    CASE WHEN sqrt(p.qsq) * sqrt(a.sq) = 0 THEN 0.0 ELSE
           |      list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
           |        i -> cast(p.qe[i] as double) * cast(a.embedding[i] as double))), (acc, x) -> acc + x)
           |      / (sqrt(p.qsq) * sqrt(a.sq)) END AS score
           |  FROM xprobe p JOIN asg a ON p.cluster = a.cluster)
           |SELECT query_id AS asset_id, neighbor_id, cast(rank as bigint) AS rank FROM (
           |  SELECT query_id, neighbor_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
           |  FROM xcand) WHERE rank <= 5
           |ORDER BY asset_id, rank""".stripMargin),

    // Same probe vectors, graph-traversal search family: edges from
    // graphCtes, probes from the documents payload replay, the beam rounds
    // unrolled by graphSearchCtes.
    "crossmodal_graph_ann" ->
      (graphCtes + ",\n" +
        s"""qv AS MATERIALIZED (SELECT doc_id AS query_id,
           |    list_transform(range(0, $D), i ->
           |      cast(${gaussSql("'xm|' || md5(text) || '|' || cast(i as varchar)")} as real)) AS qe
           |  FROM documents WHERE doc_id < 100),
           |${graphSearchCtes("qv")}
           |SELECT query_id AS asset_id, node AS neighbor_id, cast(rn as bigint) AS rank FROM (
           |  SELECT query_id, node, dist,
           |    row_number() OVER (PARTITION BY query_id ORDER BY dist, node) AS rn
           |  FROM gb$GraphRounds) WHERE rn <= 5
           |ORDER BY asset_id, rank""".stripMargin),

    // Graph-traversal ANN: the final beam's top-10 with the fold-L2
    // distances — every round of the traversal replayed as SQL.
    "ann_graph_topk" ->
      (graphCtes + ",\n" +
        s"""gq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 100),
           |${graphSearchCtes("gq")}
           |SELECT query_id, node AS neighbor_id, dist, cast(rn as bigint) AS rank FROM (
           |  SELECT query_id, node, dist,
           |    row_number() OVER (PARTITION BY query_id ORDER BY dist, node) AS rn
           |  FROM gb$GraphRounds) WHERE rn <= 10
           |ORDER BY query_id, rank""".stripMargin),

    // The scheduled-width traversal: identical structure, beam derived
    // from count(*) inside the SQL (graphSearchCtesScaled's efp CTE).
    "ann_graph_topk_scaled" ->
      (graphCtes + ",\n" +
        s"""gq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 100),
           |${graphSearchCtesScaled("gq")}
           |SELECT query_id, node AS neighbor_id, dist, cast(rn as bigint) AS rank FROM (
           |  SELECT query_id, node, dist,
           |    row_number() OVER (PARTITION BY query_id ORDER BY dist, node) AS rn
           |  FROM sgb$ScaledGraphRounds) WHERE rn <= 10
           |ORDER BY query_id, rank""".stripMargin),

    // Layered traversal: both phases replayed as unrolled SQL — the rep
    // layer's kNN edges rebuilt from the md5-mod membership, phase 2
    // seeded by phase 1's final beam.
    "ann_graph_topk_layered" ->
      (graphCtes + ",\n" +
        s"""gq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 100),
           |${layeredSearchCtes("gq")}
           |SELECT query_id, node AS neighbor_id, dist, cast(rn as bigint) AS rank FROM (
           |  SELECT query_id, node, dist,
           |    row_number() OVER (PARTITION BY query_id ORDER BY dist, node) AS rn
           |  FROM lbb$BaseRounds) WHERE rn <= 10
           |ORDER BY query_id, rank""".stripMargin),

    "ann_graph_recall_layered" ->
      (graphCtes + ",\n" +
        s"""gq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 100),
           |${layeredSearchCtes("gq")},
           |lk AS (SELECT query_id, node AS neighbor_id FROM (
           |    SELECT query_id, node,
           |      row_number() OVER (PARTITION BY query_id ORDER BY dist, node) AS rn
           |    FROM lbb$BaseRounds) WHERE rn <= 10),
           |lbk AS (SELECT query_id, neighbor_id FROM raw17 WHERE query_id < 100 AND rank <= 10)
           |SELECT b.query_id, cast(count(i.neighbor_id) as bigint) AS n_hit,
           |  cast(count(i.neighbor_id) as double) / count(*) AS recall
           |FROM lbk b LEFT JOIN lk i
           |  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
           |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin),

    // Hybrid graph-search replay: the coarse phase from layeredSearchCtes
    // (its base-width lb chain goes unused — DuckDB prunes unreferenced
    // CTEs), a refine chain at the widened k·γ = 20 beam, then the
    // predicate filter + re-rank — each step the engine's arithmetic.
    "ann_filtered_graph_topk" ->
      (graphCtes + ",\n" +
        s"""gq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 100),
           |$filteredBeamCte,
           |${layeredSearchCtes("gq")},
           |""".stripMargin +
        graphSearchCtesOver("gq", "fb", "edges",
          s"SELECT query_id, node FROM lrb$RepRounds",
          "(SELECT beam FROM fbw)", BaseRounds) +
        ",\n" +
        s"""fcand AS (SELECT query_id, node AS neighbor_id, dist FROM fbb$BaseRounds
           |  WHERE node IN (SELECT vec_id FROM embeddings WHERE label != 3))
           |SELECT query_id, neighbor_id, cast(rank as bigint) AS rank FROM (
           |  SELECT query_id, neighbor_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
           |  FROM fcand) WHERE rank <= 10
           |ORDER BY query_id, rank""".stripMargin),

    // Graph-hybrid gauge replay: the same fr/fb chains + filter, against
    // the exact L2 top-10 over the predicate's survivors (knn filtered).
    "ann_filtered_graph_recall" ->
      (graphCtes + ",\n" +
        s"""gq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 100),
           |$filteredBeamCte,
           |${layeredSearchCtes("gq")},
           |""".stripMargin +
        graphSearchCtesOver("gq", "fb", "edges",
          s"SELECT query_id, node FROM lrb$RepRounds",
          "(SELECT beam FROM fbw)", BaseRounds) +
        ",\n" +
        s"""fck AS (SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, node AS neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY dist, node) AS rank
           |    FROM fbb$BaseRounds
           |    WHERE node IN (SELECT vec_id FROM embeddings WHERE label != 3))
           |  WHERE rank <= 10),
           |fbk AS (SELECT query_id, neighbor_id FROM (
           |    SELECT k.query_id, k.neighbor_id,
           |      row_number() OVER (PARTITION BY k.query_id ORDER BY k.dist, k.neighbor_id) AS rn
           |    FROM knn k JOIN embeddings e ON e.vec_id = k.neighbor_id
           |    WHERE k.query_id < 100 AND e.label != 3) WHERE rn <= 10)
           |SELECT b.query_id, cast(count(i.neighbor_id) as bigint) AS n_hit,
           |  cast(count(i.neighbor_id) as double) / count(*) AS recall
           |FROM fbk b LEFT JOIN fck i
           |  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
           |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin),

    // One NN-descent round over the chunk-built base layer, replayed
    // end-to-end: the whole chained build (buildCtes), then the capped
    // reverse/undirected windows, the local join, and the per-src top-2M —
    // fingerprints of the refined layer.
    "ann_graph_refine" ->
      (s"WITH $buildCtes,\n" + refineCtes(s"bbase${BuildChunks - 1}") + "\n" +
        s"""SELECT 'base' AS part, src, count(*) AS n_edges,
           |  cast(sum(cast(floor(dist * 1000000000.0 + 0.5) as bigint)) as bigint) AS sum_dist_nanos,
           |  cast(sum(dst) as bigint) AS sum_dst
           |FROM rfined GROUP BY 2 ORDER BY part, src""".stripMargin),

    // The refine gauge: the standard unrolled flat search over the REFINED
    // layer, against the exact top-10 (raw17).
    "ann_graph_refine_recall" ->
      (graphCtes + ",\n" + buildCtes + ",\n" +
        refineCtes(s"bbase${BuildChunks - 1}") + ",\n" +
        s"""gq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 100),
           |rfent AS (SELECT vec_id AS node FROM embeddings
           |  ORDER BY md5('gentry|' || cast(vec_id as varchar)), vec_id LIMIT $GraphEntries),
           |""".stripMargin +
        graphSearchCtesOver("gq", "rf", "rfined",
          "SELECT q.query_id, e.node FROM gq q, rfent e", GraphBeam, GraphRounds) +
        ",\n" +
        s"""rk AS (SELECT query_id, node AS neighbor_id FROM (
           |    SELECT query_id, node,
           |      row_number() OVER (PARTITION BY query_id ORDER BY dist, node) AS rn
           |    FROM rfb$GraphRounds) WHERE rn <= 10),
           |rbk AS (SELECT query_id, neighbor_id FROM raw17 WHERE query_id < 100 AND rank <= 10)
           |SELECT b.query_id, cast(count(i.neighbor_id) as bigint) AS n_hit,
           |  cast(count(i.neighbor_id) as double) / count(*) AS recall
           |FROM rbk b LEFT JOIN rk i
           |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
           |GROUP BY b.query_id ORDER BY 1""".stripMargin),

    // The WHOLE insert procedure replayed: old-corpus kNN layers, both
    // unrolled search phases at beam 2M over the old layers, the two
    // grouped re-ranks — then the same per-src fingerprints.
    "ann_graph_insert" ->
      (s"WITH $insertCtes\n" +
        s"""SELECT part, src, n_edges, sum_dist_nanos, sum_dst FROM (
           |  SELECT 'base_new' AS part, src, count(*) AS n_edges,
           |    cast(sum(cast(floor(dist * 1000000000.0 + 0.5) as bigint)) as bigint) AS sum_dist_nanos,
           |    cast(sum(dst) as bigint) AS sum_dst FROM nbase GROUP BY 2
           |  UNION ALL
           |  SELECT 'base_trim', src, count(*),
           |    cast(sum(cast(floor(dist * 1000000000.0 + 0.5) as bigint)) as bigint),
           |    cast(sum(dst) as bigint) FROM btrim GROUP BY 2
           |  UNION ALL
           |  SELECT 'rep_new', src, count(*),
           |    cast(sum(cast(floor(dist * 1000000000.0 + 0.5) as bigint)) as bigint),
           |    cast(sum(dst) as bigint) FROM nrep GROUP BY 2
           |  UNION ALL
           |  SELECT 'rep_trim', src, count(*),
           |    cast(sum(cast(floor(dist * 1000000000.0 + 0.5) as bigint)) as bigint),
           |    cast(sum(dst) as bigint) FROM rtrim GROUP BY 2)
           |ORDER BY part, src""".stripMargin),

    // Recall over the INCREMENTED layers: the insert replay's iedges/
    // iredges, then the standard layered search unrolled over them (entry
    // sample from the FULL corpus' reps — new reps are entry-eligible),
    // against the full-corpus exact top-10 (raw17).
    "ann_graph_insert_recall" ->
      (graphCtes + ",\n" + insertCtes + ",\n" +
        s"""freps AS (SELECT vec_id FROM embeddings
           |  WHERE ${md5ModCol("cast(vec_id as varchar) || '|grep'", RepMod.toString)} = 0),
           |fent AS (SELECT vec_id AS node FROM freps
           |  ORDER BY md5('gentry|' || cast(vec_id as varchar)), vec_id LIMIT $GraphEntries),
           |gq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 100),
           |""".stripMargin +
        graphSearchCtesOver("gq", "jr", "iredges",
          "SELECT q.query_id, e.node FROM gq q, fent e", RepBeam, RepRounds) +
        ",\n" +
        graphSearchCtesOver("gq", "jb", "iedges",
          s"SELECT query_id, node FROM jrb$RepRounds", BaseBeam, BaseRounds) +
        ",\n" +
        s"""jk AS (SELECT query_id, node AS neighbor_id FROM (
           |    SELECT query_id, node,
           |      row_number() OVER (PARTITION BY query_id ORDER BY dist, node) AS rn
           |    FROM jbb$BaseRounds) WHERE rn <= 10),
           |jbk AS (SELECT query_id, neighbor_id FROM raw17 WHERE query_id < 100 AND rank <= 10)
           |SELECT b.query_id, cast(count(i.neighbor_id) as bigint) AS n_hit,
           |  cast(count(i.neighbor_id) as double) / count(*) AS recall
           |FROM jbk b LEFT JOIN jk i
           |  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
           |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin),

    // The WHOLE chained build replayed: seed-chunk kNN layers, then one
    // full insert replay per later chunk over the previous step's layers —
    // the final layers' per-src fingerprints.
    "ann_graph_build_incremental" ->
      (s"WITH $buildCtes\n" +
        s"""SELECT part, src, n_edges, sum_dist_nanos, sum_dst FROM (
           |  SELECT 'base' AS part, src, count(*) AS n_edges,
           |    cast(sum(cast(floor(dist * 1000000000.0 + 0.5) as bigint)) as bigint) AS sum_dist_nanos,
           |    cast(sum(dst) as bigint) AS sum_dst FROM bbase${BuildChunks - 1} GROUP BY 2
           |  UNION ALL
           |  SELECT 'rep', src, count(*),
           |    cast(sum(cast(floor(dist * 1000000000.0 + 0.5) as bigint)) as bigint),
           |    cast(sum(dst) as bigint) FROM brep${BuildChunks - 1} GROUP BY 2)
           |ORDER BY part, src""".stripMargin),

    // Recall over the CHUNK-BUILT layers: the build replay's final
    // bbase/brep, the standard layered search unrolled over them (entry
    // sample from the FULL corpus' reps), against the full-corpus exact
    // top-10 (raw17).
    "ann_graph_build_recall" ->
      (graphCtes + ",\n" + buildCtes + ",\n" +
        recallGaugeCtes(s"brep${BuildChunks - 1}", s"bbase${BuildChunks - 1}")),

    // The streamed-in graph equals the batch chain of the SAME quartile
    // chunks: the build replay with the replay's ntile membership, then
    // the final layers' per-src fingerprints.
    "q_stream_graph_ingest" ->
      (s"WITH ${buildCtesFor(ingestChunkSql, IngestChunks, 1)}\n" +
        s"""SELECT part, src, n_edges, sum_dist_nanos, sum_dst FROM (
           |  SELECT 'base' AS part, src, count(*) AS n_edges,
           |    cast(sum(cast(floor(dist * 1000000000.0 + 0.5) as bigint)) as bigint) AS sum_dist_nanos,
           |    cast(sum(dst) as bigint) AS sum_dst FROM bbase${IngestChunks - 1} GROUP BY 2
           |  UNION ALL
           |  SELECT 'rep', src, count(*),
           |    cast(sum(cast(floor(dist * 1000000000.0 + 0.5) as bigint)) as bigint),
           |    cast(sum(dst) as bigint) FROM brep${IngestChunks - 1} GROUP BY 2)
           |ORDER BY part, src""".stripMargin),

    // Recall over the streamed-in layers — same unrolled layered search as
    // ann_graph_build_recall, over the quartile-chunked replay's layers.
    "q_stream_graph_ingest_recall" ->
      (graphCtes + ",\n" + buildCtesFor(ingestChunkSql, IngestChunks, 1) + ",\n" +
        recallGaugeCtes(s"brep${IngestChunks - 1}", s"bbase${IngestChunks - 1}")),

    // The WHOLE delete-repair rule replayed closed-form (no unrolled
    // search needed): victims, kept edges, loser/victim in-edges,
    // inherited candidates, fresh fold-L2 scores, grouped re-trim — then
    // the same per-src fingerprints over both layers' re-trimmed lists.
    "ann_graph_delete" ->
      (graphCtes + ",\n" + repLayerCtes + ",\n" + deleteCtes + "\n" +
        """SELECT part, src, n_edges, sum_dist_nanos, sum_dst FROM (
          |  SELECT 'base_trim' AS part, src, count(*) AS n_edges,
          |    cast(sum(cast(floor(dist * 1000000000.0 + 0.5) as bigint)) as bigint) AS sum_dist_nanos,
          |    cast(sum(dst) as bigint) AS sum_dst FROM dbtrim GROUP BY 2
          |  UNION ALL
          |  SELECT 'rep_trim', src, count(*),
          |    cast(sum(cast(floor(dist * 1000000000.0 + 0.5) as bigint)) as bigint),
          |    cast(sum(dst) as bigint) FROM drtrim GROUP BY 2)
          |ORDER BY part, src""".stripMargin),

    // Recall over the REPAIRED layers: the delete replay's dbedges2/
    // dredges2, the standard layered search unrolled over them (entry
    // sample from the SURVIVING reps), against the exact top-10 over the
    // surviving corpus.
    "ann_graph_delete_recall" ->
      (graphCtes + ",\n" + repLayerCtes + ",\n" + deleteCtes + ",\n" +
        s"""sreps AS (SELECT r.vec_id FROM reps r
           |  LEFT JOIN dvict v ON r.vec_id = v.node WHERE v.node IS NULL),
           |dent AS (SELECT vec_id AS node FROM sreps
           |  ORDER BY md5('gentry|' || cast(vec_id as varchar)), vec_id LIMIT $GraphEntries),
           |gq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 100),
           |""".stripMargin +
        graphSearchCtesOver("gq", "kr", "dredges2",
          "SELECT q.query_id, e.node FROM gq q, dent e", RepBeam, RepRounds) +
        ",\n" +
        graphSearchCtesOver("gq", "kb", "dbedges2",
          s"SELECT query_id, node FROM krb$RepRounds", BaseBeam, BaseRounds) +
        ",\n" +
        s"""kk AS (SELECT query_id, node AS neighbor_id FROM (
           |    SELECT query_id, node,
           |      row_number() OVER (PARTITION BY query_id ORDER BY dist, node) AS rn
           |    FROM kbb$BaseRounds) WHERE rn <= 10),
           |sk AS (SELECT query_id, neighbor_id FROM (
           |    SELECT k.query_id, k.neighbor_id,
           |      row_number() OVER (PARTITION BY k.query_id ORDER BY k.dist, k.neighbor_id) AS rn
           |    FROM knn k LEFT JOIN dvict v ON k.neighbor_id = v.node
           |    WHERE k.query_id < 100 AND v.node IS NULL) WHERE rn <= 10)
           |SELECT b.query_id, cast(count(i.neighbor_id) as bigint) AS n_hit,
           |  cast(count(i.neighbor_id) as double) / count(*) AS recall
           |FROM sk b LEFT JOIN kk i
           |  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
           |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin),

    // Graph-ANN recall@10 vs the exact fold-L2 top-10 (raw17 ranks).
    "ann_graph_recall" ->
      (graphCtes + ",\n" +
        s"""gq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 100),
           |${graphSearchCtes("gq")},
           |gk AS (SELECT query_id, node AS neighbor_id FROM (
           |    SELECT query_id, node,
           |      row_number() OVER (PARTITION BY query_id ORDER BY dist, node) AS rn
           |    FROM gb$GraphRounds) WHERE rn <= 10),
           |bk AS (SELECT query_id, neighbor_id FROM raw17 WHERE query_id < 100 AND rank <= 10)
           |SELECT b.query_id, cast(count(i.neighbor_id) as bigint) AS n_hit,
           |  cast(count(i.neighbor_id) as double) / count(*) AS recall
           |FROM bk b LEFT JOIN gk i
           |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
           |GROUP BY b.query_id ORDER BY 1""".stripMargin),

    "ann_ivf_topk" -> ivfTopkOracle,
    // streaming append-ingested index ≡ batch-built index (lossless
    // insert), so the search replays with the identical oracle
    "q_stream_ivf_ingest" -> ivfTopkOracle,

    // Same replay — the engine side forces the beyond-broadcast probed-join
    // regime, which must land on identical rows (regimes are bit-identical
    // by construction; this row driver-gates it, the spec only unit-gates).
    "ann_ivf_join_topk" -> ivfTopkOracle,

    // Incremental-insert replay: centroids sampled from the OLD corpus
    // (md5-mod holdout), assignment over the WHOLE table — exactly the
    // incremented index, by the losslessness of per-row assignment.
    "ann_ivf_insert_topk" ->
      (s"""WITH ioldc AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
          |  WHERE ${md5ModCol("cast(vec_id as varchar) || '|iins'", "16")} <> 0),
          |""".stripMargin +
        ivfDetCtesFrom("ioldc") + "\n" +
        """SELECT query_id, neighbor_id, cast(rank as bigint) AS rank FROM (
          |  SELECT query_id, neighbor_id,
          |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
          |  FROM cand) WHERE rank <= 10
          |ORDER BY query_id, rank""".stripMargin),

    // Index-as-table: identical rows to ann_ivf_topk by construction (the
    // probed subset contains every list the search scans) — same replay.
    "ann_ivf_log_topk" -> ivfTopkOracle,

    // IVF acceptance gauge: per-query recall@10 against the brute-force
    // cosine ground truth, both sides replayed from the same nrm scan.
    "ann_ivf_recall" ->
      (s"WITH $ivfDetCtes,\n" +
        s"""ivfk AS (SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
           |    FROM cand) WHERE rank <= 10),
           |bpairs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    CASE WHEN sqrt(q.sq) * sqrt(c.sq) = 0 THEN 0.0 ELSE
           |      list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
           |        i -> cast(q.embedding[i] as double) * cast(c.embedding[i] as double))), (acc, x) -> acc + x)
           |      / (sqrt(q.sq) * sqrt(c.sq)) END AS score
           |  FROM nrm q, nrm c WHERE q.vec_id < 100),
           |bk AS (SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
           |    FROM bpairs) WHERE rank <= 10)
           |SELECT b.query_id, cast(count(i.neighbor_id) as bigint) AS n_hit,
           |  cast(count(i.neighbor_id) as double) / count(*) AS recall
           |FROM bk b LEFT JOIN ivfk i
           |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
           |GROUP BY b.query_id ORDER BY 1""".stripMargin),

    // Hybrid pre-filter replay: exact cosine top-10 with the corpus side
    // restricted to the predicate's survivors (queries unrestricted).
    "ann_filtered_topk" -> filteredTopkOracle,

    // The hinted dispatch must be result-invariant — same oracle as the
    // measured-dispatch row (one shared literal, so they cannot drift).
    "ann_filtered_hinted_topk" -> filteredTopkOracle,

    // The lake-derived hint drives only the regime — same rows, same
    // replay as the measured and literal-hinted dispatches.
    "ann_filtered_logbound_topk" -> filteredTopkOracle,

    // Hybrid post-filter replay: the UNfiltered IVF candidate ranking cut
    // at the 4× oversample budget (r0 ≤ 40), predicate filter, re-rank to
    // 10 — each step the exact arithmetic the Spark path runs.
    "ann_filtered_post_topk" ->
      (s"WITH $ivfDetCtes,\n" +
        """oc AS (SELECT query_id, neighbor_id, score FROM (
          |    SELECT query_id, neighbor_id, score,
          |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS r0
          |    FROM cand) WHERE r0 <= 40
          |      AND neighbor_id IN (SELECT vec_id FROM embeddings WHERE label != 3))
          |SELECT query_id, neighbor_id, cast(rank as bigint) AS rank FROM (
          |  SELECT query_id, neighbor_id,
          |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
          |  FROM oc) WHERE rank <= 10
          |ORDER BY query_id, rank""".stripMargin),

    // Hybrid acceptance gauge replay: post-filter top-10 vs the exact
    // filtered ground truth, both from the same nrm scan.
    "ann_filtered_recall" ->
      (s"WITH $ivfDetCtes,\n" +
        s"""oc AS (SELECT query_id, neighbor_id, score FROM (
           |    SELECT query_id, neighbor_id, score,
           |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS r0
           |    FROM cand) WHERE r0 <= 40
           |      AND neighbor_id IN (SELECT vec_id FROM embeddings WHERE label != 3)),
           |pk AS (SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
           |    FROM oc) WHERE rank <= 10),
           |fpairs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    CASE WHEN sqrt(q.sq) * sqrt(c.sq) = 0 THEN 0.0 ELSE
           |      list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
           |        i -> cast(q.embedding[i] as double) * cast(c.embedding[i] as double))), (acc, x) -> acc + x)
           |      / (sqrt(q.sq) * sqrt(c.sq)) END AS score
           |  FROM nrm q, nrm c WHERE q.vec_id < 100
           |    AND c.vec_id IN (SELECT vec_id FROM embeddings WHERE label != 3)),
           |fk AS (SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
           |    FROM fpairs) WHERE rank <= 10)
           |SELECT f.query_id, cast(count(p.neighbor_id) as bigint) AS n_hit,
           |  cast(count(p.neighbor_id) as double) / count(*) AS recall
           |FROM fk f LEFT JOIN pk p
           |  ON f.query_id = p.query_id AND f.neighbor_id = p.neighbor_id
           |GROUP BY f.query_id ORDER BY 1""".stripMargin),

    // nprobe sweep replay: rank ALL centroids per query (no rn ≤ nprobe
    // cut), and recall@10(nprobe) = fraction of brute-cosine top-10 pairs
    // whose neighbor-cluster probe rank ≤ nprobe (probed exact-top-10 ⟺
    // IVF-top-10 membership — the scanned-subset re-rank only promotes).
    "ann_ivf_nprobe_sweep" ->
      (s"WITH $ivfIndexCtes,\n" +
        s"""prank AS (SELECT e.vec_id AS query_id, c.cluster,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${l2sqSql("e.embedding", "c.embedding")}, c.cluster) AS pr
           |  FROM nrm e, cent c WHERE e.vec_id < 100),
           |bpairs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    CASE WHEN sqrt(q.sq) * sqrt(c.sq) = 0 THEN 0.0 ELSE
           |      list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
           |        i -> cast(q.embedding[i] as double) * cast(c.embedding[i] as double))), (acc, x) -> acc + x)
           |      / (sqrt(q.sq) * sqrt(c.sq)) END AS score
           |  FROM nrm q, nrm c WHERE q.vec_id < 100),
           |bk AS (SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
           |    FROM bpairs) WHERE rank <= 10),
           |hitpr AS (SELECT b.query_id, b.neighbor_id, p.pr
           |  FROM bk b JOIN asg a ON b.neighbor_id = a.vec_id
           |  JOIN prank p ON p.query_id = b.query_id AND p.cluster = a.cluster)
           |SELECT cast(np as bigint) AS nprobe,
           |  cast(sum(CASE WHEN pr <= np THEN 1 ELSE 0 END) as bigint) AS n_hit,
           |  cast(sum(CASE WHEN pr <= np THEN 1 ELSE 0 END) as double) / count(*) AS recall
           |FROM hitpr, (VALUES (1),(2),(4),(8),(16)) v(np)
           |GROUP BY np ORDER BY nprobe""".stripMargin),

    // (nlist, nprobe) surface replay: the sampled centroid sets are md5-
    // prefix-nested (cent for nlist n = first n of the 64-row md5 order),
    // so ONE 64-row centroid CTE serves all three indexes; assignment and
    // probe ranks re-derive per nlist, and recall@10(nlist, nprobe) counts
    // exact-top-10 pairs whose neighbor-cluster probe rank ≤ nprobe.
    "ann_ivf_nlist_sweep" ->
      s"""WITH centall AS MATERIALIZED (
         |  SELECT cast(row_number() OVER (ORDER BY md5('ivf|' || cast(vec_id as varchar)), vec_id) - 1 as int) AS cluster,
         |    embedding
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY md5('ivf|' || cast(vec_id as varchar)), vec_id LIMIT 64)),
         |nrm AS MATERIALIZED (SELECT vec_id, embedding,
         |    list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
         |      i -> cast(embedding[i] as double) * cast(embedding[i] as double))), (acc, x) -> acc + x) AS sq
         |  FROM embeddings),
         |nls AS (SELECT * FROM (VALUES (4),(16),(64)) t(nlist)),
         |asgn AS MATERIALIZED (SELECT nlist, vec_id, cluster FROM (
         |    SELECT n.nlist, e.vec_id, c.cluster,
         |      row_number() OVER (PARTITION BY n.nlist, e.vec_id
         |        ORDER BY ${l2sqSql("e.embedding", "c.embedding")}, c.cluster) AS rn
         |    FROM nrm e, nls n, centall c WHERE c.cluster < n.nlist) WHERE rn = 1),
         |prank AS (SELECT n.nlist, e.vec_id AS query_id, c.cluster,
         |    row_number() OVER (PARTITION BY n.nlist, e.vec_id
         |      ORDER BY ${l2sqSql("e.embedding", "c.embedding")}, c.cluster) AS pr
         |  FROM nrm e, nls n, centall c WHERE e.vec_id < 100 AND c.cluster < n.nlist),
         |bpairs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    CASE WHEN sqrt(q.sq) * sqrt(c.sq) = 0 THEN 0.0 ELSE
         |      list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
         |        i -> cast(q.embedding[i] as double) * cast(c.embedding[i] as double))), (acc, x) -> acc + x)
         |      / (sqrt(q.sq) * sqrt(c.sq)) END AS score
         |  FROM nrm q, nrm c WHERE q.vec_id < 100),
         |bk AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
         |    FROM bpairs) WHERE rank <= 10),
         |hitpr AS (SELECT a.nlist, b.query_id, b.neighbor_id, p.pr
         |  FROM bk b JOIN asgn a ON b.neighbor_id = a.vec_id
         |  JOIN prank p ON p.nlist = a.nlist AND p.query_id = b.query_id AND p.cluster = a.cluster)
         |SELECT cast(h.nlist as bigint) AS nlist, cast(np as bigint) AS nprobe,
         |  cast(sum(CASE WHEN pr <= np THEN 1 ELSE 0 END) as bigint) AS n_hit,
         |  cast(sum(CASE WHEN pr <= np THEN 1 ELSE 0 END) as double) / count(*) AS recall
         |FROM hitpr h JOIN (VALUES (1),(2),(4),(8),(16),(64)) v(np) ON v.np <= h.nlist
         |GROUP BY h.nlist, np ORDER BY nlist, nprobe""".stripMargin,

    // Deterministic LSH replayed end-to-end: the same float32-quantized md5
    // Box–Muller hyperplanes, floor(dot/width) buckets, bucket equi-join,
    // DISTINCT pair dedup, fold-L2 re-rank.
    "ann_lsh_topk" ->
      (s"WITH $lshDetCtes\n" +
        s"""SELECT query_id, neighbor_id, cast(rank as bigint) AS rank FROM (
           |  SELECT query_id, neighbor_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
           |  FROM scored) WHERE rank <= 5
           |ORDER BY query_id, rank""".stripMargin),

    // LSH-hybrid replay: the bucket-join candidate ranking cut at the
    // re-rank budget (r0 ≤ 20), predicate filter, re-rank to 5.
    "ann_filtered_lsh_topk" ->
      (s"WITH $lshDetCtes,\n" +
        """lc AS (SELECT query_id, neighbor_id, dist FROM (
          |    SELECT query_id, neighbor_id, dist,
          |      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS r0
          |    FROM scored) WHERE r0 <= 20
          |      AND neighbor_id IN (SELECT vec_id FROM embeddings WHERE label != 3))
          |SELECT query_id, neighbor_id, cast(rank as bigint) AS rank FROM (
          |  SELECT query_id, neighbor_id,
          |    row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
          |  FROM lc) WHERE rank <= 5
          |ORDER BY query_id, rank""".stripMargin),

    // LSH acceptance gauge: per-query recall@5 against the brute-force
    // fold-L2 ground truth (self included on both sides).
    "ann_lsh_recall" ->
      (s"WITH $lshDetCtes,\n" +
        s"""lshk AS (SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
           |    FROM scored) WHERE rank <= 5),
           |bknn AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |    sqrt(${l2sqSql("a.embedding", "b.embedding")}) AS dist
           |  FROM embeddings a, embeddings b WHERE a.vec_id < 100),
           |bk AS (SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
           |    FROM bknn) WHERE rank <= 5)
           |SELECT b.query_id, cast(count(i.neighbor_id) as bigint) AS n_hit,
           |  cast(count(i.neighbor_id) as double) / count(*) AS recall
           |FROM bk b LEFT JOIN lshk i
           |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
           |GROUP BY b.query_id ORDER BY 1""".stripMargin),

    // Table-count sweep: first-matching-table index per exact pair over the
    // same proj/hashed CTEs, recall@5(T) = frac(t_min < T). Self pairs
    // match at t = 0, so recall ≥ 0.2 at T = 1 by construction.
    "ann_lsh_tables_sweep" ->
      (s"WITH $lshDetCtes,\n" +
        s"""bknn AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |    sqrt(${l2sqSql("a.embedding", "b.embedding")}) AS dist
           |  FROM embeddings a, embeddings b WHERE a.vec_id < 100),
           |bk AS (SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
           |    FROM bknn) WHERE rank <= 5),
           |tmin AS (SELECT b.query_id, b.neighbor_id, min(q.t) AS t_min
           |  FROM bk b JOIN hashed q ON q.vec_id = b.query_id
           |            JOIN hashed c ON c.vec_id = b.neighbor_id
           |                         AND c.t = q.t AND c.bucket = q.bucket
           |  GROUP BY 1, 2),
           |x AS (SELECT coalesce(t.t_min, 999) AS t_min
           |  FROM bk b LEFT JOIN tmin t
           |    ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id),
           |sweep AS (SELECT tt.range AS tables, t_min FROM x, range(1, 6) tt)
           |SELECT cast(tables as bigint) AS tables,
           |  cast(sum(CASE WHEN t_min < tables THEN 1 ELSE 0 END) as bigint) AS n_hit,
           |  cast(sum(CASE WHEN t_min < tables THEN 1 ELSE 0 END) as double)
           |    / count(*) AS recall
           |FROM sweep GROUP BY 1 ORDER BY 1""".stripMargin),

    "ann_cosine_pairs" -> cosineSql(
      queryFilter = "true", k = 6,
      select = """SELECT DISTINCT query_id AS a, neighbor_id AS b, score AS cosine FROM (
                  |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
                  |  FROM pairs)
                  |WHERE rank <= 6 AND query_id < neighbor_id AND score >= 0.4
                  |ORDER BY a, b""".stripMargin),

    "attack_hit_rate" ->
      (graphCtes +
        s""", kept AS (SELECT vec_id, embedding FROM (
           |    SELECT vec_id, embedding,
           |      row_number() OVER (ORDER BY md5(cast(vec_id as varchar) || '#del#$Seed'), vec_id) AS rn,
           |      count(*) OVER () AS n
           |    FROM embeddings) WHERE rn <= n - ceil(n * cast($DeleteP as double))),
           |aknn AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |    sqrt(list_reduce(list_transform(range(1, ${D + 1}),
           |      i -> (cast(a.embedding[i] as double) - cast(b.embedding[i] as double))
           |         * (cast(a.embedding[i] as double) - cast(b.embedding[i] as double))), (x, y) -> x + y)) AS dist
           |  FROM embeddings a, kept b),
           |after AS (SELECT query_id, neighbor_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank FROM aknn)
           |  WHERE rank <= 10)
           |SELECT
           |  (SELECT count(*) FROM (SELECT query_id, neighbor_id FROM raw17 WHERE rank <= 10) b
           |     JOIN after a USING (query_id, neighbor_id)) AS n_common,
           |  (SELECT count(distinct query_id) FROM raw17 WHERE rank <= 10) AS n_queries,
           |  cast(10 as bigint) AS k""".stripMargin),

    // Same a<b<c wedge-close over graphCtes' mutual edges.
    "graph_triangles" ->
      (graphCtes + ",\n" +
        """mutual AS (SELECT DISTINCT e1.src AS a, e1.dst AS b FROM edges e1
          |  JOIN edges e2 ON e1.src = e2.dst AND e1.dst = e2.src
          |  WHERE e1.src < e1.dst),
          |tri AS (SELECT ab.a, ab.b, bc.b AS c FROM mutual ab
          |  JOIN mutual bc ON ab.b = bc.a
          |  JOIN mutual ac ON ac.a = ab.a AND ac.b = bc.b),
          |corners AS (SELECT a AS vec_id FROM tri
          |  UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
          |SELECT vec_id, cast(count(*) as bigint) AS n_triangles
          |FROM corners GROUP BY 1
          |ORDER BY n_triangles DESC, vec_id LIMIT 10""".stripMargin),

    // Unrolled integer PageRank over graphCtes' edges — truncating division
    // and bigint sums make each round's ranks identical to the engine's.
    "graph_pagerank" -> {
      def round(prev: String, cur: String) =
        s"""$cur AS (SELECT n.vec_id,
           |    cast(150000000000 + (85 * coalesce(s.c, 0)) // 100 as bigint) AS r
           |  FROM qc n LEFT JOIN (
           |    SELECT e.dst AS vec_id, cast(sum($prev.r // d.od) as bigint) AS c
           |    FROM edges e JOIN deg d ON d.src = e.src
           |    JOIN $prev ON $prev.vec_id = e.src GROUP BY 1) s
           |  ON s.vec_id = n.vec_id)""".stripMargin
      graphCtes + ",\n" +
        s"""deg AS (SELECT src, count(*) AS od FROM edges GROUP BY 1),
           |r0 AS (SELECT vec_id, cast(1000000000000 as bigint) AS r FROM qc),
           |${round("r0", "r1")},
           |${round("r1", "r2")},
           |${round("r2", "r3")}
           |SELECT vec_id, r AS rank_scaled FROM r3
           |ORDER BY r DESC, vec_id LIMIT 20""".stripMargin
    },

    // Undirected CC replay: labels propagate from LOCAL MINIMA only (a node
    // smaller than all its undirected neighbors) — the component min is a
    // local min and reaches its whole component, and nothing else can beat
    // it, so min-per-node over this restricted label set IS the component
    // min while keeping the recursive CTE's pair count |V|·|local minima|,
    // not |V|².
    "graph_components_undirected" ->
      (graphCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, ue AS (SELECT src AS u, dst AS v FROM edges
          |    UNION SELECT dst AS u, src AS v FROM edges),
          |lm AS (SELECT n.vec_id AS s FROM qc n WHERE NOT EXISTS (
          |    SELECT 1 FROM ue WHERE ue.u = n.vec_id AND ue.v < n.vec_id)),
          |reach(node, l) AS (
          |    SELECT s, s FROM lm
          |    UNION
          |    SELECT ue.v, r.l FROM reach r JOIN ue ON ue.u = r.node),
          |lbl AS (SELECT node AS vec_id, min(l) AS comp FROM reach GROUP BY 1)
          |SELECT comp, cast(count(*) as bigint) AS n_nodes
          |FROM (SELECT q.vec_id, coalesce(lbl.comp, q.vec_id) AS comp
          |      FROM qc q LEFT JOIN lbl ON lbl.vec_id = q.vec_id)
          |GROUP BY 1 ORDER BY 1""".stripMargin),

    "graph_bfs_reach" ->
      (graphCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, reach(vec_id) AS (
          |    SELECT vec_id FROM qc WHERE query_count = 0
          |    UNION
          |    SELECT e.dst FROM reach r JOIN edges e ON e.src = r.vec_id),
          |inner_edges AS (SELECT e.src, e.dst, e.dist FROM edges e
          |  WHERE e.src IN (SELECT vec_id FROM reach) AND e.dst IN (SELECT vec_id FROM reach))
          |SELECT
          |  (SELECT count(*) FROM qc WHERE query_count = 0) AS n_seeds,
          |  (SELECT count(*) FROM reach) AS n_reached,
          |  coalesce((SELECT cast(sum(cast(floor(dist * 1000000000.0 + 0.5) as bigint)) as double)
          |              / 1.0e9 / cast(count(*) as double) FROM inner_edges), 0.0) AS avg_internal_edge""".stripMargin),

    // G6 — seed components via a recursive CTE carrying the seed id; min per
    // node = the engine's min-label propagation fixpoint.
    "graph_cluster_stats" ->
      (graphCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, reach(vec_id, comp) AS (
          |    SELECT vec_id, vec_id AS comp FROM qc WHERE query_count = 0
          |    UNION
          |    SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.vec_id),
          |comps AS (SELECT vec_id, min(comp) AS comp FROM reach GROUP BY 1)
          |SELECT c.comp, count(*) AS n_nodes,
          |  cast(sum(cast(floor(a.avg_edge_len * 1000000000.0 + 0.5) as bigint)) as bigint) AS sum_ael_nanos,
          |  min(a.avg_edge_len) AS min_ael, max(a.avg_edge_len) AS max_ael,
          |  cast(sum(b.bidir_edges) as bigint) AS n_bidir,
          |  cast(cast(sum(cast(floor(a.avg_edge_len * 1000000000.0 + 0.5) as bigint)) as bigint) as double)
          |    / 1.0e9 / cast(count(*) as double) AS mean_ael
          |FROM comps c
          |JOIN ael a ON a.vec_id = c.vec_id
          |JOIN bidir b ON b.vec_id = c.vec_id
          |GROUP BY c.comp ORDER BY c.comp""".stripMargin),

    "dedup_simhash_pairs" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |h AS (SELECT doc_id, cast('0x' || substr(md5(t), 1, 16) as ubigint) AS h64 FROM toks),
        |votes AS (SELECT doc_id, b,
        |            sum(CASE WHEN (h64 >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |          FROM h, (SELECT unnest(range(0, 64)) AS b) bs GROUP BY 1, 2),
        |fp AS (SELECT doc_id,
        |         cast(sum(CASE WHEN v > 0 THEN
        |               (CASE WHEN b = 63 THEN -9223372036854775808 ELSE (cast(1 as bigint) << cast(b as int)) END)
        |             ELSE 0 END) as bigint) AS simhash
        |       FROM votes GROUP BY 1),
        |chunks AS (SELECT doc_id, simhash, c,
        |             (simhash >> (cast(c as int) * 16)) & 65535 AS ck
        |           FROM fp, (SELECT unnest(range(0, 4)) AS c) cs)
        |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
        |  cast(bit_count(xor(x.simhash, y.simhash)) as bigint) AS hamming
        |FROM chunks x JOIN chunks y
        |  ON x.c = y.c AND x.ck = y.ck AND x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.simhash, y.simhash)) <= 10
        |ORDER BY a, b""".stripMargin,

    "so3_overlap_modify" ->
      s"""WITH ranked AS (
         |  SELECT vec_id, embedding,
         |    row_number() OVER (ORDER BY md5(cast(vec_id as varchar) || '#modrow#$Seed'), vec_id) AS rn,
         |    count(*) OVER () AS n
         |  FROM embeddings),
         |stats AS (SELECT cast(min(embedding[${modDim0 + 1}]) as double) AS mn,
         |          cast(max(embedding[${modDim0 + 1}]) as double) AS mx
         |          FROM embeddings),
         |modded AS (SELECT vec_id,
         |    CASE WHEN rn <= ceil(n * 0.2)
         |      THEN embedding[1:${modDim0}] ||
         |           [cast(mn + (mx - mn) *
         |             (cast('0x' || substr(md5(cast(vec_id as varchar) || '#modval#$Seed'), 1, 13) as bigint)
         |               / 4503599627370496.0) as real)] ||
         |           embedding[${modDim0 + 2}:$D]
         |      ELSE embedding END AS m
         |  FROM ranked, stats)
         |SELECT
         |  (SELECT count(*) FROM (SELECT embedding FROM embeddings INTERSECT SELECT m FROM modded)) AS n_intersect,
         |  (SELECT count(*) FROM (SELECT embedding FROM embeddings UNION SELECT m FROM modded)) AS n_union""".stripMargin,

    // H1/H2 — the full RS+TVP robustness grid replayed cell-for-cell:
    // post-embed hidden bits from the codec replay (strength 0.7 carriers;
    // th=0.5 TVP selection over the graph ai), one keyed ranking per attack
    // ordering (del / modrow / ai-desc) serving every cutoff, the 30-dim run
    // overwrite RE-CLASSIFIED through the same codec chain for the modify
    // cells (content ids can change when the run crosses a key dim), and
    // per-dim fold-stat gaussian synthetics re-classified for the insert
    // cells. Majority vote + BER per (scheme, attack, p); empty groups
    // extract the pre-seeded 0 (watermarking.py:121). Attack draws use the
    // rep-0 seed (Experiments.repSeed): reps re-roll attacks only.
    "h_robustness_grid" -> {
      val atkSeed = s"att-${key.seed}-r0"
      val gdim0   = Hashing.md5Mod(s"$atkSeed|dim0", D.toLong).toInt
      def unit(k: String) =
        s"(cast('0x' || substr(md5($k), 1, 13) as bigint) / 4503599627370496.0)"
      def pcut(expr: String) = s"ceil(nn.n * cast($expr as double))"
      val schemeDefs = Seq(("SchemeRs", "wemb", "r"), ("SchemeTvp", "temb", "t"))
      val perScheme = schemeDefs.map { case (_, wm, x) =>
        s"""sdim$x AS (SELECT cast(min(embedding[${gdim0 + 1}]) as double) AS mn,
           |    cast(max(embedding[${gdim0 + 1}]) as double) AS mx FROM $wm),
           |memb$x AS (SELECT w.vec_id,
           |    list_transform(range(1, ${D + 1}), i ->
           |      CASE WHEN ((i - 1 - m.rst) % $D + $D) % $D < 30
           |        THEN cast(sd.mn + (sd.mx - sd.mn) * ${unit(s"cast(w.vec_id as varchar) || '#modval#$atkSeed'")} as real)
           |        ELSE w.embedding[i] END) AS embedding
           |  FROM $wm w JOIN mrun m ON m.vec_id = w.vec_id, sdim$x sd),
           |${classifyCtes(s"memb$x", s"x$x")},
           |spd$x AS (SELECT dim, ${nanoMeanSql("fsum", "cnt")} AS mu,
           |    sqrt(greatest(${nanoMeanSql("fsq", "cnt")} - ${nanoMeanSql("fsum", "cnt")} * ${nanoMeanSql("fsum", "cnt")}, 0.0)) AS sg
           |  FROM (SELECT i.dim AS dim,
           |      ${sumNanosSql("cast(w.embedding[i.dim] as double)")} AS fsum,
           |      ${sumNanosSql("cast(w.embedding[i.dim] as double) * cast(w.embedding[i.dim] as double)")} AS fsq,
           |      count(*) AS cnt
           |    FROM $wm w CROSS JOIN (SELECT unnest(range(1, ${D + 1})) AS dim) i
           |    GROUP BY i.dim)),
           |sin$x AS (SELECT list(mu ORDER BY dim) AS mus, list(sg ORDER BY dim) AS sgs FROM spd$x),
           |synv$x AS (SELECT y.vec_id,
           |    list_transform(range(1, ${D + 1}), i ->
           |      cast(s.mus[i] + s.sgs[i] * ${gaussSql(s"cast(y.vec_id as varchar) || '#ins' || cast(i - 1 as varchar) || '#$atkSeed'")} as real)) AS embedding
           |  FROM syn y, sin$x s),
           |${classifyCtes(s"synv$x", s"y$x")}""".stripMargin
      }.mkString(",\n")
      val pb = schemeDefs.map { case (nm, _, x) =>
        val carriers = if (x == "r") "wmvals" else "tcarriers"
        s"""SELECT '$nm' AS scheme, c.vec_id, c.group_id,
           |    CASE WHEN w.vec_id IS NOT NULL THEN w.wm_bit
           |         ELSE cast((c.oldbit + c.pos) % 2 as int) END AS hb
           |  FROM wcls c LEFT JOIN $carriers w ON c.vec_id = w.vec_id""".stripMargin
      }.mkString("\nUNION ALL\n")
      def reclass(pfx: String) = schemeDefs.map { case (nm, _, x) =>
        s"SELECT '$nm' AS scheme, vec_id, group_id, cast((oldbit + pos) % 2 as int) AS hb FROM $pfx${x}cls"
      }.mkString("\nUNION ALL\n")
      graphCtes + ",\n" + rsCodecPrefix + ",\n" + rsCarrierCtes(0.7, "") + ",\n" +
        s"""wemb AS (SELECT e.vec_id,
           |    CASE WHEN w.vec_id IS NULL THEN e.embedding
           |      ELSE list_transform(range(1, ${D + 1}),
           |             i -> CASE WHEN i = w.pos + 1 THEN w.newv ELSE e.embedding[i] END)
           |    END AS embedding
           |  FROM embeddings e LEFT JOIN wmvals w ON e.vec_id = w.vec_id),""".stripMargin + "\n" +
        tvpCandCtes + ",\n" + tvpThCtes(0.5, "") + ",\n" +
        s"""temb AS (SELECT e.vec_id,
           |    CASE WHEN t.vec_id IS NULL THEN e.embedding
           |      ELSE list_transform(range(1, ${D + 1}),
           |             i -> CASE WHEN i = t.pos + 1
           |               THEN cast(t.v + ((t.wm_bit + t.pos) % 2 - t.oldbit) *
           |                 (CASE WHEN t.bp < t.intlen THEN pow(2.0, t.intlen - 1 - t.bp)
           |                       ELSE pow(2.0, -(t.bp - t.intlen)) END) as real)
           |               ELSE e.embedding[i] END)
           |    END AS embedding
           |  FROM embeddings e LEFT JOIN tcarriers t ON e.vec_id = t.vec_id),
           |nn AS (SELECT count(*) AS n, max(vec_id) AS maxid FROM embeddings),
           |pvals(p) AS (VALUES ${RobGridPs.map(p => s"($p)").mkString(", ")}),
           |rkd AS (SELECT vec_id, row_number() OVER (ORDER BY md5(cast(vec_id as varchar) || '#del#$atkSeed'), vec_id) AS r FROM embeddings),
           |rkm AS (SELECT vec_id, row_number() OVER (ORDER BY md5(cast(vec_id as varchar) || '#modrow#$atkSeed'), vec_id) AS r FROM embeddings),
           |rka AS (SELECT vec_id, row_number() OVER (ORDER BY ai DESC, vec_id) AS r FROM ai),
           |mrun AS (SELECT vec_id, cast(${md5ModSql(s"cast(vec_id as varchar) || '#moddim#$atkSeed'", D)} as bigint) AS rst FROM embeddings),
           |syn AS (SELECT nn.maxid + 1 + unnest(range(0, cast(${pcut(RobGridPs.max.toString)} as bigint))) AS vec_id FROM nn),
           |$perScheme,
           |pb AS MATERIALIZED (
           |$pb),
           |mb AS MATERIALIZED (
           |${reclass("x")}),
           |ib AS MATERIALIZED (
           |${reclass("y")}),
           |ab AS (
           |  SELECT pb.scheme, 'random_delete' AS attack, pv.p, pb.group_id, pb.hb
           |    FROM pvals pv, nn, pb JOIN rkd ON pb.vec_id = rkd.vec_id
           |    WHERE rkd.r <= nn.n - ${pcut("pv.p")}
           |  UNION ALL
           |  SELECT pb.scheme, 'adaptive_delete' AS attack, pv.p, pb.group_id, pb.hb
           |    FROM pvals pv, nn, pb JOIN rka ON pb.vec_id = rka.vec_id
           |    WHERE rka.r > ${pcut("pv.p")}
           |  UNION ALL
           |  SELECT mb.scheme, 'random_modify' AS attack, pv.p, mb.group_id, mb.hb
           |    FROM pvals pv, nn, mb JOIN rkm ON mb.vec_id = rkm.vec_id
           |    WHERE rkm.r <= ${pcut("pv.p")}
           |  UNION ALL
           |  SELECT pb.scheme, 'random_modify' AS attack, pv.p, pb.group_id, pb.hb
           |    FROM pvals pv, nn, pb JOIN rkm ON pb.vec_id = rkm.vec_id
           |    WHERE rkm.r > ${pcut("pv.p")}
           |  UNION ALL
           |  SELECT mb.scheme, 'adaptive_modify' AS attack, pv.p, mb.group_id, mb.hb
           |    FROM pvals pv, nn, mb JOIN rka ON mb.vec_id = rka.vec_id
           |    WHERE rka.r <= ${pcut("pv.p")}
           |  UNION ALL
           |  SELECT pb.scheme, 'adaptive_modify' AS attack, pv.p, pb.group_id, pb.hb
           |    FROM pvals pv, nn, pb JOIN rka ON pb.vec_id = rka.vec_id
           |    WHERE rka.r > ${pcut("pv.p")}
           |  UNION ALL
           |  SELECT pb.scheme, 'insert' AS attack, pv.p, pb.group_id, pb.hb
           |    FROM pvals pv, pb
           |  UNION ALL
           |  SELECT ib.scheme, 'insert' AS attack, pv.p, ib.group_id, ib.hb
           |    FROM pvals pv, nn, ib WHERE ib.vec_id - (nn.maxid + 1) < ${pcut("pv.p")}),
           |votes AS (SELECT scheme, attack, p, group_id, sum(hb) AS n1, count(*) AS nv
           |  FROM ab GROUP BY 1, 2, 3, 4),
           |cells AS (SELECT s.scheme, a.attack, pv.p
           |  FROM (VALUES ('SchemeRs'), ('SchemeTvp')) s(scheme),
           |       (VALUES ('random_delete'), ('adaptive_delete'), ('random_modify'),
           |               ('adaptive_modify'), ('insert')) a(attack),
           |       pvals pv)
           |SELECT c.scheme, c.attack, cast(c.p as double) AS p, cast(0 as bigint) AS rep,
           |  avg(CASE WHEN b.wm_bit <> coalesce(CASE WHEN v.n1 * 2 > v.nv THEN 1 ELSE 0 END, 0)
           |      THEN 1 ELSE 0 END) AS ber
           |FROM cells c CROSS JOIN wbits b
           |LEFT JOIN votes v ON v.scheme = c.scheme AND v.attack = c.attack
           |  AND v.p = c.p AND v.group_id = b.bit_pos
           |GROUP BY c.scheme, c.attack, c.p
           |ORDER BY 1, 2, 3""".stripMargin
    },

    // H2 — the SCPW column of the scheme comparison, replayed end-to-end
    // (the micros-rendered value hash made the classification — and with it
    // the full embed→attack→extract chain — SQL-expressible; see Scpw).
    "h_scpw_grid" -> scpwGridSql,

    // The RESULTS.md quality curves replayed at the reference's published
    // parameters: classification under the 21-BIT message, deficit at
    // strength 0.54, the th=1.0 TVP selection, post-embed bits, then the
    // attack keep-sets and the majority-vote BER — all the same CTE
    // machinery as h_robustness_grid, re-parameterized (shared prefix:
    // qualityCurvePrefix).
    "h_quality_curve" -> {
      def pcut(expr: String) = s"ceil(nn.n * cast($expr as double))"
      qualityCurvePrefix + ",\n" +
        s"""rka AS (SELECT vec_id, row_number() OVER (ORDER BY ai DESC, vec_id) AS r FROM ai),
           |ab AS (SELECT pv.p, pb.group_id, pb.hb
           |  FROM pvals pv, nn, pb JOIN rka ON pb.vec_id = rka.vec_id
           |  WHERE rka.r > ${pcut("pv.p")}),
           |votes AS (SELECT p, group_id, sum(hb) AS n1, count(*) AS nv FROM ab GROUP BY 1, 2)
           |SELECT cast(pv.p as double) AS p,
           |  avg(CASE WHEN b.wm_bit <> coalesce(CASE WHEN v.n1 * 2 > v.nv THEN 1 ELSE 0 END, 0)
           |      THEN 1 ELSE 0 END) AS ber
           |FROM pvals pv CROSS JOIN wbits b
           |LEFT JOIN votes v ON v.p = pv.p AND v.group_id = b.bit_pos
           |GROUP BY pv.p ORDER BY p""".stripMargin
    },

    // The 10-rep RANDOM-deletion curve (RESULTS.md row 2): same embed, ten
    // rep-seeded keyed deletion rankings (reps re-roll only the attack —
    // the reference's fixed-embed-seed semantics), per-(p, rep) BER rows.
    // The published 10-rep mean is the avg over the gated per-rep values.
    "h_quality_curve_rand" -> {
      def pcut(expr: String) = s"ceil(nn.n * cast($expr as double))"
      val rankedAll = (0 until CurveReps).map(rep =>
        s"""SELECT vec_id, $rep AS rep,
           |    row_number() OVER (ORDER BY md5(cast(vec_id as varchar) || '#del#att-${key.seed}-r$rep'), vec_id) AS rn
           |  FROM embeddings""".stripMargin).mkString("\nUNION ALL\n")
      qualityCurvePrefix + ",\n" +
        s"""rvals(rep) AS (VALUES ${(0 until CurveReps).map(r => s"($r)").mkString(", ")}),
           |ranked AS MATERIALIZED ($rankedAll),
           |ab AS (SELECT pv.p, r.rep, pb.group_id, pb.hb
           |  FROM pvals pv, nn, pb JOIN ranked r ON pb.vec_id = r.vec_id
           |  WHERE r.rn <= nn.n - ${pcut("pv.p")}),
           |votes AS (SELECT p, rep, group_id, sum(hb) AS n1, count(*) AS nv
           |  FROM ab GROUP BY 1, 2, 3)
           |SELECT cast(pv.p as double) AS p, cast(rv.rep as bigint) AS rep,
           |  avg(CASE WHEN b.wm_bit <> coalesce(CASE WHEN v.n1 * 2 > v.nv THEN 1 ELSE 0 END, 0)
           |      THEN 1 ELSE 0 END) AS ber
           |FROM pvals pv CROSS JOIN rvals rv CROSS JOIN wbits b
           |LEFT JOIN votes v ON v.p = pv.p AND v.rep = rv.rep AND v.group_id = b.bit_pos
           |GROUP BY pv.p, rv.rep ORDER BY p, rep""".stripMargin
    },
  )

  /** Shared oracle prefix of the two RESULTS.md quality-curve replays:
    * graph ai, 21-bit classification, strength-0.54 deficit, th=1.0 TVP
    * selection, post-embed bits, and the p axis.
    */
  private lazy val qualityCurvePrefix: String =
    graphCtes + ",\n" +
      classifyCtes("embeddings", "w", CurveWm) + ",\n" +
      s"wbits(bit_pos, wm_bit) AS (VALUES ${bitsValuesSqlFor(CurveWm)}),\n" +
      s"""wgstat AS (SELECT group_id, count(*) AS n_group, sum((oldbit + pos) % 2) AS n_one
         |  FROM wcls GROUP BY 1),""".stripMargin + "\n" +
      rsCarrierCtes(0.54, "") + ",\n" + // for its wneeds; the RS tail CTEs are unused and pruned
      tvpCandCtes + ",\n" + tvpThCtes(1.0, "") + ",\n" +
      s"""nn AS (SELECT count(*) AS n FROM embeddings),
         |pvals(p) AS (VALUES ${CurvePs.map(p => s"($p)").mkString(", ")}),
         |pb AS MATERIALIZED (SELECT c.vec_id, c.group_id,
         |    CASE WHEN t.vec_id IS NOT NULL THEN t.wm_bit
         |         ELSE cast((c.oldbit + c.pos) % 2 as int) END AS hb
         |  FROM wcls c LEFT JOIN tcarriers t ON c.vec_id = t.vec_id)""".stripMargin

  /** DuckDB cosine top-k oracle with fold-exact dot products. */
  /** The deterministic-LSH replay chain (float32-quantized md5 Box–Muller
    * hyperplanes, floor(dot/width) buckets, bucket equi-join, DISTINCT pair
    * dedup, fold-L2 scores) — shared by ann_lsh_topk and ann_lsh_recall.
    * No leading WITH.
    */
  private def lshDetCtes: String =
    s"""proj AS MATERIALIZED (
       |  SELECT t, list(cast(cast(g as real) as double) ORDER BY j) AS r
       |  FROM (SELECT ts.range AS t, js.range AS j,
       |          ${gaussSql("'lsh|' || cast(ts.range as varchar) || '|' || cast(js.range as varchar)")} AS g
       |        FROM range(0, 5) ts, range(0, ${D}) js)
       |  GROUP BY t),
       |hashed AS MATERIALIZED (
       |  SELECT e.vec_id, p.t,
       |    cast(floor(list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
       |      i -> cast(e.embedding[i] as double) * p.r[i])), (acc, x) -> acc + x) / 1.0) as bigint) AS bucket
       |  FROM embeddings e, proj p),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM hashed q JOIN hashed c ON q.t = c.t AND q.bucket = c.bucket
       |  WHERE q.vec_id < 100),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    sqrt(${l2sqSql("qq.embedding", "cc.embedding")}) AS dist
       |  FROM cand JOIN embeddings qq ON qq.vec_id = cand.query_id
       |            JOIN embeddings cc ON cc.vec_id = cand.neighbor_id)""".stripMargin

  /** The write-once half of the deterministic-IVF replay (sampled
    * centroids, per-row sq norms, fold-L2 assignment) — shared by the
    * embedding-query chain (ivfDetCtes) and the cross-modal probe chain.
    * No leading WITH.
    */
  private def ivfIndexCtes: String = ivfIndexCtesFrom("embeddings")

  /** Same chain with the CENTROID SAMPLE drawn from `centSrc` (table or
    * prior CTE); assignment still covers the whole embeddings table — the
    * incremental-insert replay draws centroids from the OLD corpus only.
    */
  private def ivfIndexCtesFrom(centSrc: String): String =
    s"""cent AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY md5('ivf|' || cast(vec_id as varchar)), vec_id) - 1 AS cluster,
       |    embedding
       |  FROM (SELECT vec_id, embedding FROM $centSrc
       |        ORDER BY md5('ivf|' || cast(vec_id as varchar)), vec_id LIMIT 16)),
       |nrm AS MATERIALIZED (SELECT vec_id, embedding,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
       |      i -> cast(embedding[i] as double) * cast(embedding[i] as double))), (acc, x) -> acc + x) AS sq
       |  FROM embeddings),
       |asg AS MATERIALIZED (
       |  SELECT vec_id, embedding, sq, cluster FROM (
       |    SELECT e.vec_id, e.embedding, e.sq, c.cluster,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${l2sqSql("e.embedding", "c.embedding")}, c.cluster) AS rn
       |    FROM nrm e, cent c) WHERE rn = 1)""".stripMargin

  /** The query-side coarse probe (top-4 centroids per query by fold-L2,
    * ties to the lower cluster) over `cent`/`nrm` from ivfIndexCtes. No
    * leading WITH.
    */
  private def ivfProbeCte: String =
    s"""probe AS (
       |  SELECT query_id, qe, qsq, cluster FROM (
       |    SELECT e.vec_id AS query_id, e.embedding AS qe, e.sq AS qsq, c.cluster,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${l2sqSql("e.embedding", "c.embedding")}, c.cluster) AS rn
       |    FROM nrm e, cent c WHERE e.vec_id < 100) WHERE rn <= 4)""".stripMargin

  /** The deterministic-IVF replay chain (sampled centroids, fold-L2
    * assignment + probe, fold-cosine candidate scores) — shared by
    * ann_ivf_topk and ann_ivf_recall. No leading WITH.
    */
  private def ivfDetCtes: String = ivfDetCtesFrom("embeddings")

  private def ivfDetCtesFrom(centSrc: String): String =
    s"""${ivfIndexCtesFrom(centSrc)},
       |$ivfProbeCte,
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    CASE WHEN sqrt(p.qsq) * sqrt(a.sq) = 0 THEN 0.0 ELSE
       |      list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
       |        i -> cast(p.qe[i] as double) * cast(a.embedding[i] as double))), (acc, x) -> acc + x)
       |      / (sqrt(p.qsq) * sqrt(a.sq)) END AS score
       |  FROM probe p JOIN asg a ON p.cluster = a.cluster)""".stripMargin

  private def cosineSql(queryFilter: String, k: Int, select: String): String =
    s"""WITH nrm AS MATERIALIZED (SELECT vec_id, embedding,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
       |      i -> cast(embedding[i] as double) * cast(embedding[i] as double))), (a, b) -> a + b) AS sq
       |  FROM embeddings),
       |pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CASE WHEN sqrt(q.sq) * sqrt(c.sq) = 0 THEN 0.0 ELSE
       |      list_reduce(list_prepend(0.0, list_transform(range(1, ${D + 1}),
       |        i -> cast(q.embedding[i] as double) * cast(c.embedding[i] as double))), (a, b) -> a + b)
       |      / (sqrt(q.sq) * sqrt(c.sq)) END AS score
       |  FROM nrm q, nrm c WHERE $queryFilter)
       |""".stripMargin + select
}
