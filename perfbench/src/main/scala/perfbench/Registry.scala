package perfbench

import graft.SparkEntry
import org.apache.spark.sql.Row
import scala.util.Random

/** Registry queries through `SparkEntry.queries`, the way the project's own
  * bench drives them, over a seeded 2000 × 64 collection (the registry
  * fixes D = 64). The registry is the one layer with a shared-artifact memo
  * (`GraftCache`) and background warm builds. A registry op runs one query
  * to a full result. Its op kind is the query name behind `Registry.Prefix`.
  * The first result of each query is written out, untimed, with its oracle
  * SQL; after the run the DuckDB comparison checks each against its oracle.
  */
final class Registry(ctx: Ctx, seed: Long, val queries: Seq[String]) {
  import Registry._
  private val spark = ctx.spark
  private val dir = ctx.path("registry-data")
  private val dump = new java.io.File(ctx.work, "registry-dump")
  private val dumped = collection.mutable.Set.empty[String]
  private val rows = {
    val rng = new Random(seed)
    val cs = Data.centres(rng, Clusters, D)
    Data.clustered(rng, cs, N).map { case (id, v) => (id, v, (id % Clusters).toInt) }
  }

  def kinds: Seq[String] = queries.map(Prefix + _)

  /** Write the collection the registry reads and open it once. */
  def setup(): Unit = {
    import spark.implicits._
    rows.toSeq.toDF("vec_id", "embedding", "label").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    graft.Tables.embeddings(spark, dir).count()
  }

  /** The memo and Spark's cache cleared, so the next queries start cold. */
  def clear(): Unit = {
    graft.GraftCache.clear()
    spark.catalog.clearCache()
  }

  def op(kind: String): Op = {
    val name = kind.stripPrefix(Prefix)
    var schema: org.apache.spark.sql.types.StructType = null
    Op(() => ctx.span("registry.query") {
      val df = SparkEntry.queries(name)(spark, dir)
      schema = df.schema
      df.collect()
    }, out => {
      val rows = out.asInstanceOf[Array[Row]]
      if (dumped.add(name)) {
        import scala.jdk.CollectionConverters._
        // self-test: drop one row, which the oracle comparison must catch
        val kept = if (ctx.fault && name == queries.head) rows.drop(1) else rows
        spark.createDataFrame(kept.toList.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(new java.io.File(dump, name).getAbsolutePath)
      }
    })
  }

  /** The oracle SQL of every query run, beside the dumped results. */
  def writeOracle(): Unit = {
    val oracle = queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    Check(oracle.keySet == queries.toSet,
      s"no oracle SQL for ${queries.filterNot(oracle.contains).mkString(", ")}")
    java.nio.file.Files.write(new java.io.File(dump, "oracle_sql.json").toPath,
      Json.render(oracle).getBytes("UTF-8"))
  }
}

object Registry {
  val Prefix = "reg_"
  val N = 2000
  val D = 64
  val Clusters = 16
}

/** One pass over paper-family registry queries per round, with the memo
  * and Spark's cache cleared between passes. Not in BENCHMARK.json: see
  * perfbench/README.md, "Known failures". The registry layer of the
  * benchmark is measured on `ann_serve`.
  */
final class RegistryPaper(ctx: Ctx, seed: Long) extends Workload {
  private val registry = new Registry(ctx, seed, RegistryPaper.Queries)
  val kinds: Seq[String] = registry.kinds
  def setup(): Unit = { registry.clear(); registry.setup() }
  override def round(rng: Random): Seq[String] = { registry.clear(); super.round(rng) }
  def op(kind: String): Op = registry.op(kind)
  override def finish(): Unit = registry.writeOracle()
  def report(): Map[String, Double] = Map.empty
}

object RegistryPaper {
  /** One or more queries from each paper family (watermark round trips,
    * attacks, SCPW, TabularMark, kNN, embedding compression, distortion,
    * a robustness grid, the impact pair and graph ANN), small enough that a
    * pass fits a run. The registry holds 55 such queries; a full pass takes
    * about 80 s on a 4-core host, too long for one run.
    */
  val Queries: Seq[String] = Seq(
    "wm_group_sizes", "wm_rs_roundtrip", "wm_tvp_roundtrip", "wm_extract_after_delete",
    "attack_random_delete", "attack_adaptive_modify", "scpw_roundtrip", "tm_detect",
    "knn_topk_sample", "embed_pq", "mean_distortion", "h_rs_delete_grid",
    "h_impact_compare", "ann_graph_topk")
}
