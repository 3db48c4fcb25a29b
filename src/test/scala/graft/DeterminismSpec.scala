package graft

import graft.attacks.Attacks
import graft.graph.KnnGraph
import graft.watermark.{Tvp, WmKey}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The engine's central design claim (DESIGN.md §1): every operator is a pure
  * function of its input CONTENT — repartitioning must not change a single
  * bit. These tests run the same operator over differently-partitioned
  * copies of the input and require identical results.
  */
class DeterminismSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val emb   = Tables.embeddings(spark, TestSpark.sf0001).cache()
  val key        = WmKey(seed = "20")

  private def collectSorted(df: DataFrame): Array[String] =
    df.orderBy("vec_id").collect().map(_.toString)

  private def variants: Seq[DataFrame] =
    Seq(emb.repartition(3), emb.repartition(13), emb.coalesce(1))

  test("classify is partition-invariant") {
    val ref = collectSorted(Tvp.classify(emb, 64, 5, key))
    variants.foreach { v =>
      assert(collectSorted(Tvp.classify(v, 64, 5, key)).sameElements(ref))
    }
  }

  test("random deletion selects identical rows under any partitioning") {
    val ref = collectSorted(Attacks.randomDelete(emb, 0.3, "42").select("vec_id"))
    variants.foreach { v =>
      assert(collectSorted(Attacks.randomDelete(v, 0.3, "42").select("vec_id")).sameElements(ref))
    }
  }

  test("RS embedding produces bit-identical vectors under any partitioning") {
    val ref = collectSorted(Tvp.embedRs(emb, "10101", 0.6, 64, key))
    variants.foreach { v =>
      assert(collectSorted(Tvp.embedRs(v, "10101", 0.6, 64, key)).sameElements(ref))
    }
  }

  test("accessibility index is bit-identical under any partitioning") {
    def aiOf(df: DataFrame) =
      KnnGraph.accessibility(df, KnnGraph.edges(df, 4))
    val ref = collectSorted(aiOf(emb))
    variants.foreach { v => assert(collectSorted(aiOf(v)).sameElements(ref)) }
  }

  test("SCPW embedding (bounded keyed pool) is bit-identical under any partitioning") {
    import graft.watermark.{Scpw, ScpwKey}
    val sk  = ScpwKey(topK = 20, position = 30, stdE = 0.05, seed = "20")
    val ref = collectSorted(Scpw.embed(emb, "10101", 0.6, sk))
    variants.foreach { v =>
      assert(collectSorted(Scpw.embed(v, "10101", 0.6, sk)).sameElements(ref))
    }
  }

  test("prefix-filtered jaccard join is partition-invariant") {
    val docs = Tables.documents(spark, TestSpark.sf0001).cache()
    def run(df: DataFrame) = graft.text.Dedup.jaccardPairs(df, 0.4)
      .orderBy("a", "b").collect().map(_.toString)
    val ref = run(docs)
    Seq(docs.repartition(3), docs.repartition(13), docs.coalesce(1)).foreach { v =>
      assert(run(v).sameElements(ref))
    }
  }

  test("insertion attack synthesizes identical rows under any partitioning") {
    val ref = collectSorted(Attacks.insert(emb.select("vec_id", "embedding"), 0.2, 64, "42"))
    variants.foreach { v =>
      assert(collectSorted(Attacks.insert(v.select("vec_id", "embedding"), 0.2, 64, "42")).sameElements(ref))
    }
  }
  test("native fold expressions: bit-identical to the HOF forms and the array kernels") {
    import spark.implicits._
    import graft.functions.VectorOps
    // the native FoldL2/FoldDot expressions replaced the interpreted
    // higher-order-function forms in every scoring join; the contract is
    // BIT equality — same fold order, same double ops — against both the
    // HOF twins (evaluated in the same plan) and the mapPartitions array
    // kernels (evaluated driver-side)
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((
      Array.fill(64)((rnd.nextFloat() - 0.5f) * 100f),
      Array.fill(64)((rnd.nextFloat() - 0.5f) * 100f)))
    val df = rows.toDF("a", "b")
    val got = df.select(
      VectorOps.l2Col($"a", $"b").as("l2n"),
      VectorOps.l2ColHof($"a", $"b").as("l2h"),
      VectorOps.dotCol($"a", $"b").as("dn"),
      VectorOps.dotColHof($"a", $"b").as("dh")).collect()
    // the array fold kernel: VectorOps.l2 (IVF assignment, Knn's "fold"
    // kernel and GraphAnn's fused traversal all call VectorOps.sqDist) must
    // equal the native SQL fold bit for bit
    got.zip(rows).foreach { case (r, (a, b)) =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), "l2 native != HOF")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(VectorOps.l2(a, b)), "l2 native != fold kernel")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)), "dot native != HOF")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(VectorOps.dot(a, b)), "dot native != kernel")
    }
    // a non-float array input must fail at ANALYSIS, never read garbage
    val dd = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      dd.select(VectorOps.l2Col($"a", $"b")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("array<float>"))
  }

}
