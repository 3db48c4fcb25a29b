package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Local-iteration aid, mirroring Bench's SPARK_GRAFT_BENCH_ONLY: dump
    // just the named queries. The driver sets no filter and dumps all.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // a query that throws is reported and the run exits non-zero after the
    // dump — a missing result dir must never be the only trace of a failure
    val failed = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          Some(name)
        }
      }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // release every memoized/tracked frame: a Verify run must not leave
    // orphaned persisted RDDs behind (cache hygiene gate, VERDICT r6 §5).
    // The assertion makes the gate self-checking: any future `.persist()`
    // that bypasses GraftCache memo/track fails Verify loudly.
    GraftCache.clear()
    // localCheckpoint frames persist RDDs GraftCache never sees; those are
    // freed by the ContextCleaner once the RDD objects are unreachable (all
    // query-local, so unreachable by now). Give GC + the async cleaner a
    // bounded settle window, then require an empty registry: a leak through
    // a bare `.persist()` held by a memo would survive this loop and fail.
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (spark.sparkContext.getPersistentRDDs.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(500)
    }
    val orphans = spark.sparkContext.getPersistentRDDs
    assert(orphans.isEmpty,
      s"${orphans.size} orphaned persisted RDDs after GraftCache.clear(): " +
        orphans.map { case (id, r) =>
          s"[$id ${r.getStorageLevel.description} @ ${r.toString.take(120)}]"
        }.mkString(" "))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in hand-written oracle SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
