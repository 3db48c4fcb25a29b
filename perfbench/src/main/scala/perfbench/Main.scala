package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.Random

/** One op: `run` is timed, `check` runs after the clock stops and throws
  * CheckFailed when the output is wrong.
  */
final case class Op(run: () => Any, check: Any => Unit = _ => ())

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(cond: Boolean, msg: => String): Unit = if (!cond) throw new CheckFailed(msg)
}

/** What every workload gets: the session, the tracer, its seeded RNG, a
  * private work directory, and whether to plant a wrong output on purpose
  * (the self-test that proves the checks fire).
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val rng: Random,
                val work: java.io.File, val fault: Boolean, val cpus: Int) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  def path(name: String): String = new java.io.File(work, name).getAbsolutePath

  /** Materialise a frame the benchmark itself holds (inputs, indexes,
    * watermarked copies), remembering its RDD so the residue count after
    * the final clear sees only what the engine left behind.
    */
  def keep(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    ck.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => kept += l.rdd.id
      case _ => ()
    }
    ck
  }
  val kept: collection.mutable.Set[Int] = collection.mutable.Set.empty
  var opsStarted = 0L
}

trait Workload {
  /** Op kinds of one round; a round runs each entry once. */
  def kinds: Seq[String]
  /** Start a round: its op order, drawn from the seeded RNG. */
  def round(rng: Random): Seq[String] = rng.shuffle(kinds)
  /** Build what the ops need, replacing any earlier set-up. */
  def setup(): Unit
  /** Prepare one op (untimed: input generation and attacker copies). */
  def op(kind: String): Op
  /** Workload numbers for the artifact and the per-layer report. */
  def report(): Map[String, Double]
  /** Work after the timed window that still counts toward correctness
    * (a workload with registry queries writes their oracle SQL for the
    * comparison).
    */
  def finish(): Unit = ()
}

final case class OpRec(id: Long, kind: String, startMs: Long, endMs: Long,
                       seconds: Double, error: Option[String], traced: Boolean)

/** `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <out json> [fault]`
  *
  * Sets up the workload several times (set-up time is the median), runs
  * one untimed warm-up round, then runs the closed loop for `seconds` (at
  * least one round), tracing off. A traced run also traces set-up, and
  * after the warm-up alternates traced and untraced rounds for twice the
  * window. Writes one JSON artifact.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, out) = args.take(6)
    val seed    = seedS.toLong
    val seconds = secondsS.toDouble
    val trace   = traceS == "1"
    val fault   = args.length > 6 && args(6) == "fault"
    val work    = new java.io.File(workS)
    work.mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    try {
      log("session up")
      val host = hostContext(spark, cpus)
      val tracer = new Tracer(sc)
      val ctx = new Ctx(spark, tracer, new Random(seed), work, fault, cpus)
      val w: Workload = workload match {
        case "wm_audit"       => new WmAudit(ctx)
        case "ann_serve"      => new AnnServe(ctx)
        case "ingest_verify"  => new IngestVerify(ctx)
        case "registry_paper" => new RegistryPaper(ctx, seed)
        case other            => throw new IllegalArgumentException(s"unknown workload $other")
      }
      log("inputs made")
      val listener = new JobListener
      def listen(on: Boolean): Unit =
        if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)

      // set-up, traced in a traced run (graph and index builds are set-up work)
      listen(trace); tracer.on = trace
      val setupS = (1 to SetupReps).map { i =>
        log(s"setup $i")
        val t0 = System.nanoTime()
        w.setup()
        (System.nanoTime() - t0) / 1e9
      }
      tracer.on = false
      if (trace) { org.apache.spark.PerfbenchBus.drain(sc); listen(on = false) }
      val opRng = new Random(seed * 7919L + 17L)
      var storagePeakMb = 0.0
      // One untraced warm-up round first: first calls pay JIT compilation
      // and build the engine's persisted artifacts, and are not measured
      // (their ops are still checked). A traced run then alternates traced
      // and untraced rounds over twice the window, starting traced; its
      // untraced rounds are the baseline of the tracing overhead.
      val warm = loop(ctx, w, opRng, 0.0, 1, _ => (), () => ())
      log("warm-up done")
      val ops = warm ++ loop(ctx, w, opRng, if (trace) 2 * seconds else seconds,
        minRounds = if (trace) 2 else 1,
        onRound = r => if (trace) {
          val on = r % 2 == 0
          if (on != tracer.on) {
            if (!on) org.apache.spark.PerfbenchBus.drain(sc)
            listen(on); tracer.on = on
          }
        },
        onOpEnd = () => if (tracer.on)
          storagePeakMb = math.max(storagePeakMb, sc.getRDDStorageInfo
            .map(i => (i.memSize + i.diskSize) / 1e6).sum))
      if (tracer.on) { org.apache.spark.PerfbenchBus.drain(sc); listen(on = false); tracer.on = false }
      val plain = ops.drop(warm.size).filterNot(_.traced)
      val traced = ops.filter(_.traced)
      log("window done")
      val finishErr = try { w.finish(); None } catch { case e: Throwable => Some(describe(e)) }
      val report = w.report()
      graft.GraftCache.clear()
      spark.catalog.clearCache()
      val residue = residueCounts(spark, ctx.kept)

      val failures = ops.filter(_.error.isDefined).map(o =>
        Map("op" -> o.id, "kind" -> o.kind, "error" -> o.error.get)) ++
        finishErr.map(e => Map("op" -> -1L, "kind" -> "finish", "error" -> e))
      val placed = if (trace) Attribution.place(listener.snapshot, tracer.all, ops) else Nil
      val perLayer =
        if (trace) Layers.report(tracer, placed, traced, plain, report, residue,
          storagePeakMb, cpus)
        else Map.empty[String, Double]
      if (trace) writeSpans(tracer, placed, new java.io.File(work, "spans.json"))
      val doc = Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "host" -> host,
        "attempted" -> (ops.size + (if (finishErr.isDefined) 1 else 0)),
        "failed" -> failures.size,
        "failures" -> failures,
        "end_to_end" -> endToEnd(plain, setupS),
        "per_layer" -> perLayer,
        "per_kind" -> perKind(plain),
        "workload_report" -> report,
        "residue" -> residue,
        "setup_samples_s" -> setupS)
      java.nio.file.Files.write(java.nio.file.Paths.get(out), Json.render(doc).getBytes("UTF-8"))
      log("artifact written")
    } finally spark.stop()
  }

  /** The closed loop: one client, next op only after the previous one ends.
    * Rounds run whole, so every window holds the same mix of op kinds, and
    * at least `minRounds` of them.
    */
  private def loop(ctx: Ctx, w: Workload, rng: Random, seconds: Double, minRounds: Int,
                   onRound: Int => Unit, onOpEnd: () => Unit): Seq[OpRec] = {
    val sc = ctx.spark.sparkContext
    val recs = Seq.newBuilder[OpRec]
    var id = ctx.opsStarted
    var rounds = 0
    var round = List.empty[String]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || round.nonEmpty || rounds < minRounds) {
      if (round.isEmpty) {
        onRound(rounds); rounds += 1
        round = w.round(rng).toList
      }
      val kind = round.head
      round = round.tail
      id += 1
      log(s"op $id $kind")
      ctx.tracer.op = id
      var startMs = System.currentTimeMillis()
      var secs = 0.0
      val (op, result, runErr) =
        try {
          val op = w.op(kind)
          sc.setJobGroup(s"op-$id", kind, interruptOnCancel = false)
          startMs = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val r = op.run()
          secs = (System.nanoTime() - t0) / 1e9
          (op, r, None)
        } catch { case e: Throwable => (null, null, Some(describe(e))) }
      val endMs = System.currentTimeMillis()
      sc.clearJobGroup()
      val err = runErr.orElse(
        try { op.check(result); None } catch { case e: Throwable => Some(describe(e)) })
      recs += OpRec(id, kind, startMs, endMs, secs, err, ctx.tracer.on)
      ctx.opsStarted = id
      onOpEnd()
      ctx.tracer.op = -1L
    }
    recs.result()
  }

  private val t0Ms = System.currentTimeMillis()
  /** Progress in the run's log, with seconds since start: where a slow or
    * hung run spent its time.
    */
  def log(msg: String): Unit =
    println(f"[perfbench] ${(System.currentTimeMillis() - t0Ms) / 1e3}%.1f s: $msg")

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** `op_p50_s`: median latency per op kind, geometric mean over kinds (a
    * per-kind median does not shift with the mix of kinds). `ops_per_s`:
    * the window's completed ops over the summed time of its ops, so a slow
    * op or a stall counts in full. Client-side input preparation and output
    * checks are not op time.
    */
  private def endToEnd(plain: Seq[OpRec], setupS: Seq[Double]): Map[String, Double] = {
    val byKind = plain.filter(_.error.isEmpty).groupBy(_.kind).values
      .map(rs => (rs.size, Stats.median(rs.map(_.seconds)))).toSeq
    val n = byKind.map(_._1).sum
    Map(
      "setup_s"     -> Stats.median(setupS),
      "ops_per_s"   -> (if (n == 0) Double.NaN else n / plain.map(_.seconds).sum),
      "op_p50_s"    -> (if (n == 0) Double.NaN else Stats.geomean(byKind.map(_._2))),
      "failed_frac" -> (if (plain.isEmpty) 1.0 else (plain.size - n).toDouble / plain.size))
  }

  private def perKind(plain: Seq[OpRec]): Map[String, Any] =
    plain.groupBy(_.kind).map { case (k, rs) =>
      val xs = rs.filter(_.error.isEmpty).map(_.seconds)
      k -> Map(
        "n" -> xs.size,
        "failed" -> (rs.size - xs.size),
        "p50_s" -> (if (xs.isEmpty) Double.NaN else Stats.median(xs)),
        "tail" -> Stats.tail(xs).map { case (p, v) => Map("pct" -> p, "s" -> v) },
        "samples_s" -> xs)
    }

  /** Recorded for diagnosing a noisy host only; no metric is rescaled by it. */
  private def hostContext(spark: SparkSession, cpus: Int): Map[String, Any] = {
    spark.range(2000000L).selectExpr("sum(id)").collect() // JIT warm-up
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(cpus * 50000000L).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    Map(
      "nproc" -> cpus,
      "master" -> spark.sparkContext.master,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "calib_s" -> math.min(once(), once()),
      "calib_work" -> s"sum over ${cpus * 50000000L} longs")
  }

  /** What a clear leaves behind: persisted RDDs, running streams, live
    * `graft-*` warm threads and this JVM's `graft_*` shared-memory dirs.
    */
  private def residueCounts(spark: SparkSession, kept: collection.Set[Int]): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val pid = ProcessHandle.current().pid()
    val shm = Option(new java.io.File("/dev/shm").listFiles()).getOrElse(Array.empty[java.io.File])
    Map(
      "persisted_rdds" -> spark.sparkContext.getPersistentRDDs.keys.count(id => !kept(id)).toDouble,
      "active_streams" -> spark.streams.active.length.toDouble,
      "warm_threads" -> Thread.getAllStackTraces.keySet.asScala
        .count(t => t.isAlive && t.getName.startsWith("graft-")).toDouble,
      "shm_dirs" -> shm.count(f => f.getName.startsWith("graft_") &&
        f.getName.contains(s"_${pid}_")).toDouble)
  }

  private def writeSpans(tracer: Tracer, placed: Seq[Placed], f: java.io.File): Unit = {
    val self = tracer.selfSeconds
    val jobsBySpan = placed.groupBy(_.span).map { case (s, js) => s -> js.size }
    val rows = tracer.all.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "seconds" -> s.seconds,
      "self_s" -> self(s.id), "jobs_direct" -> jobsBySpan.getOrElse(s.id, 0)))
    java.nio.file.Files.write(f.toPath, Json.render(rows).getBytes("UTF-8"))
  }
}
