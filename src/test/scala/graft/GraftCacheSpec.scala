package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gates for GraftCache's lifecycle:
  *   1. memo/memoAny bodies evaluate exactly once under same-key
  *      concurrency — h_impact_compare's in-query Futures,
  *      Experiments.forked's pool threads and concurrent queries on one
  *      session run memo bodies side by side, and
  *      TrieMap.getOrElseUpdate alone double-evaluates on a lost race
  *      (leaking the loser's persist() mark, double-running side-effecting
  *      bodies);
  *   2. clear() releases the lazily-checkpointed rounds' cached blocks
  *      (stage() pins MEMORY_AND_DISK blocks that previously waited on
  *      GC + ContextCleaner);
  *   3. shared artifacts are built on demand by their first consumer, on
  *      that consumer's thread: once a query's action returns, no work it
  *      caused is still running.
  */
class GraftCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("memoAny evaluates a raced body exactly once") {
    val runs = new java.util.concurrent.atomic.AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            start.await()
            GraftCache.memoAny("spec/once-race") {
              runs.incrementAndGet(); 42
            }
          }
        })
      }
      start.countDown()
      assert(futs.map(_.get()).toSet == Set(42))
      assert(runs.get() == 1,
        s"memo body must run once JVM-wide, ran ${runs.get()} times")
    } finally {
      pool.shutdownNow()
      GraftCache.clear()
    }
  }

  test("memo does not evaluate a never-forced loser body at clear()") {
    // clear() must release computed frames WITHOUT forcing bodies that
    // never ran (a registered-but-unused memo would otherwise build its
    // frame during teardown)
    val runs = new java.util.concurrent.atomic.AtomicInteger(0)
    import spark.implicits._
    GraftCache.memo("spec/forced") { runs.incrementAndGet(); (1 to 3).toDF("x") }
    assert(runs.get() == 1)
    GraftCache.clear()
    assert(runs.get() == 1, "clear() must not re-evaluate memo bodies")
  }

  test("publishDir under a memo does not deadlock against a memo under publishDir") {
    // The r20 bench deadlock: one thread held ArtifactIO's (then
    // global) publishDir monitor and called into a memoized builder (a
    // GraftCache.Once monitor) while another thread held that Once and
    // called publishDir for a DIFFERENT target. publishDir's lock is now
    // per-target-path, so the two lock orders cannot cycle. This test
    // forces exactly that interleave and fails on a 30 s timeout rather
    // than hanging the suite.
    val tmp = java.nio.file.Files.createTempDirectory("graft_pubdir_spec").toFile
    val p1 = new java.io.File(tmp, "a1")
    val p2 = new java.io.File(tmp, "a2")
    val bHoldsOnce = new java.util.concurrent.CountDownLatch(1)
    val aHoldsPublish = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val a = pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String =
          ArtifactIO.publishDir(p1, _.isDirectory) { staging =>
            aHoldsPublish.countDown()
            bHoldsOnce.await() // B is now inside the shared Once
            // old order: ArtifactIO monitor -> Once
            GraftCache.memoAny("spec/pub-cycle") { "built" }
            new java.io.File(staging, "f").createNewFile(); ()
          }
      })
      val b = pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String =
          GraftCache.memoAny("spec/pub-cycle") {
            bHoldsOnce.countDown()
            aHoldsPublish.await() // A is now inside publishDir(p1)
            // old order: Once -> ArtifactIO monitor (cycle with thread A)
            ArtifactIO.publishDir(p2, _.isDirectory) { staging =>
              new java.io.File(staging, "f").createNewFile(); ()
            }
          }
      })
      assert(a.get(30, java.util.concurrent.TimeUnit.SECONDS) == p1.getAbsolutePath)
      assert(b.get(30, java.util.concurrent.TimeUnit.SECONDS) != null)
    } finally {
      pool.shutdownNow()
      GraftCache.clear()
      def rm(f: java.io.File): Unit = {
        val k = f.listFiles(); if (k != null) k.foreach(rm); f.delete()
      }
      rm(tmp)
    }
  }

  test("clear() unpersists staged (lazily-checkpointed) blocks") {
    import spark.implicits._
    val staged = GraftCache.stage((1 to 100).toDF("x").repartition(2))
    assert(staged.count() == 100L) // materialize the deferred checkpoint
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    assert(persistedBefore > 0, "a materialized stage() must hold cached blocks")
    GraftCache.clear()
    // the staged RDD's persistence registration must be gone without
    // waiting for GC/ContextCleaner
    assert(spark.sparkContext.getPersistentRDDs.size < persistedBefore,
      "clear() must explicitly unpersist the staged checkpoint RDDs")
  }

  test("no background work outlives a query") {
    val sc = spark.sparkContext
    val drainGroup = "graftcachespec-drain"
    val lateJobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    @volatile var returnedAt = Long.MaxValue
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val group = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (group == drainGroup) drained.countDown()
        else if (js.time > returnedAt)
          lateJobs.add(s"job ${js.jobId}: ${js.stageInfos.map(_.name).mkString("; ")}")
      }
    }
    sc.addSparkListener(listener)
    try {
      Seq("ann_brute_topk", "dedup_cross_neardup").foreach { name =>
        SparkEntry.queries(name)(spark, TestSpark.sf0001).count()
      }
      returnedAt = System.currentTimeMillis()
      val graftThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
        .filter(t => t.isAlive && t.getName.startsWith("graft-")).map(_.getName)
      assert(graftThreads.isEmpty,
        s"background threads outlived the queries: ${graftThreads.mkString(", ")}")
      // settle, then push a marker job through the listener bus: once its
      // start event arrives, every job submitted before it has been seen
      Thread.sleep(1500)
      sc.setJobGroup(drainGroup, "listener-bus drain marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not drain")
      assert(lateJobs.isEmpty,
        s"Spark jobs started after the queries returned: ${lateJobs.toArray.mkString(" | ")}")
    } finally {
      sc.removeSparkListener(listener)
      GraftCache.clear()
    }
  }
}
