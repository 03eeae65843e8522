package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Specs for the measurement harness: the measured run Bench, Probe
  * and TailScale share, Bench's per-query record and groups, and
  * TailScale's query → table → generator map. */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("Probe.Meter: the census counts exactly the run's jobs, even behind a slow listener") {
    val sc = spark.sparkContext
    // registered first, so every job event reaches the census only
    // after this listener's pause: the run's eight events queue up
    // ~1.6 s behind it, which a fixed wait shorter than the backlog
    // would undercount and a drained bus cannot
    val slow = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = Thread.sleep(200)
      override def onJobEnd(j: SparkListenerJobEnd): Unit = Thread.sleep(200)
    }
    sc.addSparkListener(slow)
    val m = new Probe.Meter(spark)
    try {
      (1 to 2).foreach { round =>
        val r = m.run {
          (1 to 3).foreach { i =>
            sc.setJobDescription(s"census-$round-$i")
            sc.parallelize(1 to 10, 2).count()
          }
          sc.setJobDescription(null)
          spark.range(0, 3, 1, 1).toDF() // its noop write is one job
        }
        assert(r.jobs.size == 4, r.jobs.map(_.label))
        assert(r.jobs.map(_.stages).sum == 4)
        assert(r.jobs.take(3).map(_.label.takeWhile(_ != ' ')) ==
          (1 to 3).map(i => s"[census-$round-$i]"))
        assert(r.jobs.forall(_.endNs >= 0), "a job's end event was not seen")
      }
    } finally {
      m.close()
      sc.removeSparkListener(slow)
    }
  }

  test("Probe.Meter: a run that throws still releases its caches") {
    val m = new Probe.Meter(spark)
    try {
      val cached = spark.range(0, 100, 1, 2).toDF("x").persist()
      val e = intercept[IllegalStateException](m.run {
        cached.count()
        throw new IllegalStateException("build failed")
      })
      assert(e.getMessage == "build failed")
      assert(cached.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
        "the failed run left its frame cached")
    } finally m.close()
  }

  test("Bench.measure: cold, warm median, the median run's jobs, no warm compiles") {
    val m = new Probe.Meter(spark)
    val r = try Bench.measure(m, "q1_agg", "/root/testdata/sf0.001") finally m.close()
    assert(r.cold >= 0, r)
    assert(r.ok && r.best >= 0 && r.best <= r.median, r)
    assert(r.jobs > 0 && r.stages >= r.jobs, r)
    assert(r.compilesCold >= 0, r)
    assert(r.compilesWarm == 0L, s"an unchanged plan recompiled when warm: $r")
  }

  test("Bench.groups: every battery query once, sorted, in chunks of at most 8") {
    val names = SparkEntry.queries.keys.toSeq
    val gs = Bench.groups(names)
    assert(gs.forall(g => g.nonEmpty && g.size <= 8), gs.map(_.size))
    assert(gs.flatten == names.sorted)
  }

  test("TailScale map: every query is a battery entry, every table has a generator") {
    val queries = SparkEntry.queries.keySet
    assert(TailScale.scaledTable.nonEmpty)
    TailScale.scaledTable.foreach { case (q, t) =>
      assert(queries.contains(q), s"$q is not a SparkEntry.queries key")
      assert(Tables.names.contains(t), s"$q scales unknown table $t")
      assert(TailScale.generators.contains(t), s"no generator for $t ($q)")
    }
  }
}
