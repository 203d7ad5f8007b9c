package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import graft.harmonize.Harmonize
import graft.sources.{EventsAdapter, OrdersAdapter, SourceAdapter,
  StagingTriplet}

/** `MemoRegistry.inParallel`, the one scheduler of the brick build's
  * independent jobs: results in input order, every thunk waited for
  * before a failure surfaces as its own exception, and
  * `spark.graft.staging.threads=1` giving back a schedule in which no
  * two of the build's top-level Spark executions overlap.
  */
class ParallelBuildSpec extends SparkSpec {

  private def withThreads[T](n: Int)(f: => T): T = {
    spark.conf.set(MemoRegistry.StageThreadsKey, n.toString)
    try f finally spark.conf.unset(MemoRegistry.StageThreadsKey)
  }

  private def withStore[T](prefix: String)(f: String => T): T = {
    val base = Files.createTempDirectory(prefix).toString
    spark.conf.set(ArtifactStore.DirKey, base)
    try {
      MemoRegistry.evictAll(spark)
      f(base)
    } finally {
      spark.conf.unset(ArtifactStore.DirKey)
      MemoRegistry.evictAll(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("inParallel overlaps thunks, keeps input order, 1 thread runs them in turn") {
    // three thunks that each wait for all three to have started: they
    // only all get through if they really run at once
    val started = new CountDownLatch(3)
    val overlapped = withThreads(3) {
      MemoRegistry.inParallel(spark)((0 until 3).map { i => () =>
        started.countDown()
        i -> started.await(30, TimeUnit.SECONDS)
      })
    }
    assert(overlapped == Seq(0 -> true, 1 -> true, 2 -> true))

    val inFlight = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val out = withThreads(1) {
      MemoRegistry.inParallel(spark)((0 until 5).map { i => () =>
        peak.accumulateAndGet(inFlight.incrementAndGet(), math.max)
        order.add(i)
        Thread.sleep(20)
        inFlight.decrementAndGet()
        i * 10
      })
    }
    assert(out == Seq(0, 10, 20, 30, 40))
    assert(peak.get == 1)
    assert(order.toArray.toSeq == Seq(0, 1, 2, 3, 4))
  }

  test("a failed staging part write surfaces its own exception, publishes " +
    "nothing and leaves no tmp dir once its siblings finish") {
    withStore("graft-parfail") { base =>
      // the failing write's own SparkException, not an ExecutionException
      val e = withThreads(4) {
        intercept[org.apache.spark.SparkException] {
          SourceAdapter.cachedStaging(
            ParallelBuildSpec.FailingAdapter, spark, sf())
        }
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(String.valueOf(_)).mkString(" <- ")
      assert(chain.contains(ParallelBuildSpec.Boom), chain)
      // the slow sibling writes were still running when the failing one
      // died: the failure may only surface once they have finished, or
      // ensure's cleanup deletes the tmp dir under them
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      val running = spark.sparkContext.statusTracker.getActiveJobIds()
      assert(running.isEmpty,
        s"failure surfaced while sibling jobs ${running.toSeq} still ran")
      val left = Option(new java.io.File(base).list()).toSeq.flatten
      assert(!left.exists(_.startsWith("staging-")), left)
      assert(!left.exists(_.contains(".tmp-")), left)
    }
  }

  test("staging.threads=1: no two top-level executions of a cold build overlap") {
    val runs = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    val roots = scala.collection.mutable.Set.empty[Long]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          ev: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        runs.synchronized {
          ev match {
            case s: SparkListenerSQLExecutionStart =>
              if (s.rootExecutionId.forall(_ == s.executionId))
                roots += s.executionId
              runs(s.executionId) = (s.time, Long.MaxValue)
            case end: SparkListenerSQLExecutionEnd =>
              runs.get(end.executionId).foreach { case (t0, _) =>
                runs(end.executionId) = (t0, end.time)
              }
            case _ =>
          }
        }
    }
    withStore("graft-parseq") { _ =>
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      spark.sparkContext.addSparkListener(listener)
      try withThreads(1) {
        val b = Harmonize.cachedBrick(spark, sf(),
          Seq(EventsAdapter, OrdersAdapter))
        assert(b.activities.count() > 0)
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val spans = runs.synchronized {
      roots.toSeq.flatMap(runs.get).sortBy(_._1)
    }
    // stagings, part writes, union checkpoints and table writes
    assert(spans.size >= 10, spans)
    spans.sliding(2).foreach {
      case Seq((_, end), (start, _)) =>
        assert(end <= start, s"executions overlap: $spans")
      case _ =>
    }
  }
}

object ParallelBuildSpec {
  val Boom = "substances write failed on purpose"

  /** A substances part whose task fails at once, and slow properties
    * and activities parts.
    */
  object FailingAdapter extends SourceAdapter {
    val name = "parallel-fail-probe"

    private def slow(s: SparkSession, key: String,
        other: String): DataFrame = {
      val pause = udf { (i: Long) => Thread.sleep(3000); i }
      s.range(0, 2, 1, 2).select(pause(col("id")).cast("string").as(key),
        lit("{}").as(other))
    }

    def staging(s: SparkSession, d: String): StagingTriplet = {
      val boom = udf { (i: Long) =>
        if (i >= 0) throw new IllegalStateException(Boom); i.toString }
      StagingTriplet(
        s.range(0, 1, 1, 1).select(boom(col("id")).as("sid"),
          lit("{}").as("data")),
        slow(s, "pid", "data"),
        slow(s, "aid", "sid"))
    }
  }
}
