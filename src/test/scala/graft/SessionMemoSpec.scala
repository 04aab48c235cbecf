package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.engine.{SessionMemo, Tables}
import graft.ext.{Dedup, GraphOps, TimeSeries}

/** The cross-query memo's three promises: clearing it frees the
  * checkpoint blocks its entries hold, concurrent first calls on one key
  * share a single build, and a build nested in another build (STL over
  * the daily series) returns what the un-memoized builder returns.
  */
class SessionMemoSpec extends SparkTestBase
    with org.scalatest.BeforeAndAfterAll {

  override def afterAll(): Unit = {
    try SessionMemo.clear()
    finally super.afterAll()
  }

  private def checkpointRddId(df: DataFrame): Int =
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.id
      case other => fail(s"expected a checkpoint root, got ${other.nodeName}")
    }

  private def storedRddIds: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("clearSessionMemos frees the blocks of checkpointed entries") {
    Dedup.clearSessionMemos()
    val ids = Set(
      checkpointRddId(GraphOps.sharedEdges(spark, sfDir)),
      checkpointRddId(GraphOps.sharedNodes(spark, sfDir)),
      checkpointRddId(TimeSeries.sharedStlResidual(spark, sfDir)),
      checkpointRddId(TimeSeries.sharedDailyRevenue(spark, sfDir)))
    // block reports reach the storage info through the listener bus
    eventually(timeout(30.seconds), interval(100.millis)) {
      assert(ids.subsetOf(storedRddIds))
    }
    Dedup.clearSessionMemos()
    assert((storedRddIds intersect ids).isEmpty)
    assert((spark.sparkContext.getPersistentRDDs.keySet intersect ids).isEmpty)
  }

  test("8 concurrent first calls on one key build once and share the result") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map { _ =>
        pool.submit(new Callable[DataFrame] {
          def call(): DataFrame = {
            start.await()
            SessionMemo("spec_concurrent", spark, sfDir) {
              builds.incrementAndGet()
              Thread.sleep(200) // keep the other callers waiting on the build
              spark.range(1000).selectExpr("id % 7 AS k").distinct()
                .localCheckpoint()
            }
          }
        })
      }
      start.countDown()
      val got = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(got.forall(_ eq got.head))
      assert(got.head.count() == 7)
    } finally {
      pool.shutdown()
      Dedup.clearSessionMemos()
    }
  }

  test("STL built over the daily memo from empty memos equals the un-memoized STL") {
    Dedup.clearSessionMemos()
    val memo = TimeSeries.sharedStlResidual(spark, sfDir).orderBy("day")
    assert(SessionMemo.snapshot().map(_.group).toSet == Set("stl", "timeseries"))
    val direct = TimeSeries.stlDecompose(Tables.load(spark, sfDir, "orders"))
    assert(memo.columns.toSeq == direct.columns.toSeq)
    val rows = memo.collect().toSeq
    assert(rows.nonEmpty)
    assert(rows == direct.collect().toSeq)
  }

  test("memo_groups names the key that paid each build and the keys that reused it") {
    def st(entry: String, buildS: Double, hits: Long) =
      SessionMemo.Stat("g", entry, buildS, hits)
    val json = Bench.memoGroupsJson(Seq(
      "q_other" -> Seq.empty,
      "q_first" -> Seq(st("d/pairs", 1.0, 0)),
      "q_second" -> Seq(st("d/pairs", 1.0, 1), st("d/labels", 2.0, 0)),
      "q_third" -> Seq(st("d/pairs", 1.0, 1), st("d/labels", 2.0, 1))))
    assert(json ==
      """{"g":{"members":["q_first","q_second","q_third"],""" +
        """"paid_by":["q_first","q_second"],"build_s":3.000,"hits":2}}""")
  }
}
