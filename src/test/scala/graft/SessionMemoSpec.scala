package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import org.apache.spark.sql.DataFrame

/** The session-memo registry's two contracts: a lost publish race
  * frees the losing build, and one clear frees every checkpoint the
  * memo families created while scalar entries survive it.
  */
class SessionMemoSpec extends SparkSpecBase {

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("race: two completed builds of one key publish one entry, free the loser, return the winner") {
    val kind = s"spec-race-${System.nanoTime()}"
    val bothBuilt = new CountDownLatch(2)
    val before = persistentIds
    def build(): DataFrame = {
      val df = spark.range(0, 1000).toDF("id").localCheckpoint(true)
      bothBuilt.countDown()
      // neither build publishes until both have materialized
      assert(bothBuilt.await(2, TimeUnit.MINUTES), "the second build never finished")
      df
    }
    val calls = Seq.fill(2)(Future(SessionMemo.frame(kind, spark, "k")(build())))
    val got = calls.map(Await.result(_, 3.minutes))
    assert(got(0) eq got(1), "both callers must get the published winner")
    assert(SessionMemo.keys(kind) == Seq("k"), "exactly one entry is published")
    val live = persistentIds -- before
    assert(live.size == 1, s"the losing build's checkpoint RDD must be freed; new persistent RDDs: $live")
    assert(got(0).count() == 1000L, "the winner stays readable")
    SessionMemo.clear()
    assert(SessionMemo.keys(kind).isEmpty)
    assert((persistentIds -- before).isEmpty, "clear must free the winner's checkpoint")
  }

  test("sweep: clearSessionMemos frees every checkpoint the memo families created") {
    Queries.clearSessionMemos()
    val before = persistentIds
    Queries.simhashPairs(spark, sfDir)
    Queries.simhashClusters(spark, sfDir)
    Queries.slicedDocs(spark, sfDir)
    Queries.simhashPairsSliced(spark, sfDir)
    Queries.simhashClustersSliced(spark, sfDir)
    Queries.graphEdges(spark, sfDir)
    Queries.lpaState(spark, sfDir)
    Queries.spanIslandState(spark, sfDir)
    Queries.bigramLmState(spark, sfDir)
    Queries.bm25State(spark, sfDir)
    Queries.bpeRounds(spark, sfDir, rounds = 10)
    val families = Seq("pairs", "cc", "slice", "sym", "deg", "lpa", "span", "lm", "bm25", "bpe")
    assert(families.forall(SessionMemo.keys(_).nonEmpty),
      s"unpublished families: ${families.filter(SessionMemo.keys(_).isEmpty)}")
    val created = persistentIds -- before
    assert(created.nonEmpty)
    Queries.clearSessionMemos()
    val left = persistentIds intersect created
    assert(left.isEmpty, s"checkpoint RDDs left after the sweep: $left")
    assert(families.forall(SessionMemo.keys(_).isEmpty))
    // the sliced family sized itself with a memoized row count: scalars stay
    assert(SessionMemo.keys("count.table").contains((sfDir, "documents")))
  }
}
