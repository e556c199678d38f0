package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import scala.collection.concurrent.TrieMap

/** Per-stage wall/task-time/shuffle profile of one query run — the
  * instrument for pinning WHICH stage moves when a query's end-to-end
  * time varies run-to-run (round-13 item 5: q_knn_hubs read 162 s
  * in-sweep vs 430 s isolated at sf10 with the plan unchanged; the
  * stage ledger says whether the spread lives in the candidate join,
  * the top-k, or the scan).
  *
  * Usage: `runMain graft.StageProfile <query> [sfDir]` — runs the
  * query once (noop sink, same materialization as Bench) and prints
  * one JSON line per completed stage plus a total line, ordered by
  * stage wall time.
  */
object StageProfile {
  private final case class StageAgg(
      var tasks: Int = 0, var taskMs: Long = 0L, var gcMs: Long = 0L,
      var shufReadB: Long = 0L, var shufWriteB: Long = 0L,
      var spillB: Long = 0L, var inRecords: Long = 0L,
      var wallMs: Long = 0L, var name: String = "", var parts: Int = 0)

  def main(args: Array[String]): Unit = {
    val query = args.headOption.getOrElse("q_knn_hubs")
    val sfDir = args.find(_.startsWith("/")).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession.local("graft-stage-profile")
    spark.sparkContext.setLogLevel("WARN")
    val stages = TrieMap.empty[Int, StageAgg]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val a = stages.getOrElseUpdate(t.stageId, StageAgg())
        val m = t.taskMetrics
        if (m != null) {
          a.synchronized {
            a.tasks += 1
            a.taskMs += m.executorRunTime
            a.gcMs += m.jvmGCTime
            a.shufReadB += m.shuffleReadMetrics.totalBytesRead
            a.shufWriteB += m.shuffleWriteMetrics.bytesWritten
            a.spillB += m.diskBytesSpilled
            a.inRecords += m.inputMetrics.recordsRead
          }
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val a = stages.getOrElseUpdate(i.stageId, StageAgg())
        a.wallMs = (for {c <- i.completionTime; b <- i.submissionTime} yield c - b).getOrElse(0L)
        a.name = i.name.takeWhile(_ != '\n')
        a.parts = i.numTasks
      }
    })
    // Accept several query names (and an optional trailing sfDir):
    // one JVM + one session amortizes sbt/Spark startup over the whole
    // list, and the sweep between queries matches the bench convention
    // (memos cleared, so each query's ledger is its own cold build;
    // run a query name twice to see its warm profile second).
    val queryArgs = (query +: args.drop(1).filterNot(_.startsWith("/"))).distinct
    queryArgs.foreach { qname =>
      SessionMemo.sweep(spark)
      stages.clear()
      val fn = SparkEntry.queries(qname)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus drains asynchronously; settle before reading
      Thread.sleep(2000)
      val rows = stages.toSeq.sortBy(-_._2.wallMs)
      rows.take(8).foreach { case (id, a) =>
        println(f"""{"q":"$qname","stage":$id,"name":"${a.name.replace("\"", "'")}","wall_ms":${a.wallMs},""" +
          f""""tasks":${a.tasks},"task_ms":${a.taskMs},"gc_ms":${a.gcMs},""" +
          f""""shuffle_read_mb":${a.shufReadB / 1e6}%.1f,"shuffle_write_mb":${a.shufWriteB / 1e6}%.1f,""" +
          f""""spill_mb":${a.spillB / 1e6}%.1f,"input_records":${a.inRecords}}""")
      }
      println(f"""{"query":"$qname","sf":"$sfDir","total_sec":$wall%.1f,""" +
        f""""stage_wall_sum_ms":${rows.map(_._2.wallMs).sum},""" +
        f""""task_ms_sum":${rows.map(_._2.taskMs).sum},"gc_ms_sum":${rows.map(_._2.gcMs).sum},""" +
        f""""spill_mb_sum":${rows.map(_._2.spillB).sum / 1e6}%.1f}""")
    }
    spark.stop()
  }
}
