package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** In-memory spans recorded around the benchmark's calls into graft:
  * pass → op → construct / plan / exec. While a span is open its id is
  * the `perfbench.span` local property, so Spark jobs submitted inside
  * it carry the id and [[LayerListener]] charges their work to it.
  * Spans are kept in memory and written once, when the run ends.
  */
final class Tracer(spark: SparkSession) {
  final case class Span(id: Int, parent: Int, name: String, op: String, pass: Int,
      start: Long, var end: Long, attrs: ArrayBuffer[(String, Double)])

  @volatile var active = false
  private val spans = ArrayBuffer.empty[Span]

  def span[T](parent: Int, name: String, op: String, pass: Int)(body: Int => T): T =
    if (!active) body(-1)
    else {
      val s = Span(spans.length, parent, name, op, pass, System.nanoTime(), 0L, ArrayBuffer.empty)
      spans += s
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body(s.id)
      finally {
        s.end = System.nanoTime()
        sc.setLocalProperty(Tracer.SpanKey, outer)
      }
    }

  def attr(id: Int, key: String, value: Double): Unit =
    if (id >= 0) spans(id).attrs += key -> value

  /** One JSON line per span, with the Spark work charged to it. */
  def writeSpans(path: Path, counters: Int => Array[Long]): Unit = {
    val lines = spans.map { s =>
      val c = counters(s.id)
      Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "op" -> Json.str(s.op), "pass" -> s.pass.toString,
        "start_ns" -> s.start.toString, "end_ns" -> s.end.toString,
        "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.num(v) }),
        "spark" -> Json.obj(LayerListener.Fields.zip(c).map { case (k, v) => k -> v.toString })))
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Charges Spark jobs, stages and task metrics to the span whose id the
  * submitting thread carried (see [[Tracer]]). Jobs outside any span
  * are not counted. */
final class LayerListener extends SparkListener {
  import LayerListener._

  private val bySpan = new ConcurrentHashMap[Int, Array[Long]]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobsStarted = new AtomicLong()
  private val jobsEnded = new AtomicLong()
  private val events = new AtomicLong()

  private def add(span: Int, field: Int, v: Long): Unit =
    bySpan.computeIfAbsent(span, _ => new Array[Long](Fields.length))(field) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet(); events.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey))).foreach { s =>
      val span = s.toInt
      add(span, Jobs, 1)
      e.stageIds.foreach(st => stageSpan.put(st, span))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobsEnded.incrementAndGet(); events.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => add(s, Stages, 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    Option(stageSpan.get(e.stageId)).filter(_ => m != null).foreach { s =>
      add(s, Tasks, 1)
      add(s, TaskRunMs, m.executorRunTime)
      add(s, TaskCpuMs, m.executorCpuTime / 1000000L)
      add(s, GcMs, m.jvmGCTime)
      add(s, ShuffleReadBytes, m.shuffleReadMetrics.totalBytesRead)
      add(s, ShuffleWriteBytes, m.shuffleWriteMetrics.bytesWritten)
      add(s, SpillBytes, m.memoryBytesSpilled + m.diskBytesSpilled)
      add(s, InputRows, m.inputMetrics.recordsRead)
    }
  }

  /** Waits until the listener bus has delivered every job's end and no
    * event arrived for 300 ms (at most 20 s). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 20000000000L
    var last = -1L
    while (System.nanoTime() < deadline &&
      (jobsStarted.get != jobsEnded.get || events.get != last)) {
      last = events.get
      Thread.sleep(300)
    }
  }

  def counters(span: Int): Array[Long] =
    Option(bySpan.get(span)).map(_.clone).getOrElse(new Array[Long](Fields.length))
}

object LayerListener {
  val Fields: Seq[String] = Seq("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms",
    "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_rows")
  val Jobs = 0; val Stages = 1; val Tasks = 2; val TaskRunMs = 3; val TaskCpuMs = 4
  val GcMs = 5; val ShuffleReadBytes = 6; val ShuffleWriteBytes = 7; val SpillBytes = 8
  val InputRows = 9
}

/** Native-kernel rates: each graft SQL function evaluated over a cached
  * in-memory frame (no file scan, no shuffle) into the noop sink. */
object Kernels {
  val Rows = 40000
  val Reps = 3
  private val Words = "spark window merge table column vector stream value data small join filter big group hash customer sort order slow line part fast row the agg key query a scan batch".split(" ")

  val Exprs: Seq[(String, String)] = Seq(
    "minhash_bands" -> "graft_minhash_bands(tokens)",
    "simhash32" -> "graft_simhash32(tokens)",
    "qdot" -> "graft_qdot(qv, qv)",
    "text_stats" -> "graft_text_stats(text)")

  def rates(spark: SparkSession): Seq[(String, String)] = {
    import org.apache.spark.sql.functions._
    val words = array(Words.map(lit).toIndexedSeq: _*)
    val base = spark.range(0, Rows, 1, spark.sparkContext.defaultParallelism).select(
      transform(sequence(lit(1), lit(60)), i =>
        element_at(words, (pmod(xxhash64(col("id"), i), lit(Words.length.toLong)) + 1).cast("int"))).as("tokens"),
      transform(sequence(lit(1), lit(64)), i =>
        pmod(xxhash64(col("id"), i, lit(7)), lit(2001L)) - 1000L).as("qv"))
      .withColumn("text", concat_ws(" ", col("tokens")))
      .cache()
    base.count()
    val out = Exprs.map { case (name, expr) =>
      val secs = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        base.selectExpr(s"$expr AS x").write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      name -> Json.num(Rows / secs(Reps / 2))
    }
    base.unpersist(blocking = true)
    out
  }
}
