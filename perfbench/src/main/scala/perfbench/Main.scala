package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.{GraftSession, Queries, SparkEntry}
import graft.streaming.{KeyedEvent, StreamingOps}

/** The JVM half of the benchmark: runs one workload against graft's
  * public entry points and writes what it measured to `--out`.
  *
  * Every run is set-up (session, inputs, one cold warm-up pass whose
  * outputs are kept for the correctness checks), then a timed window
  * of whole passes, then untimed extras (kernel rates when traced).
  * The number of timed passes is fixed by `--seconds` alone
  * (seconds / nominal pass time on the reference box), so a faster
  * build is compared on the same passes as a slower one.
  */
object Main {
  /** q_pagerank leads every pass: it builds the whole memo chain
    * (simhashPairs → graphSym → deg), so the other four, in seeded order,
    * only reuse it. (Led by q_kcore or q_bfs_hops, a pass would build deg
    * later, inside whichever degree user came first.) */
  val ChainBuilder = "q_pagerank"
  val ChainReusers: Seq[String] = Seq("q_kcore", "q_bfs_hops", "q_label_prop", "q_ppr_seeds")
  val StreamOps: Seq[String] = Seq("lag_window", "table_latest", "candle_strat", "ewma")

  /** Seconds one timed pass takes on the reference box (4 cores). */
  val NominalPassS: Map[String, Double] =
    Map("graph_memo" -> 14.0, "stream_state" -> 9.0)

  /** The event tape is fed in this many equal micro-batches per lap. */
  val TapeBatches = 10
  /** Each further lap of the tape is shifted by 31 days (a whole number
    * of candle windows, and past the tape's 30-day span). */
  val LapUs: Long = 31L * 86400L * 1000000L
  val CandleWindowUs = 60000000L
  val LagN = 4

  final case class Op(pass: Int, name: String, ms: Double, error: Option[String],
      var fingerprint: String = "null")
  final case class Pass(index: Int, ms: Double, cpuMs: Double, traced: Boolean)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val out = Paths.get(a("out"))
    val passes = math.max(1, math.round(a("seconds").toDouble / NominalPassS(workload)).toInt)
    Files.createDirectories(out)

    val spark = GraftSession.local("perfbench")
    val tr = new Tracer(spark)
    val layers = if (trace) Some(new LayerListener) else None
    layers.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, tr, a("data"), out, seed, passes, trace)
    workload match {
      case "graph_memo" => queryWorkload(ctx)
      case "stream_state" => streamWorkload(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (trace) {
      ctx.fields("kernels") = Json.obj(Kernels.rates(spark))
      layers.foreach { l =>
        l.drain()
        tr.writeSpans(out.resolve("spans.jsonl"), l.counters)
      }
    }
    ctx.fields("slots") = spark.sparkContext.defaultParallelism.toString
    ctx.fields("passes") = Json.arr(ctx.passRecs.toSeq.map(p => Json.obj(Seq(
      "index" -> p.index.toString, "ms" -> Json.num(p.ms), "cpu_ms" -> Json.num(p.cpuMs),
      "traced" -> p.traced.toString))))
    ctx.fields("ops") = Json.arr(ctx.ops.toSeq.map(o => Json.obj(Seq(
      "pass" -> o.pass.toString, "name" -> Json.str(o.name), "ms" -> Json.num(o.ms),
      "error" -> o.error.map(Json.str).getOrElse("null"), "fingerprint" -> o.fingerprint))))
    Files.write(out.resolve("result.json"), Json.obj(ctx.fields.toSeq).getBytes(UTF_8))
    spark.stop()
  }

  /** Per-run state shared by the workloads. */
  final class Ctx(val spark: SparkSession, val tr: Tracer, val data: String, val out: Path,
      val seed: Long, val passes: Int, val trace: Boolean) {
    val passRecs = ArrayBuffer.empty[Pass]
    val ops = ArrayBuffer.empty[Op]
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, String]
    private val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private var stealAtStart = 0L

    /** A traced run times four times the passes in the order untraced,
      * untraced, traced, untraced: the first lets the steepest part of
      * the warming trend pass, and the traced pass is compared with the
      * mean of its neighbours, which cancels a linear trend. An untraced
      * run traces none. */
    def timedPasses: Int = if (trace) 4 * passes else passes
    def traced(pass: Int): Boolean = trace && pass % 4 == 2
    def order(items: Seq[String], pass: Int): Seq[String] =
      new Random(seed * 7919L + pass).shuffle(items)

    def startTimedWindow(): Unit = {
      fields("setup_end_ms") = System.currentTimeMillis().toString
      stealAtStart = Env.stealTicks()
    }
    def endTimedWindow(): Unit =
      fields("steal_s") = Json.num((Env.stealTicks() - stealAtStart) / 100.0)

    /** Times one pass: wall and process CPU (all threads). */
    def pass[T](index: Int)(body: Int => T): T = {
      val traced = this.traced(index)
      tr.active = traced
      val c0 = cpu.getProcessCpuTime
      val t0 = System.nanoTime()
      try tr.span(-1, "pass", "", index)(body)
      finally {
        passRecs += Pass(index, (System.nanoTime() - t0) / 1e6,
          (cpu.getProcessCpuTime - c0) / 1e6, traced)
        tr.active = false
      }
    }

    def op(pass: Int, name: String)(body: => Unit): Op = {
      val t0 = System.nanoTime()
      val err = try { body; None } catch { case e: Throwable => Some(describe(e)) }
      val o = Op(pass, name, (System.nanoTime() - t0) / 1e6, err)
      ops += o
      o
    }
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"

  /** `df` with its output fingerprint observed as its rows flow to the
    * sink: the row count and the sum of every row's 64-bit hash, equal
    * for equal row multisets whatever their order or partitioning. */
  def fingerprinted(df: DataFrame, name: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    val h = xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*).cast("decimal(38,0)")
    (df.observe(obs, count(lit(1)).as("rows"), coalesce(sum(h), lit(0).cast("decimal(38,0)")).as("hash")), obs)
  }

  def fingerprint(obs: Observation): String = {
    val m = obs.get
    Json.str(s"${m("rows")}:${m("hash")}")
  }

  private def sweep(spark: SparkSession): Unit = {
    Queries.clearSessionMemos()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** graph_memo: memos are swept once per pass, so the pass's first
    * query builds the shared graph memos and the other four reuse them. */
  private def queryWorkload(c: Ctx): Unit = {
    val spark = c.spark
    val names = ChainBuilder +: ChainReusers
    def order(pass: Int) = ChainBuilder +: c.order(ChainReusers, pass)
    val fns = names.map(n => n -> SparkEntry.queries(n)).toMap
    c.fields("oracle_sql") = Json.obj(names.map(n =>
      n -> SparkEntry.oracleSql.get(n).map(Json.str).getOrElse("null")))

    // Warm-up (part of set-up): one cold pass in the first timed pass's
    // order, so the same query builds the memo chain as there. Its rows
    // are written out, fingerprinted, for the oracle checks; JIT and
    // codegen warm here.
    sweep(spark)
    val warm = order(0).map(n => n -> (try {
      val (df, obs) = fingerprinted(fns(n)(spark, c.data), s"warm_$n")
      df.write.mode("overwrite").parquet(c.out.resolve("rows").resolve(n).toString)
      Right(fingerprint(obs))
    } catch { case e: Throwable => Left(Json.str(describe(e))) }))
    c.fields("warm_errors") = Json.obj(warm.collect { case (n, Left(e)) => n -> e })
    c.fields("warm_fingerprints") = Json.obj(warm.collect { case (n, Right(f)) => n -> f })

    c.startTimedWindow()
    (0 until c.timedPasses).foreach { p =>
      sweep(spark)
      val observed = ArrayBuffer.empty[(Op, Observation)]
      c.pass(p) { passSpan =>
        order(p).foreach { n =>
          var obs: Observation = null
          val o = c.op(p, n) {
            c.tr.span(passSpan, "op", n, p) { opSpan =>
              val built = c.tr.span(opSpan, "construct", n, p)(_ => fns(n)(spark, c.data))
              val (df, fp) = fingerprinted(built, s"pass${p}_$n")
              obs = fp
              // Planning is forced on its own only in traced passes: the
              // noop write plans again, so this is tracing cost.
              if (c.tr.active) c.tr.span(opSpan, "plan", n, p)(_ => df.queryExecution.executedPlan)
              c.tr.span(opSpan, "exec", n, p)(_ => df.write.mode("overwrite").format("noop").save())
            }
          }
          if (o.error.isEmpty) observed += o -> obs
        }
        if (c.tr.active) {
          val infos = spark.sparkContext.getRDDStorageInfo
          c.tr.attr(passSpan, "persisted_rdds", infos.length.toDouble)
          c.tr.attr(passSpan, "persisted_bytes", infos.map(i => i.memSize + i.diskSize).sum.toDouble)
        }
      }
      observed.foreach { case (o, obs) => o.fingerprint = fingerprint(obs) }
    }
    c.endTimedWindow()
    sweep(spark)
  }

  /** stream_state: the four stateful operators run as four streaming
    * queries over one event tape, each fed the same micro-batch per
    * step. Step 0 is the cold warm-up; each timed pass is one step. */
  private def streamWorkload(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val tape = spark.read.parquet(s"${c.data}/events.parquet")
      .select(col("user_id").cast("long"), unix_micros(col("ts").cast("timestamp")),
        col("value").cast("double"))
      .collect().map(r => KeyedEvent(r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(e => (e.tsUs, e.key, e.value))
    val per = tape.length / TapeBatches
    require(per * TapeBatches == tape.length, s"tape of ${tape.length} rows does not split into $TapeBatches")
    def batch(step: Int): Seq[KeyedEvent] = {
      val shift = (step / TapeBatches) * LapUs
      tape.slice((step % TapeBatches) * per, (step % TapeBatches + 1) * per)
        .map(e => e.copy(tsUs = e.tsUs + shift)).toSeq
    }

    final class Running(val name: String, val src: MemoryStream[KeyedEvent], val q: StreamingQuery) {
      var seen = -1L
      val progress = ArrayBuffer.empty[String]
      def feed(step: Int): Unit = {
        src.addData(batch(step))
        q.processAllAvailable()
      }
      def collectProgress(step: Int, timed: Boolean): Unit =
        q.recentProgress.filter(_.batchId > seen).foreach { p =>
          seen = p.batchId
          progress += s"""{"op":"$name","step":$step,"timed":$timed,"progress":${p.json}}"""
        }
    }
    val running = StreamOps.map { name =>
      val src = MemoryStream[KeyedEvent]
      val ds = src.toDS()
      val (df, mode) = name match {
        case "lag_window" => (StreamingOps.lagWindow(ds, LagN).toDF(), OutputMode.Append())
        case "table_latest" => (StreamingOps.tableLatest(ds).toDF(), OutputMode.Update())
        case "candle_strat" => (StreamingOps.candleStrat(ds, CandleWindowUs).toDF(), OutputMode.Append())
        case "ewma" => (StreamingOps.ewma(ds).toDF(), OutputMode.Append())
      }
      val q = df.writeStream.format("memory").queryName(s"out_$name").outputMode(mode)
        .option("checkpointLocation", c.out.resolve("checkpoints").resolve(name).toString)
        .start()
      name -> new Running(name, src, q)
    }.toMap

    // Warm-up (part of set-up): each operator's cold first micro-batch.
    StreamOps.foreach { n =>
      val t0 = System.nanoTime()
      running(n).feed(0)
      c.fields(s"first_batch_ms.$n") = Json.num((System.nanoTime() - t0) / 1e6)
      running(n).collectProgress(0, timed = false)
    }

    c.startTimedWindow()
    (0 until c.timedPasses).foreach { p =>
      c.pass(p) { passSpan =>
        c.order(StreamOps, p).foreach { name =>
          val r = running(name)
          c.op(p, name)(c.tr.span(passSpan, "op", name, p)(_ => r.feed(1 + p)))
          r.collectProgress(1 + p, timed = true)
        }
      }
    }
    c.endTimedWindow()

    running.values.foreach(_.q.stop())
    c.fields("steps") = (1 + c.timedPasses).toString
    c.fields("batch_rows") = per.toString
    running.values.foreach { r =>
      if (r.q.exception.isEmpty)
        spark.table(s"out_${r.name}").write.mode("overwrite")
          .parquet(c.out.resolve("rows").resolve(r.name).toString)
    }
    val lines = running.values.flatMap(_.progress).mkString("", "\n", "\n")
    Files.write(c.out.resolve("progress.jsonl"), lines.getBytes(UTF_8))
  }
}

/** Run-environment readings taken from the benchmark's own process. */
object Env {
  /** Cumulative CPU steal ticks (USER_HZ) of the whole box, from /proc/stat. */
  def stealTicks(): Long =
    try {
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toLong else 0L
    } catch { case _: Throwable => 0L }
}

/** Minimal JSON rendering for the result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
