package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Graft

/** Benchmark driver: one JVM, one Spark session on `local[cores]`, one
  * workload. Set-up (session start plus one step on the real inputs; for
  * the stream the next batch, so round 1 creates the indexes) runs
  * [[SetupRounds]] times and is reported as its median, which a cold
  * first round cannot move; then the workload runs closed-loop steps
  * until `seconds` have passed, its correctness gates run, and the last
  * line of stdout is the result JSON. Everything else goes to stderr.
  *
  * {{{
  * Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> <cores>
  * }}}
  *
  * With seconds 0 the run only loads classes, for the class-data-sharing
  * archive: one set-up round and one step, no gates and no result.
  *
  * With trace 1, steps alternate untraced and traced: traced steps
  * record spans around the calls into each module (materializing at
  * module boundaries so each layer's work lands in its own span), and
  * the difference between the two kinds of step is the tracing
  * overhead.
  */
object Main {

  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, data, work, coresS) = args
    val seconds = secondsS.toDouble
    val traceRun = traceS == "1"
    val cores = coresS.toInt
    System.setProperty("spark.ui.enabled", "false")
    System.setProperty("spark.local.dir", s"$work/spark-local")
    System.setProperty("spark.sql.warehouse.dir", s"$work/warehouse")
    val truth = Truth.load(s"$data/truth.json")
    val ctx = new Ctx(new Tracer(traceRun), data, work, truth, cores)
    val wl: Workload = workload match {
      case "pubmed_keywords" => new PubmedKeywords(ctx)
      case "stream_ingest_serve" => new StreamIngestServe(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    val loadOnly = seconds <= 0
    val rounds = if (loadOnly) 1 else SetupRounds
    if (loadOnly) wl.minSteps = 1

    val setups = (1 to rounds).map { r =>
      val t0 = System.nanoTime()
      val spark = Graft.session(master = s"local[$cores]",
        appName = "perfbench", shufflePartitions = cores)
      spark.sparkContext.setLogLevel("WARN")
      wl.warmup(spark, r)
      val dt = (System.nanoTime() - t0) / 1e9
      if (r < rounds) spark.stop()
      log(f"setup round $r: $dt%.3f s")
      dt
    }
    val spark = SparkSession.active
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    counters.active = true
    Jvm.resetPeak()
    val t0 = System.nanoTime()
    wl.measure(spark, t0 + (seconds * 1e9).toLong)
    val windowS = (System.nanoTime() - t0) / 1e9
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    counters.active = false
    val heapMb = Jvm.heapPeakMb
    if (loadOnly) {
      wl.close()
      spark.stop()
      return
    }

    val gates = try wl.gates(spark) catch {
      case NonFatal(e) =>
        e.printStackTrace()
        Seq(Gate("gates ran", ok = false, e.toString))
    }
    gates.foreach(g => log(s"gate ${if (g.ok) "ok  " else "FAIL"} ${g.name}: ${g.detail}"))
    val correct = gates.forall(_.ok)

    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traceRun) {
      out("setup_s") = (Stats.median(setups), "s")
      wl.endToEnd.foreach { case (k, v) => out(k) = v }
      log(f"window ${windowS}%.2f s; setup rounds ${setups.map(d => f"$d%.2f").mkString(", ")}")
      wl.report.foreach(l => log(l))
      log(f"error_rate ${ctx.ops.failed.toDouble / math.max(1, ctx.ops.attempted)}%.4f " +
        s"(${ctx.ops.failed} failed of ${ctx.ops.attempted} operations)")
    } else {
      val layers = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
      Layers.names.foreach { case (n, u) => layers(n) = (0.0, u, 0) }
      wl.layers.foreach { case (n, (v, s)) =>
        layers(n) = (v, Layers.unit(n), s) }
      val busy = counters.runMs / (windowS * 1000.0 * cores)
      val skew = if (counters.stageSkew.isEmpty) 0.0
        else Stats.median(counters.stageSkew.toSeq)
      Seq(
        "spark.jobs" -> counters.jobs.toDouble,
        "spark.tasks" -> counters.tasks.toDouble,
        "spark.failed_tasks" -> counters.failedTasks.toDouble,
        "spark.shuffle_write_bytes" -> counters.shuffleWrite.toDouble,
        "spark.shuffle_read_bytes" -> counters.shuffleRead.toDouble,
        "spark.spill_bytes" -> counters.spill.toDouble,
        "spark.executor_run_ms" -> counters.runMs.toDouble,
        "spark.executor_cpu_ms" -> counters.cpuNs / 1e6,
        "spark.gc_ms" -> counters.gcMs.toDouble,
        "spark.busy_share" -> busy,
        "spark.task_skew" -> skew,
        "operators.index.bytes_rewritten" -> counters.maintOutputBytes.toDouble,
        "jvm.heap_peak_mb" -> heapMb
      ).foreach { case (n, v) =>
        val s = if (n == "spark.task_skew") counters.stageSkew.size else 1
        layers(n) = (v, Layers.unit(n), s)
      }
      log(f"${"per-layer metric"}%-36s ${"value"}%16s ${"unit"}%-12s samples")
      layers.foreach { case (n, (v, u, s)) =>
        log(f"$n%-36s ${fmt(v)}%16s $u%-12s $s")
        out(n) = (v, u)
      }
      ctx.tracer.write(s"$work/spans.jsonl")
      log(s"spans written to $work/spans.jsonl (${ctx.tracer.all.size} spans)")
    }
    val metrics = out.map { case (k, (v, u)) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(1, ctx.ops.attempted)}, """ +
      s""""failed": ${ctx.ops.failed}, "metrics": {$metrics}}""")
    System.out.flush()
    wl.close()
    spark.stop()
    if (!correct) sys.exit(1)
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")
}

final case class Gate(name: String, ok: Boolean, detail: String)

/** Attempted/failed operation counts. A failing operation is counted,
  * reported with its stack trace, and rethrown wrapped in [[Ops.Failed]]
  * to the step it belongs to, which records the step as failed.
  */
final class Ops {
  var attempted = 0L
  var failed = 0L
  def add(attempts: Long, failures: Long): Unit = synchronized {
    attempted += attempts
    failed += failures
  }
  def apply[A](name: String)(body: => A): A = {
    add(1, 0)
    try body
    catch {
      case NonFatal(e) =>
        fail(name, e)
        throw Ops.Failed(e)
    }
  }
  /** Counts a failure raised outside any operation as one more attempt. */
  def uncounted(name: String, e: Throwable): Unit = e match {
    case Ops.Failed(_) => ()
    case _ => add(1, 0); fail(name, e)
  }
  private def fail(name: String, e: Throwable): Unit = {
    add(0, 1)
    Main.log(s"operation $name failed: $e")
    e.printStackTrace()
  }
}

object Ops {
  final case class Failed(cause: Throwable) extends RuntimeException(cause)
}

final class Ctx(val tracer: Tracer, val data: String, val work: String,
    val truth: Truth, val cores: Int) {
  val ops = new Ops
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it:
    * (value, percentile, samples), or None below eleven samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val s = xs.sorted
    if (s.size < 11) None
    else {
      val i = s.size - 11
      Some((s(i), 100.0 * (i + 1) / s.size, s.size))
    }
  }

  /** Least-squares slope of y over x. */
  def slope(xs: Seq[Double], ys: Seq[Double]): Double = {
    val n = xs.size
    if (n < 2) 0.0
    else {
      val mx = xs.sum / n
      val my = ys.sum / n
      val den = xs.map(x => (x - mx) * (x - mx)).sum
      if (den == 0) 0.0
      else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / den
    }
  }
}

/** What the generator planted (`truth.json`). */
final case class Truth(articles: Long, abstracts: Long, fixturePmid: Long,
    years: Seq[Int], corpus: Map[String, Long], terms: IndexedSeq[Seq[String]])

object Truth {
  def load(path: String): Truth = {
    val j = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    val p = j.get("pubmed")
    val c = j.get("corpus")
    import scala.jdk.CollectionConverters._
    Truth(
      p.get("articles").asLong, p.get("abstracts").asLong,
      p.get("fixture_pmid").asLong,
      p.get("years").elements.asScala.map(_.asInt).toSeq,
      Seq("n_input", "n_lang", "n_quality", "n_exact", "n_near")
        .map(k => k -> c.get(k).asLong).toMap,
      j.get("stream_terms").elements.asScala
        .map(_.elements.asScala.map(_.asText).toSeq).toIndexedSeq)
  }
}

/** Every per-layer metric, with its unit. Layers a workload does not
  * exercise report 0 with 0 samples.
  */
object Layers {
  val names: Seq[(String, String)] = Seq(
    "sources.parse_s" -> "s", "sources.ndjson_write_s" -> "s",
    "sources.ndjson_read_s" -> "s", "sources.csv_write_s" -> "s",
    "sources.bytes_written" -> "bytes",
    "pipeline.kw_v1_s" -> "s", "pipeline.kw_v2_s" -> "s",
    "pipeline.kw_rows_per_doc" -> "ratio",
    "pipeline.lang_quality_s" -> "s", "pipeline.exact_dedup_s" -> "s",
    "pipeline.near_dedup_s" -> "s", "pipeline.funnel_s" -> "s",
    "pipeline.n_lang" -> "count", "pipeline.n_quality" -> "count",
    "pipeline.n_exact" -> "count", "pipeline.n_near" -> "count",
    "operators.dedup.lsh_pairs_s" -> "s", "operators.dedup.cc_s" -> "s",
    "operators.dedup.candidate_pairs" -> "count",
    "operators.dedup.verified_pairs" -> "count",
    "operators.dedup.pair_yield" -> "ratio",
    "operators.bm25.append_s" -> "s", "operators.bm25.query_s" -> "s",
    "operators.index.live_runs" -> "count", "operators.index.files" -> "count",
    "operators.index.bytes" -> "bytes",
    "operators.index.bytes_rewritten" -> "bytes",
    "operators.index.bytes_per_input_byte" -> "ratio",
    "streaming.batch_s" -> "s",
    "streaming.batch_ms_slope" -> "ms_per_10k_docs",
    "streaming.batch_ms_tail" -> "ms",
    "streaming.maintain_ms" -> "ms", "streaming.maintain_folds" -> "count",
    "streaming.maintain_cycles" -> "count",
    "streaming.maintain_failures" -> "count", "streaming.stall_ms" -> "ms",
    "serve.query_ms_p50" -> "ms", "serve.query_ms_tail" -> "ms",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.failed_tasks" -> "count",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.executor_run_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.busy_share" -> "ratio", "spark.task_skew" -> "ratio",
    "jvm.heap_peak_mb" -> "MiB",
    "trace.overhead_ms" -> "ms")
  private val units = names.toMap
  def unit(n: String): String = units(n)
}
