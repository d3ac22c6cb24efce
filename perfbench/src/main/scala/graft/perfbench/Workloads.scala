package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Bm25Index, Dedup, IndexLifecycle, RunManifest}
import graft.pipeline.{CorpusPipeline, KeywordPipeline}
import graft.sources.{Articles, Sinks}
import graft.streaming.StreamingFunnel

import Workload.persisted

/** One benchmark workload. `measure` runs closed-loop steps until the
  * deadline; a step that throws is counted as failed and not timed.
  */
abstract class Workload(val ctx: Ctx) {
  import ctx._

  /** (wall ms, traced) per completed step. */
  protected val steps = mutable.ArrayBuffer.empty[(Double, Boolean)]

  def warmup(spark: SparkSession, round: Int): Unit
  def measure(spark: SparkSession, deadlineNs: Long): Unit
  def gates(spark: SparkSession): Seq[Gate]
  /** End-to-end metrics besides `setup_s`. */
  def endToEnd: Seq[(String, (Double, String))]
  /** Human-readable lines for stderr. */
  def report: Seq[String]
  /** Per-layer metrics this workload measures: name -> (value, samples). */
  def layers: Seq[(String, (Double, Int))]
  def close(): Unit = ()

  protected def isTraced(step: Int): Boolean = tracer.on && step % 2 == 1

  /** Runs `body` as step `i`, traced or not, recording its wall time. */
  protected def step(i: Int)(body: => Unit): Unit = {
    val traced = isTraced(i)
    tracer.enabled = traced
    val t0 = System.nanoTime()
    try {
      tracer.span("step")(body)
      steps += (((System.nanoTime() - t0) / 1e6, traced))
    } catch { case NonFatal(e) => ops.uncounted("step", e) }
    finally tracer.enabled = true
  }

  /** At least three steps, so one disturbed step cannot move the median. */
  var minSteps = 3

  protected def keepGoing(i: Int, deadlineNs: Long): Boolean =
    System.nanoTime() < deadlineNs || i < minSteps

  protected def untracedMs: Seq[Double] = steps.filter(!_._2).map(_._1).toSeq

  protected def stepLine: String =
    "step ms " + steps.map { case (ms, t) => f"$ms%.0f${if (t) "*" else ""}" }
      .mkString(" ") + " (* traced)"

  protected def overheadMs: (Double, Int) = {
    val t = steps.filter(_._2).map(_._1).toSeq
    val u = untracedMs
    if (t.isEmpty || u.isEmpty) (0.0, 0)
    else (Stats.median(t) - Stats.median(u), t.size)
  }

  /** Median over traced steps of each span's summed self time (s). */
  protected def selfTimes(spanToMetric: (String, String)*)
      : Seq[(String, (Double, Int))] = {
    val per = tracer.selfByRoot("step")
    spanToMetric.map { case (span, metric) =>
      metric -> (Stats.median(per.map(_.getOrElse(span, 0.0))), per.size)
    }
  }

  protected def rm(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten
      .foreach(c => rm(c.getPath))
    f.delete()
  }

  protected def dirStats(path: String): (Long, Long) = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten
      .map(c => dirStats(c.getPath))
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.isFile) (1L, f.length)
    else (0L, 0L)
  }
}

object Workload {
  def persisted(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.count()
    p
  }
}

object Corpus {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("source", StringType), StructField("text", StringType)))

  def read(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(schema).json(paths: _*)

  val cfg: CorpusPipeline.Config = CorpusPipeline.Config()
}

/** The paper's stages 2 and 3: ASN.1 pages -> NDJSON -> both keyword
  * tables -> header-less CSVs. One step is one pass over all pages.
  */
final class PubmedKeywords(c: Ctx) extends Workload(c) {
  import ctx._

  private val golden = Set("article", "review", "different", "publication",
    "breast", "cancer", "man")
  private val out = s"$work/pubmed"
  private var keywordRows = 0L
  private var abstractsSeen = 0L

  private def years(pagesDir: String): Seq[Int] =
    new java.io.File(pagesDir).list().map(_.take(4).toInt).distinct.sorted.toSeq

  // the A1 record shape: {"pmid": .., "medent": {"abstract": ..}}
  private def a1(articles: DataFrame): DataFrame =
    articles.select(col("pmid"),
      struct(col("abstract").as("abstract")).as("medent"))

  private def pass(spark: SparkSession, pagesDir: String, dir: String,
      traced: Boolean): Unit = years(pagesDir).foreach { y =>
    val glob = s"$pagesDir/${y}_*"
    val nd = s"$dir/ndjson/$y"
    if (!traced) {
      ops("sources.asn1_to_ndjson") {
        Articles.writeNdjson(a1(Articles.readAsn1(spark, glob)), nd) }
      val abs = Articles.abstracts(Articles.readNdjson(spark, nd))
      ops("pipeline.kw_v2") { Sinks.writeKeywordCsv(
        KeywordPipeline.keywordTableV2(abs, "pmid", "abstract", lit(y)),
        s"$dir/kw_v2/$y") }
      ops("pipeline.kw_v1") { Sinks.writeKeywordCsv(
        KeywordPipeline.invertedIndexV1(abs, "pmid", "abstract"),
        s"$dir/kw_v1/$y") }
    } else {
      val arts = tracer.span("sources.parse") {
        ops("sources.readAsn1")(persisted(a1(Articles.readAsn1(spark, glob)))) }
      tracer.span("sources.ndjson_write") {
        ops("sources.writeNdjson")(Articles.writeNdjson(arts, nd)) }
      arts.unpersist()
      val abs = tracer.span("sources.ndjson_read") {
        ops("sources.readNdjson")(
          persisted(Articles.abstracts(Articles.readNdjson(spark, nd)))) }
      abstractsSeen += abs.count()
      Seq(("v2", "pipeline.kw_v2"), ("v1", "pipeline.kw_v1")).foreach {
        case (v, span) =>
          val kw = tracer.span(span) { ops(span)(persisted(
            if (v == "v2")
              KeywordPipeline.keywordTableV2(abs, "pmid", "abstract", lit(y))
            else KeywordPipeline.invertedIndexV1(abs, "pmid", "abstract"))) }
          keywordRows += kw.count()
          tracer.span("sources.csv_write") {
            ops("sources.writeKeywordCsv")(
              Sinks.writeKeywordCsv(kw, s"$dir/kw_$v/$y")) }
          kw.unpersist()
      }
      abs.unpersist()
    }
  }

  def warmup(spark: SparkSession, round: Int): Unit = {
    val dir = s"$work/warm-$round"
    pass(spark, s"$data/pubmed/pages", dir, traced = false)
    rm(dir)
  }

  def measure(spark: SparkSession, deadlineNs: Long): Unit = {
    var i = 0
    while (keepGoing(i, deadlineNs)) {
      step(i)(pass(spark, s"$data/pubmed/pages", out, isTraced(i)))
      i += 1
    }
  }

  def gates(spark: SparkSession): Seq[Gate] = {
    val y0 = truth.years.head
    val pmid = truth.fixturePmid.toString
    val v1 = spark.read.csv(s"$out/kw_v1/$y0").where(col("_c1") === pmid)
      .collect().map(_.getString(0)).toSet
    val v2 = spark.read.csv(s"$out/kw_v2/$y0").where(col("_c0") === pmid)
      .collect().map(_.getString(1)).toSet
    val arts = Articles.readNdjson(spark, s"$out/ndjson/*")
    val nArt = arts.count()
    val nAbs = Articles.abstracts(arts).count()
    Seq(
      Gate("v1 keywords of the fixture article are the A2 golden set",
        v1 == golden, v1.toSeq.sorted.mkString(",")),
      Gate("v2 keywords of the fixture article are the A2 golden set",
        v2 == golden, v2.toSeq.sorted.mkString(",")),
      Gate("NDJSON holds every generated article", nArt == truth.articles,
        s"$nArt of ${truth.articles}"),
      Gate("abstract filter keeps every generated abstract",
        nAbs == truth.abstracts, s"$nAbs of ${truth.abstracts}"))
  }

  private def docsPerS = Stats.median(untracedMs.map(ms => truth.articles / (ms / 1000)))

  def endToEnd: Seq[(String, (Double, String))] = Seq(
    "docs_per_s" -> (docsPerS, "1/s"))

  def report: Seq[String] = stepLine +: Seq(
    f"kw_docs_per_s $docsPerS%.1f 1/s (median of ${untracedMs.size} passes, " +
      s"${truth.articles} articles per pass)",
    f"pass_ms_p50 ${Stats.median(untracedMs)}%.1f ms")

  def layers: Seq[(String, (Double, Int))] = {
    val n = steps.count(_._2)
    selfTimes("sources.parse" -> "sources.parse_s",
      "sources.ndjson_write" -> "sources.ndjson_write_s",
      "sources.ndjson_read" -> "sources.ndjson_read_s",
      "sources.csv_write" -> "sources.csv_write_s",
      "pipeline.kw_v1" -> "pipeline.kw_v1_s",
      "pipeline.kw_v2" -> "pipeline.kw_v2_s") ++ Seq(
      "sources.bytes_written" -> (dirStats(out)._2.toDouble, 1),
      "pipeline.kw_rows_per_doc" ->
        (keywordRows / math.max(1.0, 2.0 * abstractsSeen), n),
      "trace.overhead_ms" -> overheadMs)
  }
}

/** The batch funnel's layers, for the stream's traced run: one traced
  * `CorpusPipeline.prepare` pass stage by stage (survivors written as
  * parquet) plus `CorpusPipeline.funnel`, and the LSH candidate count,
  * all over `docs`. Runs once, after the measured window.
  */
final class FunnelTrace(ctx: Ctx) {
  import ctx._

  private var counts: Map[String, Long] = Map.empty
  private var verified = 0L
  private var candidates = 0L

  def run(docs: DataFrame, dir: String): Unit = {
    val cfg = Corpus.cfg
    tracer.span("funnel") {
      val lq = tracer.span("pipeline.lang_quality") { ops("pipeline.lang_quality")(
        persisted(CorpusPipeline.qualityFiltered(
          CorpusPipeline.languageFiltered(docs, cfg), cfg))) }
      val ex = tracer.span("pipeline.exact_dedup") { ops("pipeline.exact_dedup")(
        persisted(CorpusPipeline.exactDeduped(lq))) }
      tracer.span("pipeline.near_dedup") {
        val pairs = tracer.span("operators.dedup.lsh_pairs") {
          ops("operators.dedup.minhashLshPairs")(persisted(Dedup.minhashLshPairs(
            ex, "doc_id", "text", cfg.dedupThreshold))) }
        verified = pairs.count()
        val surv = tracer.span("operators.dedup.cc") {
          ops("operators.dedup.survivorsFromPairs")(
            persisted(Dedup.survivorsFromPairs(ex, "doc_id", pairs))) }
        tracer.span("pipeline.write") {
          ops("pipeline.write")(surv.write.mode("overwrite")
            .parquet(s"$dir/survivors")) }
        Seq(surv, pairs).foreach(_.unpersist())
      }
      Seq(ex, lq).foreach(_.unpersist())
      counts = tracer.span("pipeline.funnel") {
        ops("pipeline.funnel")(CorpusPipeline.funnel(docs, cfg).collect()) }
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    // candidate pairs: the LSH bucket join before verification (threshold
    // 0 keeps every candidate); counted untimed
    val ex = CorpusPipeline.exactDeduped(CorpusPipeline.qualityFiltered(
      CorpusPipeline.languageFiltered(docs, cfg), cfg))
    candidates = ops("operators.dedup.candidates")(
      Dedup.minhashLshPairs(ex, "doc_id", "text", 0.0).count())
  }

  def layers: Seq[(String, (Double, Int))] = {
    val per = tracer.selfByRoot("funnel")
    Seq("pipeline.lang_quality" -> "pipeline.lang_quality_s",
      "pipeline.exact_dedup" -> "pipeline.exact_dedup_s",
      "pipeline.near_dedup" -> "pipeline.near_dedup_s",
      "pipeline.funnel" -> "pipeline.funnel_s",
      "operators.dedup.lsh_pairs" -> "operators.dedup.lsh_pairs_s",
      "operators.dedup.cc" -> "operators.dedup.cc_s").map { case (span, metric) =>
      metric -> (Stats.median(per.map(_.getOrElse(span, 0.0))), per.size)
    } ++ Seq(
      "pipeline.n_lang" -> (counts.getOrElse("2_language", 0L).toDouble, 1),
      "pipeline.n_quality" -> (counts.getOrElse("3_quality", 0L).toDouble, 1),
      "pipeline.n_exact" -> (counts.getOrElse("4_exact_dedup", 0L).toDouble, 1),
      "pipeline.n_near" -> (counts.getOrElse("5_near_dedup", 0L).toDouble, 1),
      "operators.dedup.candidate_pairs" -> (candidates.toDouble, 1),
      "operators.dedup.verified_pairs" -> (verified.toDouble, 1),
      "operators.dedup.pair_yield" ->
        (if (candidates > 0) verified.toDouble / candidates else 0.0, 1))
  }
}

/** Id-ordered micro-batches through `StreamingFunnel.processBatch` with
  * the hash, LSH and BM25 indexes on; tiered maintenance at the default
  * `compactEvery` cadence on a background thread (the cycle `attach`
  * submits); after every batch a closed-loop query client on its own
  * thread issues [[QueriesPerBatch]] BM25 top-k probes while the next
  * batch ingests. One step is one batch.
  */
final class StreamIngestServe(c: Ctx) extends Workload(c) {
  import ctx._

  val QueriesPerBatch = 4
  val K = 10

  private val idx = s"$work/stream/index"
  private val surv = s"$work/stream/survivors"
  private val bm25 = s"$work/stream/bm25"
  private val batchFiles = Option(new java.io.File(s"$data/corpus/batches")
    .listFiles).toSeq.flatten.map(_.getPath).sorted
  private val setupStats = mutable.ArrayBuffer.empty[StreamingFunnel.BatchStats]
  private val batchStats = mutable.ArrayBuffer.empty[StreamingFunnel.BatchStats]
  // (start ns, end ns, docs before, traced) per completed batch
  private val batchSpans = mutable.ArrayBuffer.empty[(Long, Long, Long, Boolean)]
  private val queryMs = mutable.ArrayBuffer.empty[Double]
  private val returned = mutable.Set.empty[Long]
  private var oversized = 0
  private var termCursor = 0
  private val maintSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private var maintAttempts = 0L
  private val maintPool = java.util.concurrent.Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "perfbench-maintenance")
    t.setDaemon(true)
    t
  }
  private var inflight: java.util.concurrent.Future[_] = null
  private val client = java.util.concurrent.Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "perfbench-query-client")
    t.setDaemon(true)
    t
  }
  private var probes: java.util.concurrent.Future[_] = null
  private var ingestedFiles = Seq.empty[String]
  private var ingestedBytes = 0L

  private def ingest(spark: SparkSession, file: String, id: Long,
      traced: Boolean): StreamingFunnel.BatchStats = {
    val batch = ops("stream.read_batch")(persisted(Corpus.read(spark, file)))
    try {
      val st = tracer.span("streaming.batch") {
        ops("streaming.processBatch")(StreamingFunnel.processBatch(batch, id,
          Corpus.cfg, idx, surv, if (traced) None else Some(bm25))) }
      if (traced) tracer.span("operators.bm25.append") {
        ops("operators.bm25.appendBatch")(Bm25Index.appendBatch(
          spark.read.parquet(s"$surv/batch=$id"), "doc_id", "text", bm25, id)) }
      st
    } finally batch.unpersist()
  }

  /** Submits one maintenance cycle after batch `id` at the `attach`
    * cadence, unless the previous cycle is still running. */
  private def maybeMaintain(spark: SparkSession, id: Long): Unit = {
    val every = StreamingFunnel.compactEvery(spark)
    if (every > 0 && (id + 1) % every == 0 &&
        (inflight == null || inflight.isDone))
      inflight = submitCycle(spark, id)
  }

  private def submitCycle(spark: SparkSession, id: Long)
      : java.util.concurrent.Future[_] = {
    maintAttempts += 1
    maintPool.submit(new Runnable {
      def run(): Unit = {
        spark.sparkContext.setLocalProperty("perfbench.maint", "1")
        val t0 = System.nanoTime()
        StreamingFunnel.runMaintenanceCycle(spark, idx, id, Some(bm25),
          rethrow = false)
        maintSpans.synchronized { maintSpans += ((t0, System.nanoTime())) }
      }
    })
  }

  // the client issues no probe once the measured window has closed
  @volatile private var windowEndNs = Long.MaxValue

  private def queries(spark: SparkSession, record: Boolean, n: Int): Unit =
    Iterator.range(0, n).takeWhile(_ => System.nanoTime() < windowEndNs).foreach { _ =>
      val terms = truth.terms(termCursor % truth.terms.size)
      termCursor += 1
      val t0 = System.nanoTime()
      try {
        val ids = ops("operators.bm25.query")(Bm25Index.query(spark, bm25,
          terms, K).select("doc_id").collect().map(_.getLong(0)))
        if (record) {
          queryMs += (System.nanoTime() - t0) / 1e6
          if (ids.length > K) oversized += 1
          returned ++= ids
        }
      } catch { case NonFatal(e) => ops.uncounted("probe", e) }
    }

  private def awaitMaintenance(): Unit =
    if (inflight != null) {
      inflight.get()
      inflight = null
    }

  /** Set-up round r (re)starts the service and ingests stream batch r-1
    * plus one probe: round 1 creates every index, later rounds restart
    * the session against the persisted indexes. The measured window
    * continues the same stream.
    */
  def warmup(spark: SparkSession, round: Int): Unit = {
    val id = round - 1
    setupStats += ingest(spark, batchFiles(id), id.toLong, traced = false)
    ingestedFiles :+= batchFiles(id)
    ingestedBytes += new java.io.File(batchFiles(id)).length
    queries(spark, record = false, 1)
  }

  def measure(spark: SparkSession, deadlineNs: Long): Unit = {
    windowEndNs = Long.MaxValue
    var i = 0
    var docsBefore = setupStats.map(_.nInput).sum
    val first = setupStats.size
    while (first + i < batchFiles.size && keepGoing(i, deadlineNs)) {
      val id = first + i
      val t0 = System.nanoTime()
      step(i) {
        val st = ingest(spark, batchFiles(id), id.toLong, isTraced(i))
        batchStats += st
        batchSpans += ((t0, System.nanoTime(), docsBefore, isTraced(i)))
        docsBefore += st.nInput
      }
      ingestedFiles :+= batchFiles(id)
      ingestedBytes += new java.io.File(batchFiles(id)).length
      maybeMaintain(spark, id.toLong)
      probes = client.submit(new Runnable {
        def run(): Unit = queries(spark, record = true, QueriesPerBatch)
      })
      i += 1
    }
    windowEndNs = System.nanoTime()
    if (probes != null) probes.get()
    awaitMaintenance()
    if (tracer.on && maintSpans.isEmpty && i > 0)
      // the window held fewer batches than the cadence: time one cycle
      // after it so the maintenance layer still reports
      submitCycle(spark, first + i - 1L).get()
    // background cycles swallow their failures into maintenanceStats
    ops.add(maintAttempts, StreamingFunnel.maintenanceStats(idx).failures)
  }

  def gates(spark: SparkSession): Seq[Gate] = {
    val survivorIds = spark.read.parquet(surv).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val batchIds = CorpusPipeline.prepare(Corpus.read(spark, ingestedFiles: _*),
      Corpus.cfg).select("doc_id").collect().map(_.getLong(0)).toSet
    val nDocs = Bm25Index.table(spark, bm25, "stats")
      .agg(sum("n_docs")).collect()(0).get(0).asInstanceOf[Number].longValue
    val all = setupStats ++ batchStats
    val ooo = all.map(_.nOutOfOrder).sum
    val stats = StreamingFunnel.maintenanceStats(idx)
    // the batch funnel over the whole generated corpus, untimed
    val funnel = CorpusPipeline.funnel(Corpus.read(spark,
      s"$data/corpus/docs.jsonl"), Corpus.cfg).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val stages = Seq("1_input" -> "n_input", "2_language" -> "n_lang",
      "3_quality" -> "n_quality", "4_exact_dedup" -> "n_exact")
    stages.map { case (stage, key) =>
      val got = funnel.getOrElse(stage, -1L)
      Gate(s"corpus funnel $stage equals the planted count",
        got == truth.corpus(key), s"$got vs planted ${truth.corpus(key)}")
    } ++ Seq(
      Gate("stream survivors equal prepare over the ingested batches",
        survivorIds == batchIds,
        s"${survivorIds.size} streamed vs ${batchIds.size} batch, " +
          s"${ingestedFiles.size} of ${batchFiles.size} batches ingested"),
      Gate("every batch arrived in order", ooo == 0L, s"nOutOfOrder total $ooo"),
      Gate("per-batch survivor counts add up", all.map(_.nNear).sum ==
        survivorIds.size, s"${all.map(_.nNear).sum}"),
      Gate("BM25 n_docs equals the survivor count", nDocs == survivorIds.size,
        s"$nDocs"),
      Gate(s"every query returned at most $K rows", oversized == 0,
        s"$oversized oversized of ${queryMs.size}"),
      Gate("every returned doc is a survivor", returned.subsetOf(survivorIds),
        s"${(returned -- survivorIds).size} strays of ${returned.size}"),
      Gate("no maintenance cycle failed", stats.failures == 0L,
        stats.lastError.getOrElse("none")))
  }

  private def untracedBatches = batchSpans.filter(!_._4)
  private def docsPerS = {
    val ub = untracedBatches.map(b => (b._2 - b._1) / 1e9).sum
    val docs = batchStats.zip(batchSpans).filter(!_._2._4).map(_._1.nInput).sum
    if (ub > 0) docs / ub else 0.0
  }
  /** (files, bytes) under both index roots. */
  private def indexFiles = Seq(idx, bm25).map(dirStats)
    .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  private def tailStr(name: String, xs: Seq[Double]) =
    Stats.tail(xs).map { case (v, p, n) => f"$name $v%.1f ms (p$p%.1f of $n samples)" }
      .getOrElse(s"$name n/a (${xs.size} samples, needs 11)")

  def endToEnd: Seq[(String, (Double, String))] = Seq(
    "docs_per_s" -> (docsPerS, "1/s"))

  def report: Seq[String] = stepLine +: Seq(
    f"ingest_docs_per_s $docsPerS%.1f 1/s (${untracedBatches.size} batches)",
    f"ingest_batch_ms_p50 ${Stats.median(untracedMs)}%.1f ms",
    tailStr("ingest_batch_ms_tail", untracedMs),
    f"query_ms_p50 ${Stats.median(queryMs.toSeq)}%.1f ms (${queryMs.size} queries)",
    tailStr("query_ms_tail", queryMs.toSeq),
    f"index_bytes_per_input_byte ${indexFiles._2.toDouble / math.max(1L, ingestedBytes)}%.3f",
    s"maintenance cycles ${maintSpans.size}, " +
      s"stats ${StreamingFunnel.maintenanceStats(idx)}")

  def layers: Seq[(String, (Double, Int))] = {
    // the batch funnel over the ingested batches, traced once after the
    // window and outside its Spark counters, gives the funnel layers
    val funnel = new FunnelTrace(ctx)
    funnel.run(Corpus.read(SparkSession.active, ingestedFiles: _*),
      s"$work/stream-funnel")
    val roots = Seq(s"$idx/hashes", s"$idx/ingest", s"$idx/lsh", bm25)
      .map(r => IndexLifecycle.resolveRoot(SparkSession.active, r))
    val mans = roots.flatMap(r => RunManifest.read(SparkSession.active, r))
    val (files, bytes) = indexFiles
    val ub = untracedBatches
    val slope = Stats.slope(ub.map(_._3 / 1e4).toSeq, ub.map(b => (b._2 - b._1) / 1e6).toSeq)
    val overlaps = (b: (Long, Long, Long, Boolean)) =>
      maintSpans.exists { case (s, e) => s < b._2 && e > b._1 }
    val (hit, miss) = ub.partition(overlaps)
    val ms = (b: (Long, Long, Long, Boolean)) => (b._2 - b._1) / 1e6
    val stall = if (hit.isEmpty || miss.isEmpty) 0.0
      else Stats.median(hit.map(ms).toSeq) - Stats.median(miss.map(ms).toSeq)
    val stats = StreamingFunnel.maintenanceStats(idx)
    val tail = Stats.tail(untracedMs)
    val qTail = Stats.tail(queryMs.toSeq)
    funnel.layers ++
    selfTimes("streaming.batch" -> "streaming.batch_s",
      "operators.bm25.append" -> "operators.bm25.append_s") ++ Seq(
      "operators.bm25.query_s" ->
        (Stats.median(queryMs.toSeq) / 1000, queryMs.size),
      "serve.query_ms_p50" -> (Stats.median(queryMs.toSeq), queryMs.size),
      "serve.query_ms_tail" -> (qTail.map(_._1).getOrElse(0.0), queryMs.size),
      "operators.index.live_runs" -> (mans.map(_.live.size).sum.toDouble, mans.size),
      "operators.index.files" -> (files.toDouble, 1),
      "operators.index.bytes" -> (bytes.toDouble, 1),
      "operators.index.bytes_per_input_byte" ->
        (bytes.toDouble / math.max(1L, ingestedBytes), 1),
      "streaming.batch_ms_slope" -> (slope, ub.size),
      "streaming.batch_ms_tail" -> (tail.map(_._1).getOrElse(0.0), ub.size),
      "streaming.maintain_ms" -> (Stats.median(maintSpans.map { case (s, e) =>
        (e - s) / 1e6 }.toSeq), maintSpans.size),
      "streaming.maintain_folds" -> (mans.map(_.seq).sum.toDouble, mans.size),
      "streaming.maintain_cycles" -> (stats.cycles.toDouble, 1),
      "streaming.maintain_failures" -> (stats.failures.toDouble, 1),
      "streaming.stall_ms" -> (stall, hit.size),
      "trace.overhead_ms" -> overheadMs)
  }

  override def close(): Unit = {
    awaitMaintenance()
    Seq(maintPool, client).foreach { p =>
      p.shutdown()
      p.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
    }
  }
}
