package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.events.EventSink
import graft.storage.AstarteStore
import graft.streaming._

/** Collects every progress report of the running query. */
final class ProgressLog extends StreamingQueryListener {
  val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = all.add(e.progress)
  def withData: Seq[StreamingQueryProgress] =
    all.asScala.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
  def rows: Long = all.asScala.map(_.numInputRows).sum

  /** Progress reports arrive on Spark's asynchronous listener bus; wait
    * until the reports of every committed record have arrived.
    */
  def awaitRows(n: Long): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (rows < n) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"progress reports cover $rows of $n committed records")
      Thread.sleep(2)
    }
  }
}

/** A running ingest: one store, one event topic, one checkpoint, fed
  * through `Pipeline.start`.
  */
final class Ingestion(val spark: SparkSession, val root: String) {
  val store = new AstarteStore(s"$root/store")
  val sink = new EventSink(s"$root/events")
  val progress = new ProgressLog
  spark.streams.addListener(progress)
  var query: StreamingQuery = _

  def start(source: org.apache.spark.sql.Dataset[Envelope]): Unit =
    query = Pipeline.start(source, DeviceStateMachine.StaticRegistryProvider(Fleet.registry),
      store, sink, s"$root/checkpoint", "0 seconds")

  def stop(): Unit = if (query != null) { query.stop(); query = null }

  def onDisk: (Long, Long) = {
    val (f1, b1) = Probe.parquetFiles(store.root)
    val (f2, b2) = Probe.parquetFiles(sink.path)
    (f1 + f2, b1 + b2)
  }
}

/** Writes generated records as a file spool for `WireSource.fileWireSource`.
  * Each file is one micro-batch (`maxFilesPerTrigger = 1`); files get
  * strictly increasing modification times so the file source takes
  * them in generation order on every run.
  */
final class Spool(spark: SparkSession, root: String) {
  val dir = s"$root/spool"
  private val staging = s"$root/spool-staging"
  private var nextFile = 0
  private var nextOffset = 0L
  private val mtimeBase = System.currentTimeMillis() - 86400000L
  Files.createDirectories(Paths.get(dir))

  private def record(m: Msg): WireRecord = {
    val ts = new java.sql.Timestamp(m.tsMicros / 1000L)
    ts.setNanos(((m.tsMicros % 1000000L) * 1000L).toInt)
    val off = nextOffset
    nextOffset += 1
    WireRecord(m.device.getBytes("UTF-8"), m.payload, "bench", 0, off, ts, 0,
      m.headers.map { case (k, v) => WireHeader(k, v) }.toArray)
  }

  /** Write `files` files of `perFile` records each, ready to publish. */
  def stage(gen: Generator, files: Int, perFile: Int): Seq[java.nio.file.Path] = {
    val recs = (0 until files * perFile).map(_ => record(gen.next()))
    val out = s"$staging/${nextFile}"
    val rdd = spark.sparkContext.parallelize(recs, files)
    spark.createDataset(rdd)(Encoders.product[WireRecord]).write.parquet(out)
    val parts = Files.list(Paths.get(out)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-") && p.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString)
    require(parts.size == files, s"spool staging wrote ${parts.size} files, expected $files")
    parts.map { p =>
      val target = Paths.get(out, f"batch-$nextFile%06d.parquet")
      Files.move(p, target)
      target.toFile.setLastModified(mtimeBase + nextFile * 1000L)
      nextFile += 1
      target
    }
  }

  /** Hand staged files to the file source (atomic renames). */
  def publish(files: Seq[java.nio.file.Path]): Unit =
    files.foreach(p => Files.move(p, Paths.get(dir, p.getFileName.toString), StandardCopyOption.ATOMIC_MOVE))
}

object Ingest {
  /** Records per trigger; a timed round is one trigger. */
  val BacklogPerFile = 2000
  /** Untimed warm-up: a small first batch pays code generation and
    * first-touch costs, two full batches let the JIT settle. Without
    * the full ones, a run's first timed batches were 2x slower than its
    * later ones, and runs split by how many rounds they fitted.
    */
  val WarmupSmall = 500
  val WarmupFull = 2

  def progressPhases(p: StreamingQueryProgress): Map[String, Double] =
    p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap

  /** Per-batch spans from Spark's own progress report, laid out in the
    * order the micro-batch runs its phases, with the batch's Spark jobs
    * nested under `addBatch`. Returns each batch's self time per layer
    * and its wall time. The store writes, the event publish and the
    * lazily evaluated fold all run inside the pipeline's `foreachBatch`
    * (`addBatch`), which the benchmark cannot split from outside the
    * program; `replayLayers` times those calls one by one.
    */
  def traceBatches(tracer: Tracer, batches: Seq[StreamingQueryProgress], census: Census): Seq[Map[String, Double]] = {
    val jobs = census.jobTimes.asScala.toSeq
    batches.map { p =>
      val ph = progressPhases(p)
      val startNs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val total = ph.getOrElse("triggerExecution", 0.0)
      val op = s"batch-${p.batchId}"
      val bid = tracer.add(0L, "streaming.micro_batch", op, startNs, startNs + (total * 1e6).toLong)
      var at = startNs
      val self = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      Seq("latestOffset" -> "sources", "walCommit" -> "streaming", "getBatch" -> "sources",
        "queryPlanning" -> "streaming", "addBatch" -> "sink", "commitOffsets" -> "streaming").foreach {
        case (phase, layer) =>
          val d = ph.getOrElse(phase, 0.0)
          val end = at + (d * 1e6).toLong
          val sid = tracer.add(bid, s"$layer.$phase", op, at, end)
          if (phase == "addBatch")
            jobs.filter(_._1 == s"graft effects batch ${p.batchId}").foreach { case (_, s, e) =>
              tracer.add(sid, "spark.job", op, s * 1000000L, e * 1000000L)
            }
          self(layer) += d
          at = end
      }
      self.toMap + ("wall" -> total)
    }
  }

  /** How far a batch's per-layer self times may be from its wall time,
    * as a share of the wall time.
    */
  val CoverageTolerance = 0.02

  /** Streaming-side per-layer metrics of the ingest. Each batch whose
    * per-layer self times miss its wall time by more than
    * `CoverageTolerance` is a failed check.
    */
  def streamLayers(res: Result, batches: Seq[StreamingQueryProgress], census: Census,
      tracer: Tracer, msgs: Long, filesWritten: Long, bytesWritten: Long, gcMs: Long,
      log: CheckLog): Unit = {
    val phases = batches.map(progressPhases)
    def med(f: Map[String, Double] => Double) = Probe.median(phases.map(f))
    def g(m: Map[String, Double], k: String) = m.getOrElse(k, 0.0)
    res.metric("sources.get_batch_ms", med(m => g(m, "latestOffset") + g(m, "getBatch")), "ms")
    res.metric("streaming.planning_ms", med(g(_, "queryPlanning")), "ms")
    res.metric("streaming.commit_ms", med(m => g(m, "walCommit") + g(m, "commitOffsets")), "ms")
    res.metric("streaming.add_batch_ms", med(g(_, "addBatch")), "ms")
    res.metric("streaming.state_commit_ms", Probe.median(batches.map(p =>
      p.stateOperators.map(_.commitTimeMs.toDouble).sum)), "ms")
    res.metric("streaming.state_mb", batches.last.stateOperators.map(_.memoryUsedBytes).sum / 1e6, "MB")
    val keys = batches.map(p => s"graft effects batch ${p.batchId}")
    val aggs = keys.map(census.agg)
    res.metric("spark.jobs_per_batch", Probe.median(aggs.map(_.jobs.get.toDouble)), "count")
    res.metric("spark.tasks_per_batch", Probe.median(aggs.map(_.tasks.get.toDouble)), "count")
    res.metric("spark.task_cpu_ms_per_msg", aggs.map(_.cpuNs.get).sum / 1e6 / msgs, "ms")
    res.metric("spark.shuffle_bytes_per_msg", aggs.map(_.shuffleWrite.get).sum.toDouble / msgs, "B")
    res.metric("storage.files_written_per_batch", filesWritten.toDouble / batches.size, "count")
    res.metric("storage.bytes_written_per_msg", bytesWritten.toDouble / msgs, "B")
    res.metric("jvm.gc_ms_per_batch", gcMs.toDouble / batches.size, "ms")
    val self = traceBatches(tracer, batches, census)
    val coverage = self.map(m => (m - "wall").values.sum / math.max(1.0, m("wall")))
    batches.zip(coverage).foreach { case (p, c) =>
      log.expect(math.abs(c - 1.0) <= CoverageTolerance,
        s"batch ${p.batchId}: per-layer self times cover $c of its wall time")
    }
    res.diag("batch_self_time_coverage_min", Json.num(coverage.min))
    res.diag("batch_self_time_coverage_max", Json.num(coverage.max))
    Seq("sources", "streaming", "sink").foreach { l =>
      res.diag(s"self_ms_per_batch.$l", Json.num(Probe.median(self.map(_.getOrElse(l, 0.0)))))
    }
  }

  /** Replays the given spool files as single batches through the layers'
    * public calls with a span around each: the fold
    * (`DeviceStateMachine.processBatch`), `AstarteStore.applyEffects`
    * and `EventSink.publish`, on a scratch store.
    */
  def replayLayers(spark: SparkSession, ctx: Ctx, files: Seq[String], res: Result): Unit = {
    val store = new AstarteStore(s"${ctx.runDir}/replay/store")
    val sink = new EventSink(s"${ctx.runDir}/replay/events")
    val apply = scala.collection.mutable.ArrayBuffer.empty[Double]
    val publish = scala.collection.mutable.ArrayBuffer.empty[Double]
    files.zipWithIndex.foreach { case (f, i) =>
      val op = s"replay-$i"
      val env = WireSource.decodeEnvelopes(spark.read.parquet(f))
      val fx = DeviceStateMachine.processBatch(env, Fleet.registry).cache()
      ctx.tracer.time("streaming.fold", op)(fx.count())
      apply += ctx.tracer.time("storage.apply_effects", op)(store.applyEffects(fx, Fleet.registry))._2
      publish += ctx.tracer.time("events.publish", op)(sink.publish(fx))._2
      fx.unpersist()
    }
    res.metric("storage.apply_effects_ms", Probe.median(apply.toSeq), "ms")
    res.metric("events.publish_ms", Probe.median(publish.toSeq), "ms")
  }

  /** Fold canary: `processBatch(...).count()` over all envelopes of the
    * spool, the repo's earlier ingest headline. Also checks the
    * state machine's discards per reason against the generator.
    */
  def canary(spark: SparkSession, ctx: Ctx, spoolDir: String, truth: Truth, log: CheckLog, res: Result): Unit = {
    val env = WireSource.decodeEnvelopes(spark.read.parquet(spoolDir)).cache()
    val n = env.count()
    log.expect(n == truth.records - truth.discards("missing_header"),
      s"decoded envelopes $n, expected ${truth.records - truth.discards("missing_header")}")
    val fx = DeviceStateMachine.processBatch(env, Fleet.registry)
    val errors = fx.filter(col("kind") === "error").groupBy("detail").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = truth.discards.toMap - "missing_header"
    log.expect(errors == want, s"discards $errors expected $want")
    if (ctx.trace) {
      fx.count()
      val (_, ms) = ctx.tracer.time("streaming.fold_canary", "canary")(fx.count())
      res.metric("streaming.fold_eps", n / (ms / 1000.0), "1/s")
      res.diag("fold_canary_envelopes", n.toString)
    }
    env.unpersist()
  }

  def backlog(spark: SparkSession, ctx: Ctx, res: Result): Unit = {
    val gen = new Generator(ctx.seed)
    val ing = new Ingestion(spark, ctx.runDir)
    val spool = new Spool(spark, ctx.runDir)
    ing.start(WireSource.fileWireSource(spark, spool.dir, maxFilesPerTrigger = 1))
    val warmRecords = WarmupSmall + WarmupFull * BacklogPerFile

    // warm-up batches: untimed, checked with the rest
    spool.publish(spool.stage(gen, 1, WarmupSmall))
    ing.query.processAllAvailable()
    spool.publish(spool.stage(gen, WarmupFull, BacklogPerFile))
    ing.query.processAllAvailable()
    ing.progress.awaitRows(warmRecords)
    val warmBatches = ing.progress.withData.size
    val (files0, bytes0) = ing.onDisk
    val gc0 = Probe.gcMs()

    var timedNs = 0L
    var rounds = 0
    val timedFiles = scala.collection.mutable.ArrayBuffer.empty[String]
    while (rounds == 0 || timedNs < ctx.seconds * 1000000000L) {
      val files = spool.stage(gen, 1, BacklogPerFile)
      timedFiles ++= files.map(p => Paths.get(spool.dir, p.getFileName.toString).toString)
      ctx.markTimed()
      val t0 = System.nanoTime()
      spool.publish(files)
      ing.query.processAllAvailable()
      timedNs += System.nanoTime() - t0
      rounds += 1
    }
    val msgs = rounds.toLong * BacklogPerFile
    ing.progress.awaitRows(warmRecords + msgs)
    val gcMs = Probe.gcMs() - gc0
    val batches = ing.progress.withData.drop(warmBatches)
    ing.stop()
    res.attempted = msgs
    res.metric("throughput_per_s", msgs / (timedNs / 1e9), "1/s")
    val durations = batches.map(p => progressPhases(p).getOrElse("triggerExecution", 0.0))
    res.latency(durations)
    val (files1, bytes1) = ing.onDisk
    res.diag("rounds", rounds.toString)
    res.diag("batch_ms", durations.map(Json.num).mkString("[", ",", "]"))
    res.diag("warmup_batch_ms", ing.progress.withData.take(warmBatches)
      .map(p => Json.num(progressPhases(p).getOrElse("triggerExecution", 0.0))).mkString("[", ",", "]"))

    val log = new CheckLog
    Checks.store(spark, ing.store, ing.sink, gen.truth, log)
    canary(spark, ctx, spool.dir, gen.truth, log, res)
    if (ctx.trace) {
      Reads.measure(spark, ctx, ing.store, gen.truth, log, res)
      streamLayers(res, batches, ctx.census, ctx.tracer, msgs, files1 - files0, bytes1 - bytes0,
        gcMs, log)
    }
    res.check(log)
    if (ctx.trace) {
      replayLayers(spark, ctx, timedFiles.takeRight(3).toSeq, res)
      res.diag("end_to_end_vs_fold_canary",
        Json.num(res.value("throughput_per_s") / res.value("streaming.fold_eps")))
    }
  }
}
