package graft
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBridge

/** The one query timing and profiling harness, on [[GraftSession]]:
  * per-query timings and a jobs/stages/tasks/task-time census, plus
  * the ingest fold canary. End-to-end ingest is measured by
  * `python3 perfbench/run.py --workload ingest_backlog [--trace 1]`.
  */
object Bench {

  /** Ingest fold canary: events/second through the device state
    * machine (decode → validate → resolve → trigger match → effects)
    * over the events table — `processBatch(...).count()` only, no
    * source, store or publish.
    */
  private def ingestEps(spark: SparkSession, sfDir: String): Double = {
    import spark.implicits._
    import graft.core._, graft.core.AstarteValueType._
    import graft.streaming._
    import graft.triggers._
    val ifaceName = "com.bench.EventStream"
    val registry = Registry(
      Map(ifaceName -> InterfaceDescriptor(ifaceName, 1, 0,
        InterfaceType.Datastream, Ownership.Device, Aggregation.Individual)),
      Map(ifaceName -> Seq(Mapping(ifaceName, 1, "/%{type}/value", ADouble))),
      Seq(Trigger("t-gt", TriggerEventType.IncomingData,
        TriggerScope.OnInterface(ifaceName, 1), Some("/purchase/value"),
        MatchOperator.GreaterThan, 150.0, List("amqp://high-purchase"))))
    // Through Tables.events so ts arrives under the canonical
    // epoch-nanos-long contract regardless of the parquet's physical
    // timestamp encoding (see Tables.normalizeTs).
    val events = graft.queries.Tables.events(spark, sfDir)
    // Columnar envelope construction: the whole input adapter — device
    // id, path, BSON payload — is codegen'd column work that fuses
    // with the ingest precompute into one whole-stage span over the
    // scan (no row-at-a-time lambda on the hot path).
    import org.apache.spark.sql.functions._
    val envelopes = events.select(
      lit("bench").as("realm"),
      concat(lit("device-"), col("user_id")).as("deviceId"),
      lit("data").as("msgType"),
      lit(ifaceName).as("iface"),
      concat(lit("/"), col("event_type"), lit("/value")).as("path"),
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.BsonEncodeV(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("value"))))
        .as("payload"),
      expr("ts div 1000 * 10").as("receptionDecimicros"),
      lit("10.0.0.1").as("ipAddress"),
      col("event_id").as("offset")).as[Envelope]
    val n = events.count()
    // Plan once, execute repeatedly: a production ingest is a standing
    // stream whose plan + generated code are built once and run per
    // micro-batch forever — timing re-planning on every run would
    // measure the driver's analyzer, not the engine. The min over
    // executions of the ONE plan reflects that steady state (run 1
    // still pays codegen compilation + parquet first-touch).
    val fx = DeviceStateMachine.processBatch(envelopes, registry)
      .filter(_.kind == "datastream_append")
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      fx.count()
      (System.nanoTime() - t0) / 1e9
    }
    n / times.min
  }
  /** Jobs, stages, tasks and summed task time per job description —
    * separates driver-scheduling-bound queries (many tiny jobs) from
    * data-bound ones (few jobs, big task time). */
  private final class Census extends SparkListener {
    final class Agg { val jobs, stages, tasks, taskMs = new AtomicLong }
    private val byKey = new ConcurrentHashMap[String, Agg]()
    private val stageKey = new ConcurrentHashMap[Int, String]()
    def agg(key: String): Agg = byKey.computeIfAbsent(key, _ => new Agg)
    private def ofStage(id: Int): Agg = agg(stageKey.getOrDefault(id, "none"))
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val k = Option(e.properties)
        .map(_.getProperty("spark.job.description", "none")).getOrElse("none")
      agg(k).jobs.incrementAndGet()
      e.stageIds.foreach(stageKey.put(_, k))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val a = ofStage(e.stageInfo.stageId)
      a.stages.incrementAndGet(); a.tasks.addAndGet(e.stageInfo.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null) ofStage(e.stageId).taskMs.addAndGet(e.taskInfo.duration)
  }

  private def readLoadavg(): String = try {
    scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(" ").take(3).mkString(",")
  } catch { case _: Throwable => "" }

  def main(args: Array[String]): Unit = {
    // wall-clock for the whole bench JVM: lets a loaded host be told
    // apart from a code regression when per-query numbers move
    val wallT0 = System.nanoTime()
    // loadavg BEFORE the suite: the bench's own 32 threads push the
    // end-of-run loadavg up, so only the start snapshot can prove the
    // host was idle when the run began
    val loadavgStart = readLoadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    // all session config lives in GraftSession so Bench times the
    // exact plans Verify checks
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("WARN")
    // UNTIMED warm-up pass over EVERY query — not just one: several
    // packs lazily build on-disk store roots (file index, sketch log,
    // lex index, band store) on first touch, and charging that build
    // to whichever query runs first made identical-code totals swing
    // 20%+ between rounds. The warm-up also pays codegen compilation
    // and parquet footer first-touch, so the timed region measures
    // steady-state latency only.
    // Optional comma-separated name-prefix filter for micro-bench
    // iteration (e.g. SPARK_GRAFT_BENCH_PREFIXES=dd_incremental,fx_).
    // Unset (the driver's case) = the full suite, unchanged.
    val prefixes = sys.env.get("SPARK_GRAFT_BENCH_PREFIXES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      prefixes.forall(_.exists(n.startsWith))
    }
    // A query that fails here is named on stderr, skips its timed runs
    // and is recorded as -1.
    def attempt(name: String, what: String)(run: => Any): Boolean =
      try { run; true } catch { case e: Throwable =>
        System.err.println(s"[bench] $name $what failed: $e"); false }
    val warm = selected.collect {
      case (name, fn) if attempt(name, "warm-up")(fn(spark, sfDir).count()) => name
    }.toSet
    // CONSECUTIVE timed runs per query, first run discarded. Two
    // sampling designs were A/B-measured on one idle host, same code:
    // round-robin interleaving (each query's samples spread minutes
    // apart, the obvious fix for correlated GC bursts) read 121/140 s
    // totals with only 67% pair agreement on the min estimator,
    // because revisiting a query after ~200 others evicts its working
    // set — every sample pays cold-cache costs and those costs are
    // the noise; consecutive sampling on the same host read 83 s with
    // the historical agreement. Measured, then designed out:
    // consecutive stays. The remaining tail (sub-second queries whose
    // FIRST consecutive sample absorbs the PREVIOUS query's cache/GC
    // wake) is cut by timing six runs and discarding the first, so
    // the estimators see only samples taken inside the query's own
    // steady state. MEDIAN of the kept five = the reported number
    // (rejects up to two hiccups); MIN rides along as `queries_min`
    // (the floor estimate — compare with tools/bench_compare.py
    // --key). Per-query 1-min loadavg makes a loaded entry
    // attributable, not just a loaded run. The discarded first run
    // also takes the query's census: the listener is attached around
    // that run alone and its jobs carry the query's description, so
    // the five kept samples run exactly as without it.
    val loadavgOf = () => readLoadavg().split(",").headOption.getOrElse("")
    val census = new Census
    val sc = spark.sparkContext
    val results = selected.map { case (name, fn) =>
      val load = loadavgOf()
      def timed(first: Boolean): Double = {
        if (first) { sc.addSparkListener(census); sc.setJobDescription(s"bench $name") }
        val t0 = System.nanoTime()
        val ok = attempt(name, "timed run")(fn(spark, sfDir).count())
        val t = (System.nanoTime() - t0) / 1e9
        if (first) { sc.setJobDescription(null); ListenerBridge.drain(sc); sc.removeSparkListener(census) }
        if (ok) t else -1.0
      }
      val times =
        if (warm(name)) (1 to 6).map(i => timed(i == 1)).drop(1) else Seq(-1.0)
      val (t, tMin) =
        if (times.contains(-1.0)) (-1.0, -1.0)
        else (times.sorted.apply(2), times.min)
      (name, t, tMin, load)
    }
    // millisecond precision: sub-ms digits are noise and the shorter
    // line survives log-tail truncation in downstream artifact capture
    def fmt(sel: ((String, Double, Double, String)) => Double) =
      results.map { t =>
        val v = sel(t)
        s"\"" + t._1 + "\":" + (if (v < 0) v else math.round(v * 1000) / 1000.0)
      }.mkString("{", ",", "}")
    val qs = fmt(_._2)
    val qmin = fmt(_._3)
    val qload = results.map { t =>
      s"\"" + t._1 + "\":\"" + t._4 + "\""
    }.mkString("{", ",", "}")
    val qcensus = selected.collect { case (n, _) if warm(n) =>
      val a = census.agg(s"bench $n")
      s""""$n":{"jobs":${a.jobs.get},"stages":${a.stages.get},""" +
        s""""tasks":${a.tasks.get},"task_ms":${a.taskMs.get}}"""
    }.mkString("{", ",", "}")
    val failed = results.collect { case (n, t, _, _) if t < 0 => n }
    val total =
      math.round(results.map(_._2).filter(_ >= 0).sum * 1000) / 1000.0
    val eps =
      if (prefixes.isDefined) -1L // filtered micro-bench: skip ingest
      else try math.round(ingestEps(spark, sfDir)) catch { case e: Throwable =>
        System.err.println(s"[bench] ingest fold canary failed: $e"); -1L }
    val wall = (System.nanoTime() - wallT0) / 1e9
    // host-load snapshots: wall_sec alone can't tell a loaded box
    // from a code regression — record 1/5/15-min loadavg at both ends
    // (start = was the host idle; end = what the suite itself did)
    val loadavg = readLoadavg()
    // TWO outputs, split by channel capacity (r18 fix — the driver
    // keeps only a ~2 KB stdout tail, and the r17 line had grown to
    // ~16 KB with diagnostics, so PERF_r17.per_query came out empty):
    //  * stdout gets ONE COMPACT line — metric/value/unit/queries/sf
    //    only, nothing after it — the contract fields and nothing else;
    //  * the durable file gets the same fields PLUS every diagnostic
    //    (min estimator, loadavg maps, per-query census, ingest, wall,
    //    cpu count).
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    val jsonFull = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"ingest_events_per_sec":$eps,"wall_sec":$wall,"cpus":$cpus,"loadavg":"$loadavg","loadavg_start":"$loadavgStart","queries_min":$qmin,"loadavg_per_query":$qload,"census":$qcensus,"sf":"$sfDir"}"""
    println(json)
    // durable copy with every entry, immune to stdout-tail truncation.
    // Lands in the working directory (or SPARK_GRAFT_BENCH_OUT) so a
    // checkout elsewhere never clobbers an unrelated absolute path;
    // a failed write warns instead of vanishing. The default name
    // carries the core count so the driver's low-core scaling rerun
    // can never clobber the main run's numbers (r17 lost its 32-core
    // per-query map exactly this way).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"BENCH_LATEST_c$cpus.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath).toAbsolutePath, jsonFull + "\n")
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: $e")
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
