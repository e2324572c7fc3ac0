package graftbench

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** Passes over the flat analytics heavies on the fixed corpus. Results
  * are dumped for the DuckDB oracle, which `perfbench/run.py` runs after
  * the JVM exits; every timed execution must reproduce the dumped rows.
  */
object Analytics {
  /** One of the ROADMAP's flat heavies: the end-to-end corpus pipeline
    * (admission gate, decontamination, sequence packing). Each further
    * heavy adds 5-25 s of warm-up and 3-6 s per pass on a 4-core host,
    * more than a run's time budget holds (see perfbench/README.md).
    */
  val Heavies = Seq("pipe_corpus_windows")

  /** Untimed, checked warm-up passes. The first builds lazy roots and
    * pays code generation; the JIT keeps speeding the query up for a few
    * passes after that. With two warm-up passes, pass times still fell
    * by a fifth within the timed region, so a run's median depended on
    * how many passes it fitted.
    */
  val WarmupPasses = 4

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def run(spark: SparkSession, ctx: Ctx, res: Result): Unit = {
    val queries = SparkEntry.queries
    val log = new CheckLog
    val out = s"${ctx.runDir}/analytics"
    val reference = scala.collection.mutable.Map.empty[String, String]

    def execute(q: String, group: String): Double = {
      val t0 = ctx.tracer.nowNs
      val (df, rows) = Groups.run(spark, group) {
        val df = queries(q)(spark, ctx.dataDir)
        (df, df.collect())
      }
      val t1 = ctx.tracer.nowNs
      val d = digest(rows)
      reference.get(q) match {
        case None =>
          reference(q) = d
          // the first execution's rows go to the oracle
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
            .coalesce(1).write.parquet(s"$out/$q")
        case Some(want) =>
          log.expect(d == want, s"$q: rows differ from the oracle-checked execution")
      }
      if (!group.startsWith("warm")) ctx.tracer.add(0L, s"queries.$q", group, t0, t1)
      (t1 - t0) / 1e6
    }

    for (w <- 0 until WarmupPasses; q <- Heavies) execute(q, s"warm$w:$q")
    ctx.markTimed()
    val passMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val perQuery = Heavies.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    while (passMs.isEmpty || passMs.sum < ctx.seconds * 1000.0) {
      val p = passMs.size
      passMs += Heavies.map { q =>
        val ms = execute(q, s"pass$p:$q")
        perQuery(q) += ms
        ms
      }.sum
    }
    val n = passMs.size * Heavies.size
    res.attempted = n
    res.metric("throughput_per_s", n / (passMs.sum / 1000.0), "1/s")
    res.latency(passMs.toSeq)
    res.diag("passes", passMs.size.toString)
    res.diag("pass_ms", passMs.map(Json.num).mkString("[", ",", "]"))
    val oracle = SparkEntry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Heavies.map(q => s"${Json.str(q)}:${Json.str(oracle(q))}").mkString("{", ",", "}"))
    res.check(log)
    if (ctx.trace) Heavies.foreach { q =>
      val aggs = (0 until passMs.size).map(p => ctx.census.agg(s"pass$p:$q"))
      def per(f: Census#Agg => Double) = aggs.map(f).sum / aggs.size
      res.metric(s"queries.$q.ms", Probe.median(perQuery(q).toSeq), "ms")
      res.metric(s"queries.$q.jobs", per(_.jobs.get.toDouble), "count")
      res.metric(s"queries.$q.tasks", per(_.tasks.get.toDouble), "count")
      res.metric(s"queries.$q.task_cpu_ms", per(_.cpuNs.get / 1e6), "ms")
      res.metric(s"queries.$q.shuffle_mb", per(_.shuffleWrite.get / 1e6), "MB")
    }
  }
}
