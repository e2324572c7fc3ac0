package graft
import java.net.URI
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession
import graft.storage.{ForkFreeLocalFileSystem, ForkFreeLocalFs}

/** The ONE local SparkSession builder shared by every runner (Bench,
  * Verify, and perfbench's workloads) so measurement tools always see
  * the exact production plans — a config tuned in the bench can never
  * silently diverge from what Verify checks.
  *
  * Each setting is a constant with its LOCAL value inline and the
  * production (100 TB, remote object storage) value documented beside
  * it; only the core count is read from the environment.
  *
  * The local `file:` filesystem is graft's fork-free one
  * ([[graft.storage.ForkFreeRawLocalFileSystem]]): `fs.file.impl` for
  * `FileSystem` users (the store's task writers, its staged commits and
  * maintenance) and `fs.AbstractFileSystem.file.impl` for `FileContext`
  * users (Spark's offset and commit logs, state-store deltas). The Spark
  * distribution ships no `libhadoop`, so Hadoop's stock local filesystem
  * starts a `chmod` process for every file and directory it creates and
  * a `readlink` process per `FileContext` rename: about 130 processes
  * per ingest micro-batch, each blocking its thread for 3–5 ms. Both
  * classes stay checksummed like the stock ones. In production (HDFS,
  * S3) the two keys do nothing: they name the `file:` scheme only.
  *
  * Hadoop caches one `FileSystem` per scheme and user, not per conf, so
  * the first `FileSystem.get` of a `file:` path in the JVM decides which
  * class every later session gets. [[build]] fails when that instance
  * is not graft's, rather than measure the stock filesystem unnoticed.
  */
object GraftSession {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Every config [[build]] sets besides the `local[nCpus]` master. */
  def settings(nCpus: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> nCpus,
    // Per-file open cost for scan-split packing (guide §6). Spark's
    // 4 MB default models remote-FS open/seek latency; it ALSO floors
    // maxSplitBytes at 4 MB (maxSplit = min(maxPartitionBytes,
    // max(openCost, bytesPerCore))). r17 dropped it to 64 KB to pack
    // the store's ~60 KB files into fewer tasks — but the one-variable
    // full-suite A/B this round (r18 §2: 82.8 -> 71.7 s min-total,
    // geomean 0.83, and the fx_ family ITSELF 11.0 -> 9.5 s) showed
    // the 64 KB floor was fragmenting every normal table scan into
    // sub-MB splits, a uniform ~15% tail tax — the r17 fx_ win had
    // actually come from the parallelPartitionDiscovery threshold
    // below. Spark's 4 MB stays; the store's small files still pack
    // ~6-per-split through the bytesPerCore term.
    "spark.sql.files.openCostInBytes" -> "4194304",
    // Distributed partition-discovery kicks in above 32 root paths
    // (a pruned store read passes one path per live file),
    // launching a one-task-per-directory listing JOB before every
    // such scan — pure scheduling overhead against a local FS where
    // the driver lists thousands of dirs in microseconds. Against
    // slow object storage at 100 TB export a lower threshold (the
    // Spark default 32) so listing parallelizes.
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "4096",
    "spark.sql.adaptive.enabled" -> "true",
    // Coalesce post-shuffle partitions to the ADVISORY SIZE instead
    // of pinning to the session core count (r17, guide §2.2 "fewer,
    // larger reduce partitions"): parallelismFirst=true (the Spark
    // default) special-cases LOCAL parallelism — every tiny exchange
    // stays at `cpus` partitions and pays `cpus` fixed task costs;
    // false is what Spark's own tuning docs recommend once
    // partitions are sized in bytes, and it is scale-adaptive by
    // construction. Re-confirmed r18 by one-variable full-suite A/B:
    // flipping back to true read total 82.8 -> 84.2 s (geomean 1.03).
    //
    // No floor on post-shuffle coalescing (r18): with parallelismFirst
    // off, minNumPartitions defaults to 1, so every exchange under the
    // 64 MB advisory collapses toward ONE task (targetSize =
    // max(min(total/minNum, advisory), 1 MB minPartitionSize)) — which
    // serializes heavy downstream work on 1–64 MB exchanges (the
    // dd_source_overlap class r17 regressed). A GLOBAL floor was
    // A/B-measured this round and REJECTED: full suite with floor=8
    // read geomean 1.085 vs no floor (the dd_ heavies gained 13–24%
    // but ~100 small queries with light-downstream 1–8 MB exchanges
    // paid 5–40% in pure task overhead — AQE sizes by exchange bytes
    // and cannot see downstream per-row work). minPartitionNum is
    // therefore left UNSET (pure advisory coalescing); the dd_-family
    // queries whose downstream work is heavy set the floor PER QUERY
    // via QueryPack.withCoalesceFloor.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    // let AQE re-coalesce CACHED plan output: the dedup pipeline
    // caches its 260k-row shingle/band tables, and without this the
    // cache pins scan-sized shuffle partitioning on every consumer
    // (the clusterers' dominant overhead at sf0.1 — 2.1s -> 0.5s on
    // the Jaccard-verify stage alone)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // Older testdata generations carried TIMESTAMP(NANOS), which
    // Spark's vectorized reader rejects without this; current data
    // is timestamp[us]. Either way Tables.events normalizes ts to
    // the canonical epoch-nanos long.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // no OS process per local file (see the object's doc); HDFS and S3
    // paths never reach these classes
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  def build(): SparkSession = {
    val nCpus = cpus
    val spark = settings(nCpus)
      .foldLeft(SparkSession.builder().master(s"local[$nCpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    val conf = spark.sparkContext.hadoopConfiguration
    val local = FileSystem.get(URI.create("file:///"), conf)
    val contextFs = conf.get("fs.AbstractFileSystem.file.impl")
    if (!local.isInstanceOf[ForkFreeLocalFileSystem] ||
        contextFs != classOf[ForkFreeLocalFs].getName)
      throw new IllegalStateException(
        s"the JVM's file: filesystem is ${local.getClass.getName} and its " +
        s"FileContext filesystem $contextFs, not graft's: a FileSystem or " +
        "SparkSession created before GraftSession.build() fixed them")
    spark
  }
}
