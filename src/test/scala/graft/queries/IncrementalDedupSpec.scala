package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

/** The incremental dedup contract: the increment path must (a) scan
  * the increment's text exactly once, (b) never touch the corpus's
  * text — everything corpus-sided reads the persisted signature
  * tables — and (c) emit verdicts identical to running the same logic
  * against freshly-computed corpus frames (store round-trip fidelity;
  * the cross-engine from-scratch equivalence is the DuckDB oracle's
  * job).
  */
class IncrementalDedupSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.sql.maxMetadataStringLength", "2000")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("bandsOf (codegen min-aggregate form) equals the streaming column form") {
    import spark.implicits._
    // The batch path (bandsOf), the streaming path (bandKeyArrayOf)
    // and the DuckDB oracle must all produce the same band keys, or
    // stream-vs-corpus candidate sets silently drift. bandsOf explodes
    // the streaming column itself, so the expected keys are computed
    // independently here, from the key definition: band b of a doc is
    // md5(lang || '|' || mins b·rows .. b·rows+rows−1 joined by ','),
    // where min i is the doc's smallest shingle hash XOR seed i.
    val docs = (0 until 200).map { i =>
      (i.toLong, (0 to i % 7 + 3).map(j => s"tok${(i * 31 + j) % 97}")
        .mkString(" "), if (i % 3 == 0) "en" else "de", "web", 40L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val arrs = DedupPipeline.shingleArraysOf(docs)
    val perDoc = arrs.collect().map { r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[collection.Seq[Long]]("arr"))
    }
    def md5Hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    for ((nb, nr) <- Seq((2, 4), (3, 5))) {
      val expected = perDoc.flatMap { case (id, lang, arr) =>
        val mins = MinhashSeeds.keys.map(k => arr.map(_ ^ k).min)
        (0 until nb).map { b =>
          (id, md5Hex(lang + "|" + mins.slice(b * nr, b * nr + nr).mkString(",")))
        }
      }.sorted.toSeq
      val actual = DedupPipeline.bandsOf(arrs, nb, nr)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(actual == expected, s"band keys drifted at banding ($nb, $nr)")
      assert(actual.size == perDoc.length * nb && actual.nonEmpty)
    }
  }

  test("banding scales with corpus size, persists, and increments replay it") {
    import spark.implicits._
    // the pure derivation — the thresholds the oracle SQL mirrors
    assert(IncrementalDedup.bandingOf(400) == (2, 4))
    assert(IncrementalDedup.bandingOf(2000) == (2, 4))
    assert(IncrementalDedup.bandingOf(2001) == (3, 5))
    assert(IncrementalDedup.bandingOf(20001) == (4, 6))

    def docsOf(ids: Range) = ids.map { i =>
      (i.toLong, s"alpha$i beta$i gamma$i delta$i", "en", "web", 40L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")

    // a 2500-doc corpus lands in the (3, 5) tier, PERSISTED at build
    val big = IncrementalDedup.SignatureStore
      .buildRootFrom(spark, docsOf(0 until 2500))
    assert(IncrementalDedup.SignatureStore.banding(spark, big) == (3, 5))
    val perDoc = spark.read.parquet(
        IncrementalDedup.SignatureStore.bandsPath(big))
      .groupBy(col("doc_id")).count()
      .select(col("count")).distinct().collect().map(_.getLong(0)).toSet
    assert(perDoc == Set(3L), s"corpus bands per doc: $perDoc")

    // an absorbed increment bands under the PERSISTED scheme, not
    // its own size's tier — the replay discipline
    IncrementalDedup.SignatureStore.absorb(big,
      DedupPipeline.shingleArraysOf(docsOf(10000 until 10020)))
    val incPerDoc = spark.read.parquet(
        IncrementalDedup.SignatureStore.bandsPath(big))
      .filter(col("doc_id") >= 10000L)
      .groupBy(col("doc_id")).count()
      .select(col("count")).distinct().collect().map(_.getLong(0)).toSet
    assert(incPerDoc == Set(3L), s"increment bands per doc: $incPerDoc")

    // a small corpus keeps the historical (2, 4); a root with no
    // banding file (pre-scaling layout) defaults to it too
    val small = IncrementalDedup.SignatureStore
      .buildRootFrom(spark, docsOf(0 until 100))
    assert(IncrementalDedup.SignatureStore.banding(spark, small) == (2, 4))
    val legacy =
      java.nio.file.Files.createTempDirectory("graft-legacysig").toString
    assert(IncrementalDedup.SignatureStore.banding(spark, legacy) == (2, 4))
  }

  test("the increment's signature lineage scans documents once, filtered to the increment") {
    val p = IncrementalDedup.incrementArrs(spark, dir)
      .queryExecution.executedPlan.toString()
    val scans = "documents\\.parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected exactly one documents scan, got $scans:\n$p")
    assert(p.contains("% 10) >= 8"),
      s"increment predicate missing above the documents scan:\n$p")
  }

  test("dd_incremental's plan reads persisted signatures, never corpus text") {
    val df = SparkEntry.queries("dd_incremental")(spark, dir)
    val p = df.queryExecution.executedPlan.toString()
    // the increment's text work happened behind its one checkpoint;
    // the corpus side must come exclusively from the signature store
    assert(!p.contains("documents.parquet"),
      s"corpus/increment text re-scanned in the incremental plan:\n$p")
    assert(p.contains("dedup_bands"), "persisted band table not in plan")
    assert(p.contains("dedup_signatures"),
      "persisted signature table not in plan")
  }

  test("a small increment's bands serve from a local relation") {
    // the serve path's measured residual was driver-job latency, so a
    // broadcast-sized increment folds checkpoint + cap census +
    // broadcast build into the ONE collect that fetched its bands —
    // both candidate legs then read a LocalTableScan (free to
    // broadcast, no job per exchange). The gate reads the session's
    // autoBroadcastJoinThreshold (it IS the declared driver budget;
    // -1 = operator forbade broadcasts and the distributed shape
    // stays), so pin the default here — the shared test session may
    // arrive with broadcasts disabled by an earlier suite
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10485760L)
    try {
      val df = SparkEntry.queries("dd_incremental")(spark, dir)
      val p = df.queryExecution.executedPlan.toString()
      assert(p.contains("LocalTableScan"),
        s"small increment bands should plan as a local relation:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("store-backed verdicts match directly-computed corpus frames") {
    val inc = IncrementalDedup.incrementArrs(spark, dir).localCheckpoint(true)
    val corpus = Tables.documents(spark, dir).filter(col("doc_id") % 10 < 8)
    val corpArrs = DedupPipeline.shingleArraysOf(corpus).localCheckpoint(true)
    val direct = IncrementalDedup
      .incrementalVerdicts(inc, DedupPipeline.bandsOf(corpArrs), corpArrs)
      .collect().toSeq
    val stored = SparkEntry.queries("dd_incremental")(spark, dir)
      .collect().toSeq
    assert(stored == direct,
      s"store round-trip changed verdicts:\nstored=$stored\ndirect=$direct")
    // non-trivial on this data: at least one increment doc must be a
    // dup (a verdict column that is constant would pass trivially)
    assert(stored.exists(_.getAs[String]("verdict") == "dup"),
      "expected at least one dup verdict in the sf0.001 increment")
  }

  test("bucketized band table: the corpus side of the candidate join plans shuffle-free") {
    val root = IncrementalDedup.SignatureStore.rootFor(spark, dir)
    val table = IncrementalDedup.SignatureStore.bucketizeBands(spark, root)
    val incBands = DedupPipeline.bandsOf(
      IncrementalDedup.incrementArrs(spark, dir).localCheckpoint(true))
    // at TEST scale the corpus table is tiny, so the planner rightly
    // broadcasts it and skips the bucketed scan; the layout exists
    // for the corpus-scale regime where broadcast is impossible —
    // pin THAT shape by disabling broadcast, as a 100 TB table does
    // by its size
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // shuffle the SMALL increment side into the bucket
      // partitioning; the corpus band scan joins with no Exchange
      val cand = incBands
        .repartition(8, col("band_key"))
        .join(spark.table(table).select(col("doc_id").as("other_id"),
          col("band_key")), Seq("band_key"))
      val p = cand.queryExecution.executedPlan.toString()
      assert(p.contains("Bucketed: true"),
        s"corpus bands must come from the bucketed layout:\n$p")
      val exchanges = "Exchange".r.findAllIn(p).size
      assert(exchanges == 1,
        s"only the increment side may shuffle (found $exchanges):\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("absorb completes the delta cycle: increment N becomes state for increment N+1") {
    // fresh store seeded with the corpus, then two successive
    // increments: absorb the first, judge the second against
    // corpus + first — and the second judgement must match running
    // incrementalVerdicts directly over the union of both frames
    val root = java.nio.file.Files.createTempDirectory("graft-absorb").toString
    val corpus = Tables.documents(spark, dir).filter(col("doc_id") % 10 < 8)
    val corpArrs = DedupPipeline.shingleArraysOf(corpus).localCheckpoint(true)
    graft.storage.AstarteStore.appendAtomic(corpArrs,
      IncrementalDedup.SignatureStore.signaturesPath(root))
    graft.storage.AstarteStore.appendAtomic(DedupPipeline.bandsOf(corpArrs),
      IncrementalDedup.SignatureStore.bandsPath(root))

    val inc1 = IncrementalDedup.incrementArrs(spark, dir)
      .filter(col("doc_id") % 10 === 8).localCheckpoint(true)
    val inc2 = IncrementalDedup.incrementArrs(spark, dir)
      .filter(col("doc_id") % 10 === 9).localCheckpoint(true)
    IncrementalDedup.SignatureStore.absorb(root, inc1)

    val viaStore = IncrementalDedup.incrementalVerdicts(inc2,
      spark.read.parquet(IncrementalDedup.SignatureStore.bandsPath(root)),
      spark.read.parquet(IncrementalDedup.SignatureStore.signaturesPath(root)))
      .collect().toSeq
    val unionArrs = corpArrs.unionByName(inc1).localCheckpoint(true)
    val direct = IncrementalDedup.incrementalVerdicts(inc2,
      DedupPipeline.bandsOf(unionArrs), unionArrs).collect().toSeq
    assert(viaStore == direct,
      s"absorbed state diverged from the union:\n$viaStore\nvs\n$direct")
  }

  test("incrementalComponents: transitive merges, fresh singletons, untouched comps") {
    import spark.implicits._
    // persisted corpus labels: {1,2,3} -> 1, {10,11} -> 10, {20,21} -> 20
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L)).toDF("doc_id", "cluster")
    // increment edges: doc 105 bridges components 1 and 10 AND a
    // corpus doc 55 that had no corpus edges (a fresh singleton);
    // docs 106/107 pair only with each other
    val pairs = Seq(
      (105L, 2L, false), (105L, 11L, false), (105L, 55L, false),
      (107L, 106L, true))
      .toDF("doc_id", "other_id", "other_inc")
    val got = IncrementalDedup.incrementalComponents(spark, labels, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L, // merged via 105
      55L -> 1L, 105L -> 1L, // bridge + fresh singleton join the merge
      20L -> 20L, 21L -> 20L, // untouched component keeps its label
      106L -> 106L, 107L -> 106L) // increment-only pair
    assert(got == want, s"merged labels diverged:\n$got\nvs\n$want")
  }

  test("label delta cycle: absorbed labels make increment 2 match the batch fixpoint") {
    val root = IncrementalDedup.SignatureStore.buildRootFrom(
      spark, Tables.documents(spark, dir).filter(col("doc_id") % 10 < 8))
    def pairsOf(inc: org.apache.spark.sql.DataFrame) =
      IncrementalDedup.incrementalPairs(inc,
        spark.read.parquet(IncrementalDedup.SignatureStore.bandsPath(root)),
        spark.read.parquet(
          IncrementalDedup.SignatureStore.signaturesPath(root)))
        .localCheckpoint(true)
    val inc1 = IncrementalDedup.incrementArrs(spark, dir)
      .filter(col("doc_id") % 10 === 8).localCheckpoint(true)
    val cc1 = IncrementalDedup.incrementalComponents(spark,
      IncrementalDedup.SignatureStore.ccLabels(spark, root), pairsOf(inc1))
    IncrementalDedup.SignatureStore.absorbCc(root, cc1)
    IncrementalDedup.SignatureStore.absorb(root, inc1)

    val inc2 = IncrementalDedup.incrementArrs(spark, dir)
      .filter(col("doc_id") % 10 === 9).localCheckpoint(true)
    val cc2 = IncrementalDedup.incrementalComponents(spark,
      IncrementalDedup.SignatureStore.ccLabels(spark, root), pairsOf(inc2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the batch fixpoint over ALL docs — what two chained increments
    // must reproduce exactly
    val batch = SparkEntry.queries("dd_cc_converged")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc2 == batch,
      s"chained incremental labels diverged from the batch fixpoint")
    assert(cc2.nonEmpty)
    // replayed label absorb: the min-fold makes it a no-op
    val foldedBefore = IncrementalDedup.SignatureStore.ccLabels(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    IncrementalDedup.SignatureStore.absorbCc(root, cc1)
    val foldedAfter = IncrementalDedup.SignatureStore.ccLabels(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(foldedAfter == foldedBefore,
      "replayed label absorb changed the folded label table")
  }
}
