package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.storage.FileIndex

/** Lifecycle soak for the file index: a seeded random interleaving of
  * absorbs, keyed updates, privacy erases, compactions, vacuums, and
  * replayed publish ids, with the table checked against an in-memory
  * row model after EVERY operation. The single-op specs prove each
  * mechanism; this proves the mechanisms compose — the manifest swap
  * discipline has to survive arbitrary operation orders, not just the
  * demo sequence.
  */
class FileIndexSoakSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("25 interleaved lifecycle ops never diverge from the row model") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val Users = 20L

    // model: event_id -> (user_id, cents). value is always n/100 with
    // two decimals, so cents arithmetic is exact on both sides.
    var model = Map.empty[Long, (Long, Long)]
    var nextId = 0L
    def slice(n: Int): Seq[(Long, Long, Long, String, Double, String)] =
      (0 until n).map { _ =>
        val id = nextId; nextId += 1
        val u = rng.nextInt(Users.toInt).toLong
        val cents = (rng.nextInt(9000) + 100).toLong
        model += id -> (u, cents)
        (id, id * 1000000000L, u, "view", cents / 100.0, "{}")
      }

    def df(rows: Seq[(Long, Long, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val firstSlice = slice(120)
    val root = FileIndex.buildRootFrom(spark, df(firstSlice))

    // the append change feed tails the same lifecycle: every absorbed
    // row must arrive exactly once however the maintenance interleaves
    var appended = firstSlice.map(_._1).toSet
    var feedCursor = -1L
    val feedSeen = scala.collection.mutable.Set.empty[Long]
    def pollFeed(tag: String): Unit = {
      val (head, rows) = FileIndex
        .changeFeedState(spark, root, feedCursor)
      val ids = rows.select(col("event_id")).collect().map(_.getLong(0))
      assert(ids.length == ids.distinct.length,
        s"feed emitted a duplicate within one poll after $tag")
      ids.foreach { id =>
        assert(!feedSeen.contains(id),
          s"feed re-emitted row $id after $tag")
        feedSeen += id
      }
      feedCursor = head
    }

    def checkMeta(tag: String): Unit = {
      // metadata-only stats must track the model through every op mix
      // (DV erases leave stale zone counts; the split fold hides that)
      val r = FileIndex.metaStats(spark, root).head()
      assert(r.getLong(0) == model.size.toLong,
        s"metaStats row count diverged after $tag")
      if (model.nonEmpty) {
        assert(r.getLong(1) == model.values.map(_._1).min &&
          r.getLong(2) == model.values.map(_._1).max,
          s"metaStats user bounds diverged after $tag")
        assert(r.getLong(3) == model.keys.min * 1000000L &&
          r.getLong(4) == model.keys.max * 1000000L,
          s"metaStats time bounds diverged after $tag")
      }
      val census = FileIndex.metaTypeCensus(spark, root)
        .collect().map(r2 => r2.getString(0) -> r2.getLong(1)).toMap
      val want =
        if (model.isEmpty) Map.empty[String, Long]
        else Map("view" -> model.size.toLong)
      assert(census == want, s"metaTypeCensus diverged after $tag")
    }

    def check(tag: String): Unit = {
      // the DV-aware read path — merge-on-read erasures must be
      // invisible to every later lifecycle op's observable table
      val pairs = FileIndex.livePairs(spark, root)
      val got =
        if (pairs.isEmpty) Map.empty[Long, (Long, Long)]
        else FileIndex.readPairs(spark, root, pairs)
          .select(col("event_id"), col("user_id"),
            round(col("value") * 100).cast("long").as("cents"))
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
      assert(got == model, s"table diverged from the model after $tag " +
        s"(got ${got.size} rows, model ${model.size})")
    }

    check("corpus build")
    var opN = 0
    for (_ <- 1 to 25) {
      opN += 1
      val op = rng.nextInt(8)
      op match {
        case 0 | 1 => // absorb a fresh slice
          val rows = slice(30 + rng.nextInt(40))
          assert(FileIndex.absorb(
            spark, root, df(rows), s"inc-$opN"))
          appended ++= rows.map(_._1)
          check(s"absorb inc-$opN")
        case 2 => // keyed update to a fresh constant
          val u = rng.nextInt(Users.toInt).toLong
          val cents = (rng.nextInt(9000) + 100).toLong
          assert(FileIndex.updateUser(
            spark, root, u, cents / 100.0, s"upd-$opN"))
          model = model.map { case (id, (mu, mc)) =>
            id -> (mu, if (mu == u) cents else mc) }
          check(s"update u=$u upd-$opN")
        case 3 => // privacy erase
          val u = rng.nextInt(Users.toInt).toLong
          assert(FileIndex.erase(
            spark, root, u, s"erase-$opN"))
          model = model.filter { case (_, (mu, _)) => mu != u }
          check(s"erase u=$u erase-$opN")
        case 4 => // compaction (may be a no-op with one live gen)
          FileIndex.compact(spark, root)
          check(s"compact at op $opN")
        case 5 => // vacuum dead files mid-lifecycle
          FileIndex.vacuum(spark, root)
          check(s"vacuum at op $opN")
        case 6 => // size-tiered fold of small generations (often no-op)
          FileIndex.compactTier(
            spark, root, 40L + rng.nextInt(100))
          check(s"compactTier at op $opN")
        case 7 => // merge-on-read erase: deletion vectors, no rewrite
          val u = rng.nextInt(Users.toInt).toLong
          assert(FileIndex.eraseDv(
            spark, root, u, s"dve-$opN"))
          model = model.filter { case (_, (mu, _)) => mu != u }
          check(s"eraseDv u=$u dve-$opN")
      }
      // the feed tails every op; metadata stats re-check every third
      pollFeed(s"op $opN")
      if (opN % 3 == 0) checkMeta(s"op $opN")
      // replay an already-used publish id occasionally: must be a
      // ledger no-op whatever the original op was ("corpus" is always
      // in the ledger from the initial build)
      if (opN % 7 == 0) {
        assert(!FileIndex.absorb(
          spark, root, df(slice(0)), "corpus"),
          "replayed publish id was re-absorbed")
        check(s"replay at op $opN")
      }
    }
    assert(model.nonEmpty, "soak erased everything — weak coverage")
    pollFeed("final")
    assert(feedSeen.toSet == appended,
      s"the feed union is not exactly the appended rows " +
        s"(missing ${(appended -- feedSeen).size}, " +
        s"extra ${(feedSeen.toSet -- appended).size})")
    checkMeta("final")
  }
}
