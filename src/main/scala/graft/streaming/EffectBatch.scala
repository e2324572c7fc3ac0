package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** One batch of effects, persisted once, and its census: the effect
  * kinds it holds and the `(iface, major)` pairs of its object
  * appends. Every sink plans its writes from the census and reads its
  * rows from the one materialization, so the fold behind a streaming
  * micro-batch runs once however many tables the batch touches.
  */
final class EffectBatch private (
    val rows: Dataset[EffectRow],
    val kinds: Set[String],
    val objectTables: Seq[(String, Int)]) {
  def has(kind: String): Boolean = kinds(kind)
}

object EffectBatch {

  /** Persist `effects` (unless the caller already did), take the census
    * and run `body`; unpersist when `body` returns, so `body` must not
    * return before its writes have ended. The census is a single
    * job that adds no shuffle, and is also the job that fills the cache.
    */
  def cached[T](effects: Dataset[EffectRow])(body: EffectBatch => T): T = {
    val owned = effects.storageLevel == StorageLevel.NONE
    if (owned) effects.persist()
    try {
      import effects.sparkSession.implicits._
      val keys = effects.select("kind", "iface", "major").as[(String, String, Int)]
        .mapPartitions(_.map {
          case (k @ "object_append", iface, major) => (k, iface, major)
          case (k, _, _) => (k, null: String, 0)
        }.toSet.iterator)
        .collect().toSet
      body(new EffectBatch(effects, keys.map(_._1),
        keys.toSeq.collect { case ("object_append", iface, major) => (iface, major) }.sorted))
    } finally if (owned) effects.unpersist()
  }
}
