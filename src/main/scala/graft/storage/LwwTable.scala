package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Append-log table with last-writer-wins snapshot semantics — the
  * plain-parquet re-expression of the reference's Cassandra
  * upsert/delete surface (SURVEY §2.5 W1/W2/W6; `queries.ex:87-155`).
  *
  * Writes are blind appends of (row, __op, __seq): no read-modify-
  * write on the hot path, which is what makes the pattern hold at
  * 100 TB — the log partitions by key hash on write, and the LWW
  * resolution happens at read (window) or in periodic compaction
  * that rewrites the log to its snapshot. This is the LSM shape
  * Delta/Hudi MERGE implement underneath; here it is explicit.
  */
final class LwwTable(
    val path: String,
    val keyCols: Seq[String],
    val orderCols: Seq[String]) {

  import LwwTable._

  /** Blind-append rows with an operation marker. `df` must carry the
    * key and order columns. Locked against compaction (and any other
    * in-JVM writer on this path), as every commit into a table is.
    */
  def append(df: DataFrame, op: String = OpUpsert): Unit =
    AstarteStore.lockFor(path).synchronized {
      AstarteStore.appendAtomic(df.withColumn(OpCol, lit(op)), path)
    }

  def exists(spark: SparkSession): Boolean =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(path))

  private def log(spark: SparkSession): DataFrame =
    spark.read.parquet(path)

  /** Latest surviving row per key: rank by the order columns
    * descending, keep rank 1, drop keys whose last op is a delete.
    * A delete wins a tie on the order columns (a sweep's delete row
    * carries the same timestamp as the row it tombstones).
    * One shuffle on the key — the same cost profile as a MERGE read.
    */
  def snapshot(spark: SparkSession): DataFrame = {
    if (!exists(spark)) return spark.emptyDataFrame
    fold(log(spark))
  }

  private def fold(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc) :+
        (col(OpCol) === OpDelete).desc: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(OpCol) =!= OpDelete)
      .drop("__rn", OpCol)
  }

  /** Fold the log down to its snapshot (run periodically, off the
    * ingest path). Equivalent to Delta OPTIMIZE + VACUUM.
    *
    * Maintenance ([[AstarteStore.maintain]]) through the same
    * stage, move-in, retire rewrite as the store's sweep/compaction
    * ([[AstarteStore.rewriteLeaf]]): only the files listed at entry
    * are folded and retired, so a concurrent append's file — a new
    * name, never in the listing — survives untouched. A crash before
    * the move-in leaves the log as it was; a crash after it leaves
    * byte-identical duplicates that the fold absorbs and the next run
    * converges.
    */
  def compact(spark: SparkSession): Unit =
    AstarteStore.maintain(spark, path) { fs =>
      val hpath = new org.apache.hadoop.fs.Path(path)
      AstarteStore.rewriteLeaf(spark, path, hpath,
        df => fold(df).withColumn(OpCol, lit(OpUpsert)).coalesce(1))
      // every key deleted → all files retired; drop the now-empty
      // dir so it can't masquerade as a schema-less table
      if (fs.exists(hpath) && !fs.listStatus(hpath).exists(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet")))
        fs.delete(hpath, true)
    }
}

object LwwTable {
  val OpCol = "__op"
  val OpUpsert = "u"
  val OpDelete = "d"
}
