package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** What a file writer outside Spark's own `FileFormatWriter` needs and
  * Spark keeps package-private (as for [[ListenerBridge]]): the Hadoop
  * configuration a `DataFrameWriter` job starts from (the session's SQL
  * settings applied), a serializable wrapper to ship it to tasks, and
  * the memory page size a task's sorter is created with.
  */
object WriteBridge {
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  def serializable(conf: Configuration): () => Configuration = {
    val wrapped = new SerializableConfiguration(conf)
    () => wrapped.value
  }

  def pageSizeBytes: Long = SparkEnv.get.memoryManager.pageSizeBytes
}
