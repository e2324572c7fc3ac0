package graft.storage

import java.util.UUID
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Cast, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.UnsafeExternalRowSorter
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.WriteBridge
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators
import graft.core.Mapping
import graft.events.{EventSink, EventWireRow}
import graft.storage.StagedCommit.Staged
import graft.streaming.{EffectRow, Registry}

/** One table a batch of effects lands in: the rows that `rows`' select
  * list makes of its input rows (effect rows; event wire rows for the
  * topic), appended under `path`, partitioned by `partitionCols`. The
  * select list depends on nothing but the input schema and `layout`,
  * the mappings an object table's leaf columns are typed from, so
  * `rows` is built only for a table no earlier batch has planned.
  */
private[graft] final class TableOut(val path: String, val partitionCols: Seq[String] = Nil,
    val layout: Seq[Mapping] = Nil)(select: => DataFrame) {
  lazy val rows: DataFrame = select
}

/** Writes every table of one batch of effects — the store's tables and
  * the event topic — from a single Spark action over the effects frame.
  * The action is a `mapPartitions` over the frame's physical rows, so
  * whatever computes them (in a streaming micro-batch: the fold and its
  * state-store commit) runs in the same tasks as the parquet writes.
  *
  * Each task routes a row by `kind` (object appends also by
  * `(iface, major)`) to a parquet writer it opens on first use, one per
  * (table, partition directory), with at most [[MaxOpenWriters]] open at
  * once: the rows of any further directory wait in a sorter (which
  * spills like Spark's own sorts) and are written one directory at a
  * time when the input ends, so every directory still gets one file per
  * task. A table's columns are its [[TableOut]] select list bound to the
  * input's ordinals, evaluated by an `UnsafeProjection`; writers come
  * from `ParquetFileFormat` as a `DataFrameWriter` job would open them,
  * so file format, codec and Spark row metadata are the same. Object
  * leaf columns are typed from the registry snapshot the tables were
  * planned from; a task reports the `(iface, major)` pairs the snapshot
  * cannot type instead of failing. A planned table is kept for later
  * batches with the same input schema, session conf and layout, so a
  * batch plans only tables it has not seen before, however many object
  * interfaces the registry holds.
  *
  * Commit ([[StagedCommit]]): tasks write under one hidden per-batch
  * directory in each root (store root, topic root), file names carrying
  * the task attempt, and return their file lists. After the job, the
  * driver renames exactly the reported files into their tables under
  * the table locks, named `part-<partition>-<writer>-b<batch>`. The
  * writer id is the streaming query id when `batchId` is given (stable
  * across restarts from one checkpoint), a random id otherwise. A
  * replayed batch therefore lands on the names its first run committed
  * and is skipped there, and two queries sharing a store never collide.
  * A failed job, or an object append the registry cannot type, deletes
  * the per-batch directories and leaves every table untouched.
  */
private[graft] object EffectWriter {

  /** Parquet writers one task keeps open at once. */
  private val MaxOpenWriters = 32

  /** Planned tables kept across batches, least recently used dropped first. */
  private val PlannedTables = 1024

  private final case class SpecKey(
      input: StructType,
      conf: Map[String, String],
      root: String,
      table: String,
      partitionCols: Seq[String],
      layout: Seq[Mapping])

  private val planned = new java.util.LinkedHashMap[SpecKey, Spec](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[SpecKey, Spec]): Boolean =
      size() > PlannedTables
  }

  /** How many tables have been planned, each a miss of `planned`. */
  private[storage] val tablesPlanned = new AtomicLong

  def write(
      effects: Dataset[EffectRow],
      store: Option[(AstarteStore, Registry)],
      events: Option[EventSink],
      batchId: Option[Long] = None): Unit = {
    val spark = effects.sparkSession
    val writer = batchId.flatMap(_ => Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId")))
      .getOrElse(UUID.randomUUID().toString)
    val staging = s"${StagedCommit.Prefix}$writer-${batchId.getOrElse(0L)}"
    val df = effects.toDF()
    val input = df.queryExecution.analyzed.output
    val schema = df.schema
    val hadoopConf = WriteBridge.hadoopConf(spark)
    val conf = spark.conf.getAll

    val specs = mutable.ArrayBuffer.empty[Spec]
    val ids = mutable.HashMap.empty[TableOut, Int]
    def spec(root: String, t: TableOut, from: => Seq[Attribute]): Int = ids.getOrElseUpdate(t, {
      val key = SpecKey(schema, conf, root, t.path, t.partitionCols, t.layout)
      specs += planned.synchronized(Option(planned.get(key))).getOrElse {
        val s = planTable(spark, hadoopConf, root, t, from)
        tablesPlanned.incrementAndGet()
        planned.synchronized(planned.put(key, s))
        s
      }
      specs.size - 1
    })

    val (byKind, objects) = store match {
      case Some((s, registry)) =>
        val (kinds, objs) = s.tables(df, registry)
        (kinds.map { case (k, t) => k -> spec(s.root, t, input) },
          Some(objs.map { case (key, t) => key -> spec(s.root, t, input) }))
      case None => (Map.empty[String, Int], None)
    }
    val topic = events.map { sink =>
      val t = sink.table(spark)
      (spec(sink.path, t, t.rows.queryExecution.analyzed.output),
        ExpressionEncoder[EffectRow]().resolveAndBind(input), ExpressionEncoder[EventWireRow]())
    }
    val plan = Plan(writer, batchId.getOrElse(0L), staging, WriteBridge.serializable(hadoopConf),
      specs.toIndexedSeq, schema.fieldIndex("kind"), schema.fieldIndex("iface"), schema.fieldIndex("major"),
      byKind, objects, topic)

    val stagingDirs = (store.map(_._1.root) ++ events.map(_.path)).toSeq.map(r => new Path(s"$r/$staging"))
    StagedCommit(stagingDirs, hadoopConf) {
      val out = effects.queryExecution.toRdd.mapPartitions(rows => Iterator(writeTask(rows, plan))).collect()
      out.flatMap(_.untyped).distinct.sorted.headOption.foreach { case (iface, major) =>
        throw AstarteStore.untypedObject(store.get._2, iface, major)
      }
      out.toSeq.flatMap(_.files)
    }
  }

  /** One table as tasks write it: its select list bound to `input`, and
    * a parquet writer factory for its data columns.
    */
  private def planTable(spark: SparkSession, hadoopConf: Configuration, root: String, t: TableOut,
      input: Seq[Attribute]): Spec = {
    val exprs = bind(t.rows, input)
    val schema = t.rows.schema
    val data = schema.indices.filterNot(i => t.partitionCols.contains(schema(i).name))
    val dataSchema = StructType(data.map(schema(_)))
    val job = Job.getInstance(hadoopConf)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, dataSchema)
    val conf = job.getConfiguration.iterator().asScala
      .collect { case e if hadoopConf.getRaw(e.getKey) != e.getValue => e.getKey -> e.getValue }.toMap
    val tz = spark.conf.get("spark.sql.session.timeZone")
    Spec(t.path, root, data.map(exprs),
      t.partitionCols.map(c => Cast(exprs(schema.fieldIndex(c)), StringType, Some(tz))),
      t.partitionCols, dataSchema, factory, conf)
  }

  /** A table's select list, bound to the ordinals of its input rows. */
  private def bind(rows: DataFrame, input: Seq[Attribute]): Seq[Expression] = {
    val list = rows.queryExecution.analyzed match {
      case Project(l, _) => l
      case p => p.output
    }
    list.map(e => BindReferences.bindReference(e: Expression, input))
  }

  /** One table as tasks write it: its bound data columns and partition
    * values (as strings), the writer factory, and the configuration
    * entries `prepareWrite` set for it on top of the shared one.
    */
  private final case class Spec(
      table: String,
      root: String,
      data: Seq[Expression],
      partition: Seq[Expression],
      partitionCols: Seq[String],
      dataSchema: StructType,
      factory: OutputWriterFactory,
      conf: Map[String, String])

  /** Everything a task needs: the tables and how rows route to them. */
  private final case class Plan(
      writer: String,
      batch: Long,
      staging: String,
      conf: () => Configuration,
      specs: IndexedSeq[Spec],
      kindOrd: Int,
      ifaceOrd: Int,
      majorOrd: Int,
      byKind: Map[String, Int],
      objects: Option[Map[(String, Int), Int]],
      topic: Option[(Int, ExpressionEncoder[EffectRow], ExpressionEncoder[EventWireRow])])

  private final case class TaskFiles(files: Array[Staged], untyped: Array[(String, Int)])

  private def writeTask(rows: Iterator[InternalRow], plan: Plan): TaskFiles = {
    val out = new TaskWriters(plan, TaskContext.get())
    val untyped = mutable.LinkedHashSet.empty[(String, Int)]
    val publish = plan.topic.map { case (i, effect, wire) =>
      val toEffect = effect.createDeserializer()
      val toWire = wire.createSerializer()
      (row: InternalRow) => EventSink.route(toEffect(row)).foreach(w => out.write(i, toWire(w)))
    }
    try {
      rows.foreach { row =>
        row.getUTF8String(plan.kindOrd).toString match {
          case "object_append" => plan.objects.foreach { objects =>
            val key = (row.getUTF8String(plan.ifaceOrd).toString, row.getInt(plan.majorOrd))
            objects.get(key) match {
              case Some(i) => out.write(i, row)
              case None => untyped += key
            }
          }
          case "event" => publish.foreach(_(row))
          case kind => plan.byKind.get(kind).foreach(out.write(_, row))
        }
      }
      TaskFiles(out.close(), untyped.toArray)
    } catch {
      case e: Throwable =>
        out.abort()
        throw e
    }
  }

  /** The rows waiting for a writer: (table, partition dir, data row). */
  private val WaitingSchema = StructType.fromDDL("table INT, dir STRING, row BINARY")

  private object WaitingOrder extends Ordering[InternalRow] {
    def compare(a: InternalRow, b: InternalRow): Int = {
      val byTable = Integer.compare(a.getInt(0), b.getInt(0))
      if (byTable != 0) byTable else a.getUTF8String(1).compareTo(b.getUTF8String(1))
    }
  }

  /** One task's parquet writers, one per (table, partition directory),
    * at most [[MaxOpenWriters]] open; rows of further directories wait
    * in a sorter until the input ends.
    */
  private final class TaskWriters(plan: Plan, tc: TaskContext) {
    private val base = plan.conf()
    private val tables = new Array[TableTask](plan.specs.size)
    private val open = mutable.HashMap.empty[(Int, String), OutputWriter]
    private val files = mutable.ArrayBuffer.empty[Staged]
    private var waiting: UnsafeExternalRowSorter = _
    private lazy val toWaiting = UnsafeProjection.create(WaitingSchema)

    private def table(i: Int): TableTask = {
      if (tables(i) == null) tables(i) = new TableTask(plan, plan.specs(i), base, tc)
      tables(i)
    }

    private def start(i: Int, dir: String): OutputWriter = {
      val (w, f) = table(i).open(dir)
      files += f
      open((i, dir)) = w
      w
    }

    private def closeOpen(): Unit = {
      open.values.foreach(_.close())
      open.clear()
    }

    def write(i: Int, row: InternalRow): Unit = {
      val t = table(i)
      val dir = t.dir(row)
      open.get((i, dir)) match {
        case Some(w) => w.write(t.data(row))
        case None if open.size < MaxOpenWriters => start(i, dir).write(t.data(row))
        case None =>
          if (waiting == null) waiting = UnsafeExternalRowSorter.create(WaitingSchema, WaitingOrder,
            PrefixComparators.LONG, new UnsafeExternalRowSorter.PrefixComputer {
              private val prefix = new UnsafeExternalRowSorter.PrefixComputer.Prefix
              override def computePrefix(row: InternalRow): UnsafeExternalRowSorter.PrefixComputer.Prefix = {
                prefix.value = row.getInt(0)
                prefix
              }
            }, WriteBridge.pageSizeBytes, false)
          waiting.insertRow(toWaiting(InternalRow(i, UTF8String.fromString(dir), t.data(row).getBytes)))
      }
    }

    /** Closes the open writers, then writes the waiting rows one
      * directory at a time; returns every file written.
      */
    def close(): Array[Staged] = {
      closeOpen()
      if (waiting != null) {
        var current: (Int, String) = null
        var writer: OutputWriter = null
        var data: UnsafeRow = null
        waiting.sort().foreach { r =>
          val key = (r.getInt(0), r.getUTF8String(1).toString)
          if (key != current) {
            closeOpen()
            writer = start(key._1, key._2)
            data = new UnsafeRow(plan.specs(key._1).dataSchema.length)
            current = key
          }
          val bytes = r.getBinary(2)
          data.pointTo(bytes, bytes.length)
          writer.write(data)
        }
        closeOpen()
        waiting.cleanupResources()
      }
      files.toArray
    }

    def abort(): Unit = {
      open.values.foreach(w => try w.close() catch { case _: Exception => () })
      if (waiting != null) waiting.cleanupResources()
    }
  }

  /** One table in one task: its projections and the names of its files. */
  private final class TableTask(plan: Plan, spec: Spec, base: Configuration, tc: TaskContext) {
    private val context = {
      val conf = new Configuration(base)
      spec.conf.foreach { case (k, v) => conf.set(k, v) }
      new TaskAttemptContextImpl(conf, new TaskAttemptID(
        new TaskID(new JobID("graft", tc.stageId()), TaskType.MAP, tc.partitionId()), tc.attemptNumber()))
    }
    private val name = f"part-${tc.partitionId()}%05d-${plan.writer}-b${plan.batch}"
    private val ext = spec.factory.getFileExtension(context)
    private val staging = s"${spec.root}/${plan.staging}${spec.table.stripPrefix(spec.root)}"
    private val partition = UnsafeProjection.create(spec.partition)
    val data: UnsafeProjection = UnsafeProjection.create(spec.data)

    private def under(dir: String, sub: String) = if (sub.isEmpty) dir else s"$dir/$sub"

    /** The partition directory of `row`, relative to the table. */
    def dir(row: InternalRow): String = {
      val p = partition(row)
      spec.partitionCols.indices.map { i =>
        ExternalCatalogUtils.getPartitionPathString(spec.partitionCols(i),
          if (p.isNullAt(i)) ExternalCatalogUtils.DEFAULT_PARTITION_NAME else p.getUTF8String(i).toString)
      }.mkString("/")
    }

    def open(dir: String): (OutputWriter, Staged) = {
      val staged = s"${under(staging, dir)}/$name-a${tc.taskAttemptId()}$ext"
      (spec.factory.newInstance(staged, spec.dataSchema, context),
        Staged(spec.table, staged, s"${under(spec.table, dir)}/$name$ext"))
    }
  }
}
