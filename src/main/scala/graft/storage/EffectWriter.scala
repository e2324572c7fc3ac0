package graft.storage

import java.util.UUID
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
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
  * cannot type instead of failing.
  *
  * What is shipped once: a batch's tables, their routing and the Hadoop
  * configuration form one [[Plan]], sent to executors as one broadcast
  * and kept for later batches with the same input schema, session conf,
  * table set and layouts. A batch's tasks carry only the writer id, the
  * batch id, the staging name and the broadcast handle, a few hundred
  * bytes however many tables the registry holds. A new plan plans only
  * the tables no earlier plan holds, and ships once; a batch whose plan
  * is kept does not wait while another is planned.
  *
  * What is built per executor: each task thread builds a table's
  * projections and its writer configuration the first time it writes
  * that table, and the event deserializer and serializer the first time
  * it publishes, then reuses them in every later task and batch of the
  * same plan; it keeps only its latest plan's. Projections are not
  * thread-safe, so no two threads share one.
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

  /** Planned tables kept across batches, least recently used dropped
    * first; also the most tables the kept plans hold between them.
    */
  private val PlannedTables = 1024

  /** A table as a batch's registry and sinks lay it out. */
  private final case class TableKey(root: String, table: String, partitionCols: Seq[String],
      layout: Seq[Mapping])

  private def tableKey(root: String, t: TableOut) = TableKey(root, t.path, t.partitionCols, t.layout)

  private final case class SpecKey(input: StructType, conf: Map[String, String], table: TableKey)

  /** A batch's whole table set, for one Spark context. */
  private final case class PlanKey(
      sc: SparkContext,
      input: StructType,
      conf: Map[String, String],
      byKind: Map[String, TableKey],
      objects: Option[Map[(String, Int), TableKey]],
      topic: Option[TableKey])

  private val planned = new java.util.LinkedHashMap[SpecKey, Spec](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[SpecKey, Spec]): Boolean =
      size() > PlannedTables
  }

  /** A plan as shipped: its broadcast, and the driver's Hadoop conf it
    * was made from.
    */
  private final class Shipped(val key: PlanKey, val plan: Broadcast[Plan], val hadoopConf: Configuration,
      val tables: Int)

  private val shipped = new java.util.LinkedHashMap[PlanKey, Shipped](16, 0.75f, true)

  /** How many tables have been planned, each a miss of `planned`. */
  private[storage] val tablesPlanned = new AtomicLong

  /** How many plans have been broadcast. */
  private[graft] val plansShipped = new AtomicLong

  def write(
      effects: Dataset[EffectRow],
      store: Option[(AstarteStore, Registry)],
      events: Option[EventSink],
      batchId: Option[Long] = None): Unit = {
    val df = effects.toDF()
    val (task, hadoopConf) = this.task(df, store.map { case (s, registry) => (s.root, s.tables(df, registry)) },
      events.map(sink => (sink.path, sink.table(df.sparkSession))), batchId)
    val stagingDirs = (store.map(_._1.root) ++ events.map(_.path)).toSeq.map(r => new Path(s"$r/${task.staging}"))
    StagedCommit(stagingDirs, hadoopConf) {
      val out = effects.queryExecution.toRdd.mapPartitions(task).collect()
      out.flatMap(_.untyped).distinct.sorted.headOption.foreach { case (iface, major) =>
        throw AstarteStore.untypedObject(store.get._2, iface, major)
      }
      out.toSeq.flatMap(_.files)
    }
  }

  /** The batch's task over `df` and the Hadoop conf its plan was made
    * from: the kept plan of the batch's store tables (by kind, and by
    * object `(iface, major)`, under their root) and topic table, or one
    * shipped now. Planning and broadcasting run outside the lock, so a
    * batch whose plan is kept never waits on one being planned.
    */
  private[storage] def task(
      df: DataFrame,
      tables: Option[(String, (Map[String, TableOut], Map[(String, Int), TableOut]))],
      topic: Option[(String, TableOut)],
      batchId: Option[Long]): (Task, Configuration) = {
    val spark = df.sparkSession
    val writer = batchId.flatMap(_ => Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId")))
      .getOrElse(UUID.randomUUID().toString)
    val planKey = PlanKey(spark.sparkContext, df.schema, spark.conf.getAll,
      tables.map { case (root, (kinds, _)) => kinds.map { case (k, t) => k -> tableKey(root, t) } }
        .getOrElse(Map.empty),
      tables.map { case (root, (_, objs)) => objs.map { case (o, t) => o -> tableKey(root, t) } },
      topic.map { case (root, t) => tableKey(root, t) })

    val s = shipped.synchronized(Option(shipped.get(planKey))).getOrElse {
      val made = ship(spark, df, planKey, tables, topic)
      val first = shipped.synchronized {
        val first = Option(shipped.get(planKey))
        if (first.isEmpty) {
          shipped.put(planKey, made)
          evict()
        }
        first
      }
      first match {
        case Some(f) => // another batch shipped the same plan meanwhile
          made.plan.destroy()
          f
        case None =>
          plansShipped.incrementAndGet()
          made
      }
    }
    val batch = batchId.getOrElse(0L)
    (Task(writer, batch, s"${StagedCommit.Prefix}$writer-$batch", s.plan), s.hadoopConf)
  }

  /** Drops the least recently used plans while the kept ones hold more
    * than [[PlannedTables]] tables, and every plan of a stopped Spark
    * context; the newest plan stays. Spark's context cleaner removes a
    * dropped plan's broadcast once nothing holds it, so a batch still
    * running on it keeps it until the batch's job ends.
    */
  private def evict(): Unit = {
    var held = shipped.values.asScala.map(_.tables).sum
    shipped.values.asScala.toList.init.foreach { s =>
      if (held > PlannedTables || s.key.sc.isStopped) {
        shipped.remove(s.key)
        held -= s.tables
      }
    }
  }

  /** Plans the batch's tables, each taken from `planned` or planned
    * now, and broadcasts them.
    */
  private def ship(
      spark: SparkSession,
      df: DataFrame,
      key: PlanKey,
      tables: Option[(String, (Map[String, TableOut], Map[(String, Int), TableOut]))],
      topic: Option[(String, TableOut)]): Shipped = {
    val hadoopConf = WriteBridge.hadoopConf(spark)
    val input = df.queryExecution.analyzed.output
    val specs = mutable.ArrayBuffer.empty[Spec]
    val ids = mutable.HashMap.empty[TableKey, Int]
    def spec(root: String, t: TableOut, from: => Seq[Attribute]): Int = {
      val table = tableKey(root, t)
      ids.getOrElseUpdate(table, {
        val specKey = SpecKey(key.input, key.conf, table)
        specs += planned.synchronized(Option(planned.get(specKey))).getOrElse {
          val s = planTable(spark, hadoopConf, root, t, from)
          tablesPlanned.incrementAndGet()
          planned.synchronized(planned.put(specKey, s))
          s
        }
        specs.size - 1
      })
    }
    val (byKind, objects) = tables match {
      case Some((root, (kinds, objs))) =>
        (kinds.map { case (k, t) => k -> spec(root, t, input) },
          Some(objs.map { case (o, t) => o -> spec(root, t, input) }))
      case None => (Map.empty[String, Int], None)
    }
    val events = topic.map { case (root, t) =>
      Topic(spec(root, t, t.rows.queryExecution.analyzed.output),
        ExpressionEncoder[EffectRow]().resolveAndBind(input), ExpressionEncoder[EventWireRow]())
    }
    val schema = key.input
    val plan = Plan(WriteBridge.serializable(hadoopConf), specs.toIndexedSeq,
      schema.fieldIndex("kind"), schema.fieldIndex("iface"), schema.fieldIndex("major"), byKind, objects, events)
    new Shipped(key, spark.sparkContext.broadcast(plan), hadoopConf, specs.size)
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
  private[storage] final case class Spec(
      table: String,
      root: String,
      data: Seq[Expression],
      partition: Seq[Expression],
      partitionCols: Seq[String],
      dataSchema: StructType,
      factory: OutputWriterFactory,
      conf: Map[String, String])

  /** The event topic: its table, and the encoders a routed event goes
    * through.
    */
  private[storage] final case class Topic(
      table: Int,
      effect: ExpressionEncoder[EffectRow],
      wire: ExpressionEncoder[EventWireRow])

  /** What every task of every batch with the same tables shares: the
    * Hadoop conf, the tables and how rows route to them.
    */
  private[storage] final case class Plan(
      conf: () => Configuration,
      specs: IndexedSeq[Spec],
      kindOrd: Int,
      ifaceOrd: Int,
      majorOrd: Int,
      byKind: Map[String, Int],
      objects: Option[Map[(String, Int), Int]],
      topic: Option[Topic])

  /** One batch's task function: the batch's names and the shared plan. */
  private[storage] final case class Task(writer: String, batch: Long, staging: String, plan: Broadcast[Plan])
      extends (Iterator[InternalRow] => Iterator[TaskFiles]) {
    def apply(rows: Iterator[InternalRow]): Iterator[TaskFiles] = Iterator(writeTask(rows, this))
  }

  private[storage] final case class TaskFiles(files: Array[Staged], untyped: Array[(String, Int)])

  private def writeTask(rows: Iterator[InternalRow], task: Task): TaskFiles = {
    val built = Built(task.plan.value)
    val out = new TaskWriters(task, built, TaskContext.get())
    val plan = built.plan
    val untyped = mutable.LinkedHashSet.empty[(String, Int)]
    val publish = plan.topic.map { topic =>
      val (toEffect, toWire) = built.events
      (row: InternalRow) => EventSink.route(toEffect(row)).foreach(w => out.write(topic.table, toWire(w)))
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
  private final class TaskWriters(task: Task, built: Built, tc: TaskContext) {
    private val plan = built.plan
    private val tables = new Array[TableTask](plan.specs.size)
    private val open = mutable.HashMap.empty[(Int, String), OutputWriter]
    private val files = mutable.ArrayBuffer.empty[Staged]
    private var waiting: UnsafeExternalRowSorter = _
    private lazy val toWaiting = UnsafeProjection.create(WaitingSchema)

    private def table(i: Int): TableTask = {
      if (tables(i) == null) tables(i) = new TableTask(task, plan.specs(i), built.table(i), tc)
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

  /** What a task thread built for the plan of its latest task: each
    * table's [[BuiltTable]], made the first time the thread writes the
    * table, and the event deserializer and serializer. A thread keeps
    * one plan's: a task of another plan replaces them, so a thread
    * holds no more than one task of its plan would build.
    */
  private final class Built(val plan: Plan) {
    private lazy val base = plan.conf()
    private val tables = new Array[BuiltTable](plan.specs.size)

    lazy val events = {
      val topic = plan.topic.get
      (topic.effect.createDeserializer(), topic.wire.createSerializer())
    }

    def table(i: Int): BuiltTable = {
      if (tables(i) == null) tables(i) = new BuiltTable(plan.specs(i), base)
      tables(i)
    }
  }

  private object Built {
    private val current = new ThreadLocal[Built]

    /** The calling thread's builds for `plan`. */
    def apply(plan: Plan): Built = {
      val b = current.get()
      if (b != null && (b.plan eq plan)) b
      else {
        val made = new Built(plan)
        current.set(made)
        made
      }
    }
  }

  /** A table's projections and writer configuration (a `JobConf`, which
    * a task attempt context takes without copying).
    */
  private final class BuiltTable(spec: Spec, base: Configuration) {
    val conf = new JobConf(base)
    spec.conf.foreach { case (k, v) => conf.set(k, v) }
    val partition: UnsafeProjection = UnsafeProjection.create(spec.partition)
    val data: UnsafeProjection = UnsafeProjection.create(spec.data)
  }

  /** One table in one task: its thread's projections and the names of
    * its files.
    */
  private final class TableTask(task: Task, spec: Spec, built: BuiltTable, tc: TaskContext) {
    private val context = new TaskAttemptContextImpl(built.conf, new TaskAttemptID(
      new TaskID(new JobID("graft", tc.stageId()), TaskType.MAP, tc.partitionId()), tc.attemptNumber()))
    private val name = f"part-${tc.partitionId()}%05d-${task.writer}-b${task.batch}"
    private val ext = spec.factory.getFileExtension(context)
    private val staging = s"${spec.root}/${task.staging}${spec.table.stripPrefix(spec.root)}"
    val data: UnsafeProjection = built.data

    private def under(dir: String, sub: String) = if (sub.isEmpty) dir else s"$dir/$sub"

    /** The partition directory of `row`, relative to the table. */
    def dir(row: InternalRow): String = {
      val p = built.partition(row)
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
