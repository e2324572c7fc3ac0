package graft.storage

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.streaming.{EffectRow, Registry}

/** The typed storage layer: the reference's 8 Cassandra tables
  * re-expressed as parquet LWW/append tables (SURVEY §1.5, §2.5, §2.6)
  * plus the `foreachBatch` glue that routes [[EffectRow]]s from the
  * state machine into them.
  *
  * Individual tables keep the reference's sparse typed-column layout
  * (one column per value type) — that layout is the contract the
  * reference's tests assert against, and it keeps per-type reads
  * (R5) a pure column projection.
  */
final class AstarteStore(val root: String) {
  import AstarteStore.{isHidden, maintain, pruneEmptyDirs, rewriteLeaf}

  val properties = new LwwTable(s"$root/individual_properties",
    keyCols = Seq("device_id", "iface", "endpoint", "path"),
    orderCols = Seq("reception_timestamp", "reception_timestamp_submillis"))

  /** Append-only series; no LWW — idempotence comes from the full PK
    * including reception (ts, submillis).
    */
  def datastreamPath = s"$root/individual_datastreams"
  def objectPath(iface: InterfaceDescriptor) = s"$root/${iface.objectTableName}"

  /** Device updates are partial JSON patches (connect/disconnect/
    * flags/stats merges), not full-row LWW — they land in an append
    * log; `deviceUpdates` exposes it ordered for downstream folding.
    */
  def devicesLogPath = s"$root/devices.log"

  val pathIndex = new LwwTable(s"$root/paths",
    keyCols = Seq("device_id", "iface", "path"),
    orderCols = Seq("reception_timestamp"))

  val kvStore = new LwwTable(s"$root/kv_store",
    keyCols = Seq("kv_group", "kv_key"), orderCols = Seq("reception_timestamp"))

  // --- write path (the foreachBatch glue) --------------------------------

  private val typedTypes = graft.core.AstarteValueType.all.filterNot(_.isArray) ++
    graft.core.AstarteValueType.all.filter(_.isArray)

  private val typedColumnNames: Seq[String] = typedTypes.map(_.columnName)

  /** Decode the BSON `{v: _}` envelope into the typed column for the
    * row's Astarte type code. One sparse column per type — scalars
    * (odd codes), then their array forms (even codes) — null elsewhere;
    * W1/W3's layout. Selected with a table's other columns, so a
    * table's rows are one projection.
    */
  private val typedColumns: Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.functions.BsonDecodeTyped
    typedTypes.map { t =>
      when(col("valueTypeCode") === t.code, ColumnBridge.column(
        BsonDecodeTyped(ColumnBridge.expression(col("valueBson")), t))).as(t.columnName)
    }
  }

  /** Serializes in-JVM writers (the batch commit's renames, the
    * appends) against the maintenance jobs (sweep/compaction) PER TABLE
    * PATH. The file-granular rewrite protocol already guarantees no
    * DATA FILE is ever lost under concurrency, and writers never share
    * a temporary directory (each batch stages under its own); the
    * residual local-FS race is directory-shaped — pruning a
    * momentarily-empty partition dir while a commit is renaming files
    * into it fails the commit. It is per-table, so the lock is
    * per-table: compacting objects never stalls a properties commit.
    * On the 100 TB deployment target (object storage) directories
    * don't exist and the prune is a no-op concept; cross-JVM
    * maintenance (a separate vacuum job) should run quiesced or against
    * an object store.
    */
  private def lockFor(path: String): Object = AstarteStore.lockFor(path)

  /** Registry-less convenience for effect batches that carry no
    * object aggregates (individual properties/datastreams only).
    * Object appends need the registry's leaf schema — those callers
    * must use the two-arg form.
    */
  def applyEffects(effects: Dataset[EffectRow]): Unit =
    applyEffects(effects, Registry(Map.empty, Map.empty, Nil))

  /** Apply one batch of effects to the store. Each kind is routed to
    * its table; everything is a blind append (idempotent under the
    * full PK), so retries after failure are harmless — the Spark
    * replacement for the reference's ack-after-write protocol. Every
    * table is written by one Spark job ([[EffectWriter]]); a batch with
    * an object append the registry cannot type fails whole, with no
    * table written.
    */
  def applyEffects(effects: Dataset[EffectRow], registry: Registry): Unit =
    EffectWriter.write(effects, Some(this -> registry), None)

  /** The store's tables as projections of the effects frame `df`: the
    * table of each effect kind, and the table of each object
    * `(iface, major)` the registry can type. No projection is built
    * here; [[EffectWriter]] builds those it has not planned before.
    */
  private[storage] def tables(df: DataFrame, registry: Registry)
      : (Map[String, TableOut], Map[(String, Int), TableOut]) = {
    val props = new TableOut(properties.path)(
      df.select(Seq(col("deviceId").as("device_id"), col("iface"),
        col("endpoint"), col("path"),
        col("receptionMs").as("reception_timestamp"),
        col("submillis").as("reception_timestamp_submillis")) ++
        typedColumns :+
        when(col("kind") === "property_unset", LwwTable.OpDelete)
          .otherwise(LwwTable.OpUpsert).as(LwwTable.OpCol): _*))

    // Two-level partitioning (iface, day): per-interface reads
    // prune whole directory trees, and time-range scans prune by
    // UTC day of the value timestamp — at 100 TB both predicates
    // must resolve at the directory listing, not the row scan.
    // Retention sweeps also become whole-directory drops once a
    // day is fully expired.
    val streams = new TableOut(datastreamPath, Seq("iface", "day"))(
      df.select(Seq(col("deviceId").as("device_id"), col("iface"),
        col("endpoint"), col("path"),
        col("valueTimestampMs").as("value_timestamp"),
        col("receptionMs").as("reception_timestamp"),
        col("submillis").as("reception_timestamp_submillis"),
        // W3 retention: nullable expiry, the reference's value-row
        // `USING TTL` (queries.ex:157-197); swept by sweepRetention.
        regexp_extract(col("detail"), "expiry_ms:(\\d+)", 1).cast("long")
          .as("expiry_ms"),
        expr("valueTimestampMs div 86400000").as("day")) ++
        typedColumns: _*))

    // One table per (interface, major) — the reference's dynamic
    // `<iface>_v<major>` tables — with one TYPED column per
    // endpoint leaf decoded from the object BSON at append time
    // (queries.ex:199-297). Typed columns keep scans columnar:
    // a two-leaf projection at 100 TB reads two parquet column
    // chunks, not a JSON blob re-parsed per row. Only keys
    // present in the payload are non-null (NULL-avoidance).
    // Rows are routed by the MAJOR THEY WERE FOLDED UNDER
    // (EffectRow.major), not the sink-time registry's major: the
    // fold and this sink read the registry independently, so a
    // live major bump between them must not misfile v1-validated
    // rows into the v2 table. Leaf columns come from the mapping
    // set of the row's major (Mapping.major keys the version).
    val objects = for {
      (name, mappings) <- registry.mappings.toSeq
      desc <- registry.descriptor(name).toSeq if desc.aggregation == Aggregation.Object
      (major, majorMappings) <- mappings.groupBy(_.major)
    } yield (name, major) ->
      new TableOut(objectPath(desc.copy(major = major)), Seq("day"), majorMappings)({
        val leafCols = majorMappings.map { m =>
          import org.apache.spark.sql.graft.ColumnBridge
          val leaf = AstarteStore.leafNameOf(m.endpoint)
          ColumnBridge.column(graft.functions.BsonDecodeLeaf(
            ColumnBridge.expression(col("valueBson")),
            ColumnBridge.expression(lit(leaf)),
            m.valueType)).as(s"v_$leaf")
        }
        df.select(Seq(col("deviceId").as("device_id"), col("path"),
          col("valueTimestampMs").as("value_timestamp"),
          col("receptionMs").as("reception_timestamp"),
          col("submillis").as("reception_timestamp_submillis"),
          regexp_extract(col("detail"), "expiry_ms:(\\d+)", 1).cast("long")
            .as("expiry_ms"),
          expr("valueTimestampMs div 86400000").as("day")) ++ leafCols: _*)
      })

    val updates = new TableOut(devicesLogPath)(
      df.select(col("deviceId").as("device_id"),
        col("receptionMs").as("reception_timestamp"),
        col("submillis").as("reception_timestamp_submillis"),
        col("detail").as("update_json")))

    val paths = new TableOut(pathIndex.path)(
      df.select(col("deviceId").as("device_id"), col("iface"),
        col("path"), col("valueTimestampMs").as("datetime_value"),
        col("receptionMs").as("reception_timestamp"),
        regexp_extract(col("detail"), "expiry_ms:(\\d+)", 1).cast("long")
          .as("expiry_ms"),
        lit(LwwTable.OpUpsert).as(LwwTable.OpCol)))

    val kv = new TableOut(kvStore.path)(
      df.select(
        regexp_extract(col("detail"), "^(register|unregister):(.+)$", 2).as("kv_group"),
        col("deviceId").as("kv_key"),
        col("receptionMs").as("reception_timestamp"),
        when(regexp_extract(col("detail"), "^(register|unregister):", 1) === "unregister",
          LwwTable.OpDelete).otherwise(LwwTable.OpUpsert).as(LwwTable.OpCol)))

    (Map("property_upsert" -> props, "property_unset" -> props, "datastream_append" -> streams,
      "device_update" -> updates, "path_index" -> paths, "kv_store" -> kv), objects.toMap)
  }

  // --- read path (SURVEY §2.6 R1–R8) -------------------------------------

  /** R5: typed projection of current property values per endpoint. */
  def propertyValues(spark: SparkSession, valueType: AstarteValueType): DataFrame =
    properties.snapshot(spark)
      .select(col("device_id"), col("iface"), col("path"),
        col(valueType.columnName).as("value"))
      .filter(col("value").isNotNull)

  /** R2: all stored paths under an interface (PK-prefix read). */
  def pathsFor(spark: SparkSession, iface: String): DataFrame =
    pathIndex.snapshot(spark)
      .filter(col("iface") === iface)
      .select(col("device_id"), col("path"))

  /** R7: TTL remaining per path — expiry is an explicit column, the
    * Spark design for Cassandra's SELECT TTL() (SURVEY §4).
    */
  def pathTtlRemaining(spark: SparkSession, nowMs: Long): DataFrame =
    pathIndex.snapshot(spark)
      .select(col("device_id"), col("iface"), col("path"),
        (col("expiry_ms") - nowMs).as("ttl_remaining_ms"))

  /** The reference's `is_still_valid?` clock tolerance: a path-index
    * entry is treated as needing refresh when less than one hour of
    * TTL remains (reference impl.ex:547-557) — the writer then
    * re-upserts it instead of trusting a row that may expire between
    * check and use.
    */
  val ClockToleranceMs: Long = 3600L * 1000L

  /** Paths whose remaining TTL is inside the tolerance window: the
    * set the ingest path must re-upsert on next touch.
    */
  def pathsNeedingRefresh(spark: SparkSession, nowMs: Long): DataFrame =
    pathIndex.snapshot(spark)
      .filter(col("expiry_ms") - nowMs < ClockToleranceMs)
      .select(col("device_id"), col("iface"), col("path"), col("expiry_ms"))

  /** Retention sweep: drop expired path-index rows (the periodic
    * DELETE WHERE job standing in for storage-level TTL).
    */
  def sweepExpiredPaths(spark: SparkSession, nowMs: Long): Unit =
    // the snapshot is listed under the table lock too, so an in-JVM
    // compaction cannot retire its files before the tombstones are written
    lockFor(pathIndex.path).synchronized {
      if (pathIndex.exists(spark))
        pathIndex.append(pathIndex.snapshot(spark).filter(col("expiry_ms") <= nowMs), LwwTable.OpDelete)
    }

  /** General retention sweep (W3+W5): drop expired path-index rows and
    * physically remove value rows whose `expiry_ms` passed — the
    * periodic compaction standing in for Cassandra's storage-level
    * TTL. Rows with null expiry (no retention) are never touched.
    */
  def sweepRetention(spark: SparkSession, nowMs: Long): Unit = {
    sweepExpiredPaths(spark, nowMs)
    sweepAppendTable(spark, datastreamPath, nowMs)
    objectTablePaths(spark).foreach(p => sweepAppendTable(spark, p, nowMs))
  }

  /** Object tables are dynamic — one `<iface>_v<major>` directory per
    * object-aggregated interface, named at write time — so maintenance
    * discovers them by layout: root-level directories outside the
    * fixed table set whose children are `day=` partitions.
    */
  def objectTablePaths(spark: SparkSession): Seq[String] = {
    val hroot = new org.apache.hadoop.fs.Path(root)
    val fs = hroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hroot)) return Nil
    val fixed = Set("individual_properties", "individual_datastreams",
      "devices.log", "paths", "kv_store")
    // named as the writers name them, so maintenance takes the same
    // table lock as the batch commit
    fs.listStatus(hroot).toSeq
      .filter(e => e.isDirectory && !isHidden(e.getPath.getName))
      .filterNot(e => fixed(e.getPath.getName))
      .filter(e => fs.listStatus(e.getPath).exists(c =>
        c.isDirectory && c.getPath.getName.startsWith("day=")))
      .map(e => s"$root/${e.getPath.getName}")
  }

  /** Partition-pruned retention sweep of an (iface, day)-partitioned
    * append table. One filtered scan finds the partition keys that
    * hold anything expired — partition pruning plus parquet min/max
    * stats on `expiry_ms` skip everything else, and the result is
    * bounded by partition count, not row count — then ONLY those leaf
    * directories are rewritten ([[AstarteStore.rewriteLeaf]]). Every
    * other partition's files are never read for rewrite and stay
    * byte-identical.
    */
  private def sweepAppendTable(spark: SparkSession, path: String, nowMs: Long): Unit =
    maintain(spark, path) { fs =>
      val df = spark.read.parquet(path)
      // partition layout differs per table: datastreams are (iface, day),
      // per-interface object tables are (day) — derive it from the schema
      val partCols = Seq("iface", "day").filter(df.columns.contains)
      val hit =
        if (!df.columns.contains("expiry_ms") || partCols.isEmpty) Array.empty[String]
        else df
          .filter(col("expiry_ms").isNotNull && col("expiry_ms") <= nowMs)
          .select(partCols.map(col): _*).distinct()
          .collect()
          .map(r => partCols.indices
            .map(i => s"${partCols(i)}=${r.get(i)}").mkString("/"))
      // the common case is no hit: nothing to do, touch nothing
      if (hit.nonEmpty) {
        hit.foreach { rel =>
          rewriteLeaf(spark, path, new org.apache.hadoop.fs.Path(s"$path/$rel"),
            _.filter(col("expiry_ms").isNull || col("expiry_ms") > nowMs))
        }
        pruneEmptyDirs(fs, new org.apache.hadoop.fs.Path(path))
      }
    }

  /** Partition-pruned small-file compaction of an (iface, day)
    * append table. Streaming ingest writes at least one parquet file
    * per micro-batch per partition; at 100 TB that accretes into a
    * scan-killing file count (every file is an open/seek/footer-read
    * at planning time). Leaves with more than `maxFiles` data files
    * are rewritten into one file ([[AstarteStore.rewriteLeaf]]);
    * every other leaf is never read and stays byte-identical.
    * Listing cost is bounded by partition count, not row count.
    */
  def compactAppendTable(spark: SparkSession, path: String,
      maxFiles: Int = 4): Unit =
    maintain(spark, path) { fs =>
      import org.apache.hadoop.fs.{Path => HPath}
      def dataFiles(dir: HPath) =
        fs.listStatus(dir).count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      // leaf dirs at any partition depth: a dir holding parquet files
      // directly (the root itself is never a leaf — these tables are
      // always partitioned)
      def leafDirs(dir: HPath): Seq[HPath] =
        fs.listStatus(dir).toSeq
          .filter(e => e.isDirectory && !isHidden(e.getPath.getName))
          .flatMap(e => (if (dataFiles(e.getPath) > 0) Seq(e.getPath) else Nil) ++ leafDirs(e.getPath))
      for (leaf <- leafDirs(new HPath(path)) if dataFiles(leaf) > maxFiles)
        rewriteLeaf(spark, path, leaf, _.coalesce(1))
    }

  /** Datastream read as of `nowMs`: retention-expired rows are
    * invisible even before a sweep ran (Cassandra TTL read semantics).
    */
  def datastreams(spark: SparkSession, nowMs: Long): DataFrame = {
    val df = datastreams(spark)
    if (df.columns.contains("expiry_ms"))
      df.filter(col("expiry_ms").isNull || col("expiry_ms") > nowMs)
    else df
  }

  /** Datastream read with replay tolerance: a re-applied micro-batch
    * blind-appends byte-identical rows, so the read drops exact
    * duplicate rows (all columns — not just the PK, so two distinct
    * events that pathologically collide on the timestamp PK are both
    * kept deterministically rather than one being dropped at random).
    * This makes crash/redelivery harmless without read-modify-write
    * on the append path; compaction folds physical dupes offline.
    */
  def datastreams(spark: SparkSession): DataFrame =
    spark.read.parquet(datastreamPath).dropDuplicates()

  // --- bucketed serving layout (SURVEY §2.6 scale path) ------------------

  /** Catalog names are derived from the store root so parallel stores
    * (tests, multi-realm) never collide in the session catalog.
    */
  private def bucketedName(table: String): String =
    f"graft_${math.abs(root.hashCode.toLong)}%x_$table"

  def bucketedDatastreamsTable: String = bucketedName("datastreams")
  def bucketedPropertiesTable: String = bucketedName("properties")

  /** Materialize the hot tables into bucketed + sorted catalog tables
    * on `(device_id, iface)` — the access key every hot store read
    * shares (J3 prev-value, J5 prune anti-join, R2 path reads, R5
    * typed projections). The key shuffle happens ONCE here, off the
    * ingest path (run it with compaction cadence); every subsequent
    * read that joins, aggregates, or window-folds on the device/iface
    * key then plans with ZERO Exchange below the join, because both
    * scans report a compatible HashPartitioning — proven on the TPC
    * tables by BucketedJoinSpec and pinned for the store by
    * BucketedStoreSpec. This is the Spark re-expression of the
    * reference's Cassandra partition key: every store table keys on
    * (device_id, interface_id), so all rows a device read touches
    * live on one node (`database_test_helper.exs:210,239`).
    *
    * Like compaction, the result is a point-in-time snapshot: appends
    * after a bucketize are visible to the log readers but not to the
    * bucketed tables until the next run — callers choose log reads
    * (fresh) or bucketed reads (co-located) accordingly.
    */
  def bucketedPathsTable: String = bucketedName("paths")

  def bucketizeHotTables(spark: SparkSession, buckets: Int = 8): Unit = {
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite")
        .bucketBy(buckets, "device_id", "iface")
        .sortBy("device_id", "iface")
        .saveAsTable(name)
    write(datastreams(spark), bucketedDatastreamsTable)
    if (properties.exists(spark))
      write(properties.snapshot(spark), bucketedPropertiesTable)
    if (pathIndex.exists(spark))
      write(pathIndex.snapshot(spark), bucketedPathsTable)
  }

  private def bucketedTable(spark: SparkSession, name: String): DataFrame = {
    require(spark.catalog.tableExists(name),
      s"bucketed table $name not materialized — run bucketizeHotTables first")
    spark.table(name)
  }

  def bucketedDatastreams(spark: SparkSession): DataFrame =
    bucketedTable(spark, bucketedDatastreamsTable)
  def bucketedProperties(spark: SparkSession): DataFrame =
    bucketedTable(spark, bucketedPropertiesTable)
  def bucketedPaths(spark: SparkSession): DataFrame =
    bucketedTable(spark, bucketedPathsTable)

  /** J3 over the bucketed layout: each datastream row with its
    * previous value timestamp in the same (device, iface, path)
    * series. The window's partition keys extend the bucket key, so
    * the scan's HashPartitioning already satisfies the clustering and
    * the executed plan contains NO Exchange at all — only the
    * in-partition sort (BucketedStoreSpec pins this).
    */
  def streamPrevTimestamps(spark: SparkSession): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("device_id"), col("iface"), col("path"))
      .orderBy(col("value_timestamp"), col("reception_timestamp"),
        col("reception_timestamp_submillis"))
    bucketedDatastreams(spark)
      .select(col("device_id"), col("iface"), col("path"),
        col("value_timestamp"),
        lag(col("value_timestamp"), 1).over(w).as("prev_value_timestamp"))
  }

  /** J5 over the bucketed layout: stored paths with no surviving
    * datastream rows (the prune set after a retention sweep). Both
    * sides are bucketed on (device_id, iface) — a PREFIX of the
    * anti-join keys — so with
    * `spark.sql.requireAllClusterKeysForCoPartition=false` (the
    * documented knob that allows co-partitioned joins on a subset of
    * the join keys; safe here because device×iface already spreads
    * uniformly) the SMJ plans with zero Exchange below it. The
    * default-true setting exists to avoid skew when clustering on
    * fewer keys — not a concern for a device-keyed store.
    */
  def prunableStreamPaths(spark: SparkSession): DataFrame =
    bucketedPaths(spark)
      .select(col("device_id"), col("iface"), col("path"))
      .join(bucketedDatastreams(spark)
          .select(col("device_id"), col("iface"), col("path")),
        Seq("device_id", "iface", "path"), "left_anti")

  /** Ordered device-update patch log (connects, disconnects, flags,
    * stats merges) for downstream folding into the device dimension.
    */
  def deviceUpdates(spark: SparkSession): DataFrame =
    spark.read.parquet(devicesLogPath)
      .dropDuplicates() // replay tolerance, as in datastreams()
      .orderBy(col("device_id"), col("reception_timestamp"),
        col("reception_timestamp_submillis"))

  /** The folded `devices` dimension (SURVEY §1.5 #1): one row per
    * device from the JSON patch log, applied in reception order — the
    * reference's single-row-per-device table with map counters
    * (queries.ex:412-510). One shuffle on device_id; the fold per key
    * is linear and state-bounded, so it holds at any device count.
    */
  def devicesSnapshot(spark: SparkSession): Dataset[DeviceRow] = {
    import spark.implicits._
    val hpath = new org.apache.hadoop.fs.Path(devicesLogPath)
    val fs = hpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hpath)) return spark.emptyDataset[DeviceRow]
    val log = spark.read.parquet(devicesLogPath)
      .dropDuplicates()
      .select(col("device_id").as("_1"), col("reception_timestamp").as("_2"),
        col("reception_timestamp_submillis").as("_3"), col("update_json").as("_4"))
      .as[(String, Long, Int, String)]
    log.groupByKey(_._1).mapGroups { (dev, it) =>
      DeviceRow.fold(dev, it.map(t => (t._2, t._3, t._4)))
    }
  }

  /** ST8 bootstrap: per-device session state rebuilt from the store —
    * the reference loads stats + introspection + properties on a
    * device's first message (impl.ex:50-87). Feed the result into
    * [[graft.streaming.DeviceStateMachine.processStreamWithInit]] (or
    * `processBatch(initialStates = ...)`) so a cold state store resumes
    * exactly where the last run stopped.
    */
  def initialSessionStates(
      spark: SparkSession,
      realm: String): Dataset[((String, String), graft.streaming.DeviceSessionState)] = {
    import spark.implicits._
    import graft.streaming.DeviceSessionState
    val realmName = realm
    val devs = devicesSnapshot(spark)
    // properties snapshot → per-device "iface/path" -> BSON {v} map,
    // re-encoded from the typed columns (empty when no property was
    // ever written — snapshot() then has no columns to select)
    val propRows =
      if (!properties.exists(spark))
        spark.emptyDataset[(String, String, String)]
          .toDF("device_id", "iface", "path")
          .select(Seq(col("device_id"), col("iface"), col("path")) ++
            typedColumnNames.map(c => lit(null).as(c)): _*)
      else properties.snapshot(spark)
        .select(Seq(col("device_id"), col("iface"), col("path")) ++
          typedColumnNames.map(col): _*)
    val propsByDev = propRows
      .map { r =>
        val bson = PropertyReencode.toBson(r)
        (r.getAs[String]("device_id"),
          r.getAs[String]("iface") + r.getAs[String]("path"), bson)
      }
      .groupByKey(_._1)
      .mapGroups((dev, it) => dev -> it.map(t => t._2 -> t._3).toMap)
    devs.groupByKey(_.device_id)
      .cogroup(propsByDev.groupByKey(_._1)) { (dev, ds, ps) =>
        val row = ds.toSeq.headOption
        val props = ps.toSeq.headOption.map(_._2).getOrElse(Map.empty[String, Array[Byte]])
        val st = row match {
          case Some(r) => DeviceSessionState(
            connected = r.connected,
            introspection = r.introspection,
            introspectionMinor = r.introspection_minor,
            oldIntrospection = r.old_introspection,
            totalReceivedMsgs = r.total_received_msgs,
            totalReceivedBytes = r.total_received_bytes,
            interfaceMsgs = r.exchanged_msgs_by_interface,
            interfaceBytes = r.exchanged_bytes_by_interface,
            properties = props,
            pendingEmptyCache = r.pending_empty_cache)
          case None => DeviceSessionState.empty.copy(properties = props)
        }
        Iterator(((realmName, dev), st))
      }
  }

  /** Dynamic per-interface object table (W4 read side, SURVEY §7.4
    * risk 2): rows carry one typed `v_<leaf>` parquet column per
    * endpoint leaf, written at append time from the registry schema.
    * The read supplies the CURRENT registry's expected schema
    * explicitly, so a minor-version bump (new leaf) is a pure
    * projection change: files written before the bump simply read
    * NULL for the new column (the reference's NULL-avoidance: absent
    * keys are absent, not tombstones), and no data is rewritten.
    * Datetime leaves are epoch-millis longs, matching the write path.
    */
  def objectTable(
      spark: SparkSession,
      iface: InterfaceDescriptor,
      mappings: Seq[Mapping]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(
      Seq(StructField("device_id", StringType),
        StructField("path", StringType),
        StructField("value_timestamp", LongType),
        StructField("reception_timestamp", LongType),
        StructField("reception_timestamp_submillis", IntegerType),
        StructField("expiry_ms", LongType),
        StructField("day", LongType)) ++
      mappings.map(m => StructField(
        s"v_${AstarteStore.leafNameOf(m.endpoint)}",
        AstarteStore.objectLeafType(m.valueType))))
    // a registered interface that has not received data yet has no
    // directory: that is an empty table, not a PATH_NOT_FOUND crash
    // (the old shared objects/ dir returned empty for the same case)
    val path = new org.apache.hadoop.fs.Path(objectPath(iface))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema).parquet(objectPath(iface))
        .dropDuplicates() // replay tolerance, as in datastreams()
  }
}

object AstarteStore {
  /** JVM-global writer locks keyed by table path (see the instance
    * scaladoc at the lock's use sites): keying globally rather than
    * per-store covers two store instances opened on the same root,
    * and lets [[LwwTable]] maintenance share the lock with the
    * store's appends.
    */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[storage] def lockFor(path: String): Object =
    tableLocks.computeIfAbsent(path, _ => new Object)

  /** The failure of a batch holding an object append of `(iface, major)`
    * that `registry` cannot type.
    */
  private[storage] def untypedObject(registry: Registry, iface: String, major: Int): IllegalStateException =
    if (registry.descriptor(iface).isEmpty)
      new IllegalStateException(s"object append for interface '$iface' but no registry entry — " +
        "pass the registry to applyEffects so leaf columns can be typed")
    else
      new IllegalStateException(s"object append for '$iface' v$major but the registry holds " +
        "no mappings for that major — refusing to guess leaf types")

  /** Hadoop hidden-path convention: `_`- and `.`-prefixed names
    * (`_SUCCESS`, `.crc` checksums, the `_graft_batch-*` staging dirs of
    * [[StagedCommit]]) are never table data; maintenance never iterates
    * into or prunes them.
    */
  private[storage] def isHidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** Lock file for cross-process maintenance exclusion on one table
    * (see [[ProcessLock]]). A sibling FILE, not inside the table dir,
    * so scans and partition discovery never see it.
    */
  private[storage] def maintenanceLock(path: String) =
    new org.apache.hadoop.fs.Path(path + ".maintenance.lock")

  /** Runs maintenance `body` on an existing table at `path`, holding its
    * JVM lock and its cross-process [[ProcessLock]], after removing the
    * staging that crashed writes left beside it.
    */
  private[storage] def maintain(spark: SparkSession, path: String)(
      body: org.apache.hadoop.fs.FileSystem => Unit): Unit =
    lockFor(path).synchronized {
      val hpath = new org.apache.hadoop.fs.Path(path)
      val fs = hpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      ProcessLock.withLock(fs, maintenanceLock(path)) {
        StagedCommit.clearStale(fs, hpath.getParent)
        if (fs.exists(hpath)) body(fs)
      }
    }

  /** Drop directories a retirement emptied — a schema-less directory
    * poisons the next read, and an empty table root masquerades as an
    * empty table with no schema. Non-recursive deletes: if a
    * concurrent appender repopulated the directory between the check
    * and the delete, the delete fails and the directory survives.
    */
  private[storage] def pruneEmptyDirs(
      fs: org.apache.hadoop.fs.FileSystem,
      tableRoot: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(tableRoot)) return
    // bottom-up: empty leaves first, then parents they emptied —
    // works for any partition depth
    def prune(dir: org.apache.hadoop.fs.Path): Unit =
      for (e <- fs.listStatus(dir)
           if e.isDirectory && !isHidden(e.getPath.getName)) {
        prune(e.getPath)
        if (fs.listStatus(e.getPath).isEmpty)
          try fs.delete(e.getPath, false) catch { case _: java.io.IOException => () }
      }
    prune(tableRoot)
    val leftover = fs.listStatus(tableRoot)
    if (!leftover.exists(st => st.isDirectory && !isHidden(st.getPath.getName)) &&
        !leftover.exists(st => st.isFile && st.getPath.getName.endsWith(".parquet"))) {
      // the listed leftovers are not data; the root itself goes only if
      // no writer renamed a file in since the listing
      leftover.foreach(st => fs.delete(st.getPath, true))
      try fs.delete(tableRoot, false) catch { case _: java.io.IOException => () }
    }
  }

  /** Append `df` to the table at `path` through the staged commit
    * ([[StagedCommit]]): a `DataFrameWriter` job writes the batch into a
    * fresh staging dir beside the table, and its part files are renamed
    * into the table under the same partition dirs. Part-file names embed
    * the writing job's UUID, so they never collide across writers. Two
    * processes appending one table therefore never share a committer
    * `_temporary/0` tree, and only finished files ever enter the table,
    * which is what `mode("append")` on a shared path cannot promise. A
    * crash before the renames leaves the table as it was: the batch was
    * never acked upstream, so the pipeline replays it. The reference
    * leans on Cassandra's per-cell LWW for the same multi-writer
    * guarantee (`queries.ex:87-155`).
    */
  private[graft] def appendAtomic(df: DataFrame, path: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val dir = StagedCommit.beside(path)
    StagedCommit(Seq(dir), conf) {
      val w = df.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(dir.toString)
      StagedCommit.mirror(dir.getFileSystem(conf), dir, path, path)
    }
  }

  /** The shared leaf rewrite of maintenance (sweep, compaction,
    * [[LwwTable.compact]], the deletion-vector fold of
    * [[FileIndex.vacuumBefore]]): snapshot the leaf's CURRENT data files,
    * stage `transform(snapshot)` beside `table`, move the staged files
    * into the leaf under their own unique names ([[StagedCommit]]), and
    * only then retire exactly the snapshot files. The snapshot folds
    * byte-identical duplicates, so repeated crash/re-run cycles converge
    * instead of accreting copies. Three properties fall out:
    *   - no state ever holds the only copy of a row outside the leaf:
    *     originals are untouched until their replacements are all in
    *     place. A crash before the move-in leaves the leaf as it was
    *     (staged files are never table data); a crash during it leaves
    *     byte-identical duplicates, which reads fold and the next
    *     compaction converges. There is no stale-vs-only-copy judgment
    *     whose wrong branch loses data;
    *   - a concurrent appender's files (new names, never in the
    *     snapshot) are never deleted or moved — append + sweep/compact
    *     cannot lose rows, which a directory-level delete+rename swap
    *     could (the appended file vanishes with the directory);
    *   - readers never see a missing partition; between move-in and
    *     retire they can see live rows twice, and the read path
    *     already folds byte-identical duplicates (`dropDuplicates`,
    *     the same replay-tolerance rule the appender relies on) —
    *     expired rows are likewise invisible at read time
    *     (`datastreams(spark, nowMs)`), so partial retirement never
    *     shows a wrong ANSWER. One visibility caveat remains: a read
    *     job that planned its file list just before a retirement can
    *     fail with FileNotFoundException when its tasks open the
    *     retired files — a visible, retryable failure (re-planning
    *     sees the replacements). That is deliberately NOT papered
    *     over with ignoreMissingFiles, which would silently drop the
    *     retired files' rows from that read instead.
    * True multi-writer ACID needs a commit-log table format
    * (Delta/Iceberg); on plain parquet this protocol has no lost-row
    * window at all and only a benign transient-duplicate window that
    * the read semantics absorb.
    */
  private[storage] def rewriteLeaf(spark: SparkSession, table: String,
      leaf: org.apache.hadoop.fs.Path,
      transform: DataFrame => DataFrame): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = leaf.getFileSystem(conf)
    val snapshot = fs.listStatus(leaf)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    if (snapshot.isEmpty) return
    // mergeSchema: after a minor bump one leaf can mix pre-bump files
    // (no v_<new>) with post-bump files — a single-footer schema pick
    // would silently drop the new column from the rewrite
    val out = transform(
      spark.read.option("mergeSchema", "true")
        .parquet(snapshot.map(_.getPath.toString).toSeq: _*)
        .dropDuplicates())
    val dir = StagedCommit.beside(table)
    StagedCommit(Seq(dir), conf) {
      out.write.mode("overwrite").parquet(dir.toString)
      // probe the (small) staged OUTPUT for emptiness — an isEmpty on
      // `out` would run a second full scan over the exact leaves chosen
      // for being large. An empty `out` means every row expired: the
      // retirement below IS the rewrite then.
      if (spark.read.parquet(dir.toString).isEmpty) Nil
      else StagedCommit.mirror(fs, dir, table, leaf.toString)
    }
    // commit point: replacements are all in the leaf; retire the
    // snapshot files
    snapshot.foreach(f => fs.delete(f.getPath, false))
  }

  /** Last path segment of an endpoint: the leaf key inside the object
    * payload and the `v_<leaf>` column suffix.
    */
  def leafNameOf(endpoint: String): String =
    endpoint.substring(endpoint.lastIndexOf('/') + 1)

  /** Parquet type of a `v_<leaf>` column. Datetimes land as
    * epoch-millis longs (the same convention as the datastream
    * `datetime_value` column); everything else is its natural type.
    */
  def objectLeafType(t: AstarteValueType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    t match {
      case AstarteValueType.ADateTime => LongType
      case AstarteValueType.ADateTimeArray => ArrayType(LongType)
      case other => other.sparkType
    }
  }
}

/** One folded device row (reference `devices` table,
  * database_test_helper.exs:39-64): connection/disconnection columns,
  * lifetime totals, introspection maps and per-(interface,major)
  * exchanged counters. `last_connection`/`last_disconnection` are -1
  * until the first connect/disconnect lands.
  */
final case class DeviceRow(
    device_id: String,
    connected: Boolean,
    last_connection: Long,
    last_disconnection: Long,
    last_seen_ip: String,
    pending_empty_cache: Boolean,
    total_received_msgs: Long,
    total_received_bytes: Long,
    introspection: Map[String, Int],
    introspection_minor: Map[String, Int],
    exchanged_msgs_by_interface: Map[String, Long],
    exchanged_bytes_by_interface: Map[String, Long],
    // A4: removed/upgraded interface versions, "name:major" -> minor,
    // accumulated across introspection patches (never replaced)
    old_introspection: Map[String, Int] = Map.empty,
    // ST5: bumped by every patch (connect/stats/introspection), not
    // just connects — the reference's per-message last_seen update
    last_seen_ms: Long = -1L)

object DeviceRow {
  private val LongField = """"(total_received_msgs|total_received_bytes)":(\d+)""".r
  private val IpField = """"last_seen_ip":"([^"]*)"""".r
  private val PairEntry = """"([^"]+)":\[(\d+),(\d+)\]""".r

  private def pairMap(json: String, key: String): Option[Map[String, (Long, Long)]] = {
    val marker = "\"" + key + "\":{"
    val at = json.indexOf(marker)
    if (at < 0) None
    else {
      val body = json.substring(at + marker.length, json.indexOf('}', at))
      Some(PairEntry.findAllMatchIn(body)
        .map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap)
    }
  }

  /** Apply the patch log in (reception, submillis) order. Patches are
    * the deterministic JSON shapes DeviceProcessor emits — connect,
    * disconnect+stats flush, introspection replace, empty-cache flag.
    */
  def fold(deviceId: String, patches: Iterator[(Long, Int, String)]): DeviceRow = {
    var r = DeviceRow(deviceId, connected = false, -1L, -1L, null,
      pending_empty_cache = false, 0L, 0L, Map.empty, Map.empty, Map.empty, Map.empty)
    patches.toSeq.sortBy(p => (p._1, p._2)).foreach { case (tsMs, _, json) =>
      r = r.copy(last_seen_ms = math.max(r.last_seen_ms, tsMs))
      if (json.contains("\"connected\":true"))
        r = r.copy(connected = true, last_connection = tsMs,
          last_seen_ip = IpField.findFirstMatchIn(json).map(_.group(1)).getOrElse(r.last_seen_ip))
      if (json.contains("\"connected\":false"))
        r = r.copy(connected = false, last_disconnection = tsMs)
      // totals are MONOTONE lifetime counters: merge with max so a
      // stats flush stamped earlier (a late message's batch) can
      // never regress the fold below a higher already-applied count
      LongField.findAllMatchIn(json).foreach { m =>
        if (m.group(1) == "total_received_msgs")
          r = r.copy(total_received_msgs = math.max(r.total_received_msgs, m.group(2).toLong))
        else
          r = r.copy(total_received_bytes = math.max(r.total_received_bytes, m.group(2).toLong))
      }
      pairMap(json, "introspection").foreach { m =>
        r = r.copy(
          introspection = m.map { case (k, v) => k -> v._1.toInt },
          introspection_minor = m.map { case (k, v) => k -> v._2.toInt })
      }
      pairMap(json, "old_introspection").foreach { m =>
        // accumulates: every past (name, major) stays recorded
        r = r.copy(old_introspection =
          r.old_introspection ++ m.map { case (k, v) => k -> v._2.toInt })
      }
      pairMap(json, "exchanged").foreach { m =>
        // same monotone-merge per (interface, major) key
        def maxMerge(old: Map[String, Long], nw: Map[String, Long]) =
          old ++ nw.map { case (k, v) => k -> math.max(v, old.getOrElse(k, 0L)) }
        r = r.copy(
          exchanged_msgs_by_interface = maxMerge(
            r.exchanged_msgs_by_interface, m.map { case (k, v) => k -> v._1 }),
          exchanged_bytes_by_interface = maxMerge(
            r.exchanged_bytes_by_interface, m.map { case (k, v) => k -> v._2 }))
      }
      if (json.contains("\"pending_empty_cache\":true")) r = r.copy(pending_empty_cache = true)
      if (json.contains("\"pending_empty_cache\":false")) r = r.copy(pending_empty_cache = false)
    }
    r
  }
}

/** Re-encode a sparse typed property row back into the BSON `{v: _}`
  * session-state form — the inverse of
  * [[graft.functions.BsonDecodeTyped]], used by the
  * ST8 bootstrap.
  */
object PropertyReencode {
  import graft.core.{AstarteValueType, Bson}

  def toBson(r: org.apache.spark.sql.Row): Array[Byte] = {
    val value: Any = AstarteValueType.all.iterator.map { t =>
      val i = r.fieldIndex(t.columnName)
      if (r.isNullAt(i)) null
      else t match {
        case AstarteValueType.ADateTime =>
          java.time.Instant.ofEpochMilli(r.getLong(i))
        case AstarteValueType.ADateTimeArray =>
          r.getSeq[Long](i).map(java.time.Instant.ofEpochMilli)
        case _ if t.isArray => r.getSeq[Any](i)
        case _ => r.get(i)
      }
    }.find(_ != null).orNull
    Bson.encode(Seq("v" -> value))
  }
}

