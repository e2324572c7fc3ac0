package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared text shingling: word n-grams of a token-array column, as an
  * array Column. Docs with fewer than n tokens yield an EMPTY array —
  * the naive `sequence(1, size(tk) - (n-1))` form crashes there,
  * because Spark's `sequence(1, 0)` steps DOWN to `[1, 0]` and
  * `element_at(tk, 0)` / out-of-range indices throw under ANSI mode
  * (Spark 4 default).
  */
object Shingles {
  def wordNgrams(tokens: Column, n: Int): Column =
    when(size(tokens) >= n,
      transform(sequence(lit(1), size(tokens) - (n - 1)),
        i => concat_ws(" ",
          (0 until n).map(j => element_at(tokens, (i + j).cast("int"))): _*)))
      .otherwise(expr("cast(array() as array<string>)"))

  /** Adjacent token pairs as (w1, w2) structs — the bigram key
    * WITHOUT the joined-string detour (r17 opt round): keying on the
    * pair skips the per-occurrence concat_ws on the explode path and
    * the two substring_index calls per distinct bigram on the model
    * path. Bijective with `wordNgrams(tk, 2)`'s "w1 w2" string
    * because split-on-space tokens cannot contain the separator. */
  def wordPairs(tokens: Column): Column =
    when(size(tokens) >= 2,
      transform(sequence(lit(1), size(tokens) - 1),
        i => struct(element_at(tokens, i.cast("int")).as("w1"),
          element_at(tokens, (i + 1).cast("int")).as("w2"))))
      .otherwise(expr("cast(array() as array<struct<w1:string,w2:string>>)"))
}

/** Parquet table loader for the driver-provided TPC-H-ish testdata
  * (see /root/repo/TESTDATA.md), normalized to ONE canonical schema
  * per table.
  *
  * Every accessor conforms the physical parquet to the declared
  * contract below — names, order, and canonical types — so a testdata
  * regeneration that drifts a physical encoding (the round-7 failure
  * mode: `events.ts` flipped TIMESTAMP(NANOS) → timestamp[us] and 22
  * queries broke at once) lands in exactly one normalization point and
  * one contract spec, never in scattered query sites. The reference
  * makes the same move at its single decode boundary
  * (`payloads_decoder.ex:29-62`): every payload shape funnels through
  * one normalizing entry before any consumer sees it.
  *
  * Absorbed drift classes (each cast is a no-op Project entry when the
  * physical type already matches, so pushdown/pruning are unaffected):
  *   - integral width (int ↔ bigint)
  *   - float/decimal → double, and array element float ↔ double
  *   - date / TIMESTAMP(LTZ) / TIMESTAMP_NTZ → canonical timestamp_ntz
  *     (LTZ rebuilt from epoch micros — session-zone independent)
  *   - `events.ts` → canonical epoch-NANOS long (see normalizeTs)
  * Anything else — a missing column, a string column arriving numeric —
  * throws IllegalStateException AT THE TABLE BOUNDARY naming the
  * table.column, instead of erroring N queries downstream. Columns a
  * regeneration ADDS are dropped by the projection: queries keep
  * compiling against the contract they were written for.
  */
object Tables {

  /** Canonical `events.ts` contract: epoch-NANOS long, whatever the
    * parquet physically stores. The reference normalizes its envelope
    * timestamp in exactly one place (`impl.ex:94,335` — decimicros→ms
    * on decode); this is that place for the batch side. Handled input
    * shapes:
    *   - INT64 TIMESTAMP(NANOS) read under
    *     `spark.sql.legacy.parquet.nanosAsLong=true` → already a long
    *     of nanos, passed through;
    *   - TIMESTAMP (LTZ) → `unix_micros * 1000` (reads the internal
    *     epoch-micros directly, session-timezone independent);
    *   - TIMESTAMP_NTZ (what `timestamp[us]` parquet infers to) → the
    *     naive wall-clock is the epoch reading DuckDB's `epoch_us(ts)`
    *     uses, so measure it with pure wall-clock FIELD arithmetic
    *     (epoch days + hour/minute/second extractions — all
    *     zone-blind on NTZ input). Every instant-mediated route is
    *     session-zone dependent somewhere: cast-to-LTZ and
    *     `to_utc_timestamp` interpret the wall clock in the session
    *     zone, and even `timestampdiff` converts NTZ operands through
    *     it — each off by the DST delta near the zone's transitions
    *     (verified by the skipped-hour case in SchemaContractSpec).
    * Every downstream `ts` consumer (div 1000 → micros, div 1000000 →
    * millis, typed `getAs[Long]("ts")` lambdas) builds on this one
    * contract.
    */
  private def normalizeTs(have: DataType): Column = have match {
    case LongType          => col("ts")
    case TimestampType     => unix_micros(col("ts")) * lit(1000L)
    case TimestampNTZType  =>
      expr("unix_date(cast(ts as date)) * 86400000000L" +
        " + extract(HOUR from ts) * 3600000000L" +
        " + extract(MINUTE from ts) * 60000000L" +
        " + cast(extract(SECOND from ts) * 1000000 as bigint)") * lit(1000L)
    case other => throw new IllegalStateException(
      s"events.ts has unsupported type ${other.simpleString} — extend Tables.normalizeTs")
  }

  /** The canonical column contract of every testdata table. */
  private[graft] val contracts: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq(
      "r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq(
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq(
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> Seq(
      "event_id" -> LongType, "ts" -> LongType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType),
    "documents" -> Seq(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType))

  /** Coerce one physical column to its canonical type, or refuse
    * loudly. Pass-through (no cast node at all) when the type already
    * matches, so the common path stays a bare attribute reference the
    * optimizer collapses into the scan.
    */
  private def normalizeCol(table: String, name: String,
                           have: DataType, want: DataType): Column = {
    val c = col(name)
    val out =
      if (table == "events" && name == "ts") normalizeTs(have)
      // simpleString comparison = equality modulo nullability (which
      // parquet inference varies freely and queries don't depend on)
      else if (have.simpleString == want.simpleString) c
      else (have, want) match {
        case (ByteType | ShortType | IntegerType | LongType,
              ByteType | ShortType | IntegerType | LongType) => c.cast(want)
        case (FloatType | DoubleType | _: DecimalType, DoubleType) => c.cast(want)
        case (DateType | TimestampNTZType, TimestampNTZType) => c.cast(want)
        case (TimestampType, TimestampNTZType) =>
          // session-zone independent LTZ → UTC-wall NTZ: rebuild from
          // the internal epoch micros instead of a zone-aware cast
          expr(s"timestampadd(MICROSECOND, unix_micros($name), " +
            "TIMESTAMP_NTZ'1970-01-01 00:00:00')")
        case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType, _)) =>
          c.cast(want)
        case _ => throw new IllegalStateException(
          s"$table.$name has unsupported type ${have.simpleString} " +
          s"(canonical: ${want.simpleString}) — testdata drift; " +
          "extend Tables.normalizeCol")
      }
    out.as(name)
  }

  private def conform(df: DataFrame, table: String): DataFrame = {
    val physical = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = contracts(table).map { case (name, want) =>
      physical.get(name) match {
        case Some(have) => normalizeCol(table, name, have, want)
        case None => throw new IllegalStateException(
          s"$table.$name missing from parquet " +
          s"(physical columns: ${df.schema.fieldNames.mkString(", ")}) — " +
          "testdata drift; extend Tables.contracts")
      }
    }
    df.select(cols: _*)
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    conform(spark.read.parquet(s"$dir/$name.parquet"), name)

  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame     = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Absolute on-disk footprint below which [[parallelized]] inserts
    * its narrow-row redistribution (256 MB — a shuffle that size
    * costs seconds anywhere, and the map-work parallelism it buys
    * dominates for the explode-heavy consumers that opt in).
    * Production tables at 100 TB are far above it, so the
    * repartition VANISHES at scale — the scan itself then yields
    * ≥ cores splits. */
  private val parallelizeBelowBytes: Long = 256L * 1024 * 1024

  private def pathBytes(p: java.io.File): Long =
    if (p.isDirectory) {
      val fs = p.listFiles(); if (fs == null) 0L else fs.map(pathBytes).sum
    } else p.length()

  /** Scan-parallelism floor for HEAVY per-row map work (r18, guide
    * §2.2 read in reverse — "fewer larger map tasks" assumes bytes
    * track work): Spark sizes splits by BYTES, but the tokenize/
    * explode derivations behind the dd_/tx_ families do ~100× the
    * scan bytes in per-row work, and a small parquet (or one with a
    * single row group, which caps effective split parallelism at one
    * task no matter the split config) serializes the whole pipeline —
    * profiled at sf0.1: every stage of dd_source_overlap/dd_span_dedup
    * ran ONE task on a 32-core session. When the table's on-disk
    * footprint says redistribution is ~free, hash-repartition the
    * narrow PRE-EXPLODE rows (never exploded/derived bulk) to session
    * parallelism on the given key; above the threshold this is the
    * identity — no shuffle is ever inserted for data-sized inputs.
    * The explicit partition count keeps AQE's advisory coalescing
    * (which is bytes-blind to downstream work) from re-collapsing it.
    * Partitioning never changes any query's RESULT: opt-in sites are
    * integer-typed aggregations (no float sum-order sensitivity). */
  private[graft] def parallelized(s: SparkSession, d: String, table: String,
      df: DataFrame, key: Column): DataFrame = {
    val bytes =
      try pathBytes(new java.io.File(s"$d/$table.parquet"))
      catch { case _: Throwable => Long.MaxValue }
    if (bytes < parallelizeBelowBytes)
      df.repartition(s.sparkContext.defaultParallelism, key)
    else df
  }

  /** [[documents]] with the heavy-map-work parallelism floor. */
  def documentsParallel(s: SparkSession, d: String): DataFrame =
    parallelized(s, d, "documents", documents(s, d), col("doc_id"))

  /** [[events]] with the heavy-map-work parallelism floor. */
  def eventsParallel(s: SparkSession, d: String): DataFrame =
    parallelized(s, d, "events", events(s, d), col("event_id"))
}
