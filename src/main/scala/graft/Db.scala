package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShims
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table access + cross-engine-deterministic numeric helpers.
  *
  * Mirrors the reference catalog surface (SkinnerDB `CatalogManager` /
  * `BufferManager`, see /root/reference/src/catalog/CatalogManager.java:24-43)
  * as a thin registry over parquet: Spark's Tungsten/Parquet stack replaces
  * the reference's hand-rolled columnar buffer pool entirely (SURVEY.md §1.3).
  */
final case class Db(spark: SparkSession, dir: String) {
  /** Analyzed base frames are cached per (session, dir, table), so only
    * the first access lists the directory and reads the schema; plans on top
    * of the cached relation stay fully lazy. The schema comes from the
    * parquet footer, read on the driver ([[Db.readParquet]]): Spark's own
    * inference runs a one-task job per table. Mirrors the reference's
    * load-once catalog (SkinnerDB's `BufferManager.loadDB`).
    */
  def table(name: String): DataFrame = load(Seq(name)).head

  /** The cached frames of `names`; the footers of those not cached yet are
    * read in one parallel pass. A miss first drops entries of stopped
    * sessions, so a long-lived process doesn't retain dead sessions'
    * analyzed plans; a dir rewritten mid-session still needs an explicit
    * Db.clearFrameCache() (documented there). */
  private def load(names: Seq[String]): Seq[DataFrame] = {
    val keys = names.map(n => (spark, dir, n))
    if (!keys.forall(Db.frameCache.containsKey))
      Db.frameCache.keySet.removeIf(_._1.sparkContext.isStopped)
    Db.cachedParquet(Db.frameCache, spark, keys.zip(names.map(n => s"$dir/$n.parquet")))
  }

  def region: DataFrame    = table("region")
  def nation: DataFrame    = table("nation")
  def customer: DataFrame  = table("customer")
  def supplier: DataFrame  = table("supplier")
  def part: DataFrame      = table("part")
  def orders: DataFrame    = table("orders")
  def lineitem: DataFrame  = table("lineitem")
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** events.ts has shipped as either parquet TIMESTAMP(NANOS) — which Spark's
    * parquet reader rejects ([PARQUET_TYPE_ILLEGAL]) unless read as raw nanos
    * via the legacy conf and truncated to micros — or as a plain micros
    * timestamp. Adapt to the physical type on file so both generations load,
    * and surface micros TIMESTAMP_NTZ either way — exactly what DuckDB sees —
    * so both engines agree on micro-precision wall-clock values.
    */
  def events: DataFrame = {
    setNanosAsLong()
    val raw = table("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw // native micros, already the shape DuckDB sees
      case org.apache.spark.sql.types.TimestampType =>
        // UTC-adjusted micros: safe only because GraftSession pins the
        // session timezone to UTC, making the cast a wall-clock identity
        raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
      case other =>
        sys.error(s"events.ts arrived as unsupported parquet type $other — " +
          "extend Db.events for this generation rather than lossy-casting")
    }
  }

  private def setNanosAsLong(): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Register every table as a temp view (for spark.sql use). `events` is
    * registered through the converting getter so the SQL facade sees the same
    * micros TIMESTAMP_NTZ schema as Db.events and the DuckDB oracle (the raw
    * parquet is TIMESTAMP(NANOS), which would surface as a BIGINT — or throw
    * outright if the nanosAsLong conf was not yet set). Every footer is read
    * in one pass, after that conf is set, and no Spark job runs. */
  def registerAll(): Unit = {
    setNanosAsLong()
    load(Db.tableNames)
    Db.tableNames.foreach { n =>
      val df = if (n == "events") events else table(n)
      df.createOrReplaceTempView(n)
    }
  }
}

object Db {
  private val frameCache =
    new ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  /** Force re-reads after a table directory was rewritten externally (the
    * cached frame pins the file listing read at first access); also the test
    * hook for specs that rewrite parquet dirs mid-session. */
  def clearFrameCache(): Unit = frameCache.clear()

  /** `spark.read.parquet(path)` with the schema read from a footer on the
    * driver instead of by Spark's one-task inference job. The analyzed plan
    * is the same; where the driver read cannot decide (see
    * `GraftParquetShims.footerSchemas`), Spark's own read runs and raises
    * its own error. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    parquet(spark, path, GraftParquetShims.footerSchemas(spark, Seq(path)).head)

  /** The frame cached under each key, reading the missing ones from their
    * paths like [[readParquet]], with all their footers read in one pass. */
  private[graft] def cachedParquet[K](cache: ConcurrentHashMap[K, DataFrame],
      spark: SparkSession, entries: Seq[(K, String)]): Seq[DataFrame] = {
    val missing = entries.filterNot(e => cache.containsKey(e._1))
    val schemas = missing.map(_._1)
      .zip(GraftParquetShims.footerSchemas(spark, missing.map(_._2))).toMap
    entries.map { case (k, p) =>
      cache.computeIfAbsent(k, _ => parquet(spark, p, schemas.getOrElse(k, None)))
    }
  }

  private def parquet(spark: SparkSession, path: String,
      schema: Option[StructType]): DataFrame =
    schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Timestamp-NTZ literal (testdata timestamps are parquet
    * isAdjustedToUTC=false, which Spark 4 reads as TIMESTAMP_NTZ).
    */
  def ts(s: String): Column = {
    val iso = if (s.contains("T")) s else s + "T00:00:00"
    lit(java.time.LocalDateTime.parse(iso))
  }

  // --- Cross-engine-deterministic money/ratio arithmetic -------------------
  // Double sums depend on partition merge order; to make results bit-identical
  // run-to-run AND engine-to-engine (vs the DuckDB oracle), money aggregation
  // is done in exact decimal and only cast to double at the end. The reference
  // has no decimal type at all (SkinnerDB parses NUMERIC as double,
  // /root/reference/src/types/TypeUtil.java:131-133); decimals here are purely
  // an internal determinism device — the user-visible type stays double.

  /** Prices / balances: < 1e10, two decimals. */
  def dec(c: Column): Column = c.cast("decimal(12,2)")

  /** Rates (discount, tax): < 1e2, two decimals. */
  def rate(c: Column): Column = c.cast("decimal(4,2)")

  /** Exact decimal sum surfaced as double. */
  def moneySum(c: Column): Column = sum(c).cast("double")

  /** Deterministic average of a 2-decimal double column. */
  def avg2(c: Column): Column = sum(dec(c)).cast("double") / count(lit(1))

  /** Spread a COMPUTE-HEAVY map stage across the session parallelism —
    * scale-adaptively. A map stage inherits its input's partition count,
    * and a small single-row-group parquet file (a row group is the
    * reader's atomic unit) yields a ONE-task scan, so per-row-expensive
    * work (tokenize + n-gram hashing, per-document lambdas, media
    * decode) serializes on one core however many are idle — guide §2.5's
    * "one huge unsplittable file: repartition immediately after the
    * read". The repartition is added ONLY when the input has fewer
    * partitions than the session parallelism: at cluster scale the scan
    * already carries ≥ p splits and this is a no-op (no extra exchange),
    * so it is not a local-only tuning constant. Round-robin keeps sizes
    * even; Spark's sort-before-repartition keeps the row placement
    * deterministic under retry. Use ONLY where per-row work dominates —
    * an extra exchange under a cheap map is pure cost. */
  def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batches are already split
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    if (scanPartitions(df) < p) df.repartition(p) else df
  }

  /** The map-stage partition count feeding `df`, WITHOUT a physical
    * planning pass. The previous probe (`df.rdd.getNumPartitions`) forced
    * a full plan → RDD conversion once per call site per execution —
    * measured as part of the per-query floor (VERDICT r15 #4). All spread
    * call sites are map-only subtrees over one leaf, whose partition
    * count is the LEAF's:
    *  - unpartitioned file sources: replay FilePartition's split packing
    *    over the relation's (cached) file listing — the same arithmetic
    *    FileSourceScanExec uses, reading only catalog metadata. A
    *    partitioned source takes the exact probe below: the listing here
    *    ignores partition filters, so a pruned scan would over-count;
    *  - RDD-backed leaves (localCheckpoint): the RDD's partition count
    *    is already known;
    *  - anything else (multiple leaves, exotic sources): fall back to
    *    the exact physical probe — correctness of the DECISION never
    *    depends on the estimate, only whether a repartition is added.
    */
  private[graft] def scanPartitions(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collectLeaves() match {
      case Seq(l: LogicalRelation) => l.relation match {
        case fs: HadoopFsRelation if fs.partitionSchema.isEmpty =>
          val parts = fs.location.listFiles(Nil, Nil)
          val maxSplit = FilePartition.maxSplitBytes(df.sparkSession, parts)
          val openCost =
            df.sparkSession.sessionState.conf.filesOpenCostInBytes
          var padded = 0L
          var splits = 0L
          parts.foreach(_.files.foreach { f =>
            padded += f.getLen + openCost
            splits += math.max(1L, (f.getLen + maxSplit - 1) / maxSplit)
          })
          // splits are bin-packed to ~maxSplit bytes per partition
          math.min(splits, (padded + maxSplit - 1) / maxSplit)
            .min(Int.MaxValue).toInt
        case _ => df.rdd.getNumPartitions
      }
      case Seq(r: org.apache.spark.sql.execution.LogicalRDD) =>
        r.rdd.getNumPartitions
      case _ => df.rdd.getNumPartitions
    }
  }
}
