package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Engine facade (the Spark-side analog of the reference's console/master
  * entry, /root/reference/src/console/SkinnerCmd.java + src/execution/
  * Master.java): builds a session with the graft extensions (UCT join-order
  * rule) installed, registers the testdata tables, and executes SQL.
  */
object GraftSession {

  /** Session tuned for the local[32] harness but shaped for cluster use:
    * AQE on (runtime re-planning — the counterpart of the reference's
    * intra-query adaptivity), modest shuffle partitions to match core count.
    */
  def create(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet is TIMESTAMP(NANOS); set at session build so reads
      // never depend on whether Db.events (which also sets it) ran first
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // generated classes are cached per (classloader, code). With artifact
      // isolation on, every cloned session (each writeStream.start()) gets
      // its own executor classloader and recompiles the same code; graft
      // adds no session artifacts, so isolation buys nothing
      .config("spark.sql.artifact.isolation.enabled", "false")
      // one q154 execution generates ~95 classes; the default 100-entry
      // bound, split over the cache's segments, evicts them every run
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      // the default FileContext-based manager renames each checkpoint file
      // through AbstractFileSystem.renameInternal, which without libhadoop
      // forks a `readlink` process twice per rename; the FileSystem-based
      // one keeps the same write-temp-then-rename protocol and Spark's
      // checksum files but renames with File.renameTo
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[FileSystemBasedCheckpointFileManager].getName)
      // without libhadoop, RawLocalFileSystem.setPermission forks `chmod`
      // on every file create; this file system sets the same mode bits
      // through java.nio
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft_warehouse"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with the session conf keys set to the given values, then
    * put each key back: its earlier value if it had been set, unset if it
    * had not. Whether a key was set is read from `conf.getAll`, because
    * `conf.getOption` reports a registered key's default as if it were set,
    * and restoring that would leave the key set. The session conf is
    * shared, so a concurrent query on the same session sees these values
    * while `body` runs. */
  def withConf[T](s: SparkSession, settings: (String, String)*)(body: => T): T = {
    val set = s.conf.getAll
    val prev = settings.map { case (k, _) => k -> set.get(k) }
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Register one parquet-backed relation under a name (the reference's
    * `registerTable` catalog surface). */
  def registerTable(spark: SparkSession, name: String, path: String): Unit =
    Db.readParquet(spark, path).createOrReplaceTempView(name)

  /** Register every testdata table under its bare name and run SQL. */
  def execute(spark: SparkSession, dir: String, sql: String): DataFrame = {
    Db(spark, dir).registerAll()
    spark.sql(sql)
  }

  /** SELECT ... INTO-style materialization (the reference's target-relation
    * plumbing, /root/reference/src/execution/Master.java:46-60): evaluate a
    * query and register the result under a relation name for later queries.
    */
  def materialize(df: org.apache.spark.sql.DataFrame, name: String): Unit =
    df.createOrReplaceTempView(name)

  /** Install a QueryExecutionListener that appends one BenchUtil-shaped CSV
    * row per completed action (the reference's per-query stats emission,
    * /root/reference/src/benchmark/BenchUtil.java:66-113 /
    * JoinStats.java vocabulary): wall millis, output rows when cheap to
    * know, and — when the UCT rule fired during that query's optimization —
    * relation count, learned order, episodes, tree nodes.
    * Returns the listener so callers can remove it.
    */
  def installStatsListener(spark: SparkSession, outCsv: String):
      org.apache.spark.sql.util.QueryExecutionListener = {
    val path = java.nio.file.Paths.get(outCsv)
    if (path.getParent != null) java.nio.file.Files.createDirectories(path.getParent)
    if (!java.nio.file.Files.exists(path))
      java.nio.file.Files.writeString(path,
        "Millis,NrRelations,JoinOrder,NrSamples,NrUctNodes,Query\n")
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def row(qe: org.apache.spark.sql.execution.QueryExecution,
                      durationNs: Long): String = {
        // read-only: clearing here would race the rule's internal
        // sample-collect jobs (each is itself a listener action) and
        // Console/Explain, which reset-then-read around plan construction
        val uct = graft.plans.UctJoinReorderRule.lastStats
          .map(s => s"${s.nrRelations},${s.order.mkString("[", " ", "]")}," +
            s"${s.nrSamples},${s.nrUctNodes}")
          .getOrElse(",,,")
        f"${durationNs / 1e6}%.1f,$uct," +
          qe.analyzed.toString.linesIterator.next().take(80).replace(",", ";") + "\n"
      }
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        java.nio.file.Files.writeString(path, row(qe, durationNs),
          java.nio.file.StandardOpenOption.APPEND)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        java.nio.file.Files.writeString(path, s"-1,,,,,${e.getClass.getSimpleName}\n",
          java.nio.file.StandardOpenOption.APPEND)
    }
    spark.listenerManager.register(listener)
    listener
  }

  /** Persist a relation bucketed (and sorted) by a join key — the
    * cluster-scale analog of the reference's index build
    * (/root/reference/src/indexing/Indexer.java:23-37): two tables bucketed
    * on the same key with the same bucket count join with NO shuffle
    * exchange on either side (asserted in SourcesSpec). */
  def writeBucketed(df: org.apache.spark.sql.DataFrame, name: String,
                    key: String, nBuckets: Int): Unit = {
    val spark = df.sparkSession
    // a previous process may have left the managed location behind while this
    // session's in-memory catalog has no entry for it — overwrite mode then
    // fails with LOCATION_ALREADY_EXISTS; drop both catalog entry and dir
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(loc, true)
    df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, key).sortBy(key).saveAsTable(name)
  }
}
