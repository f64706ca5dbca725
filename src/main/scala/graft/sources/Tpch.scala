package graft.sources

import graft.Db
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Runs the reference's 16 TPC-H query files VERBATIM
  * (/root/reference/tpch/skinnerqueries, schema
  * /root/reference/tpch/skinner.schema.sql) over the harness testdata. The
  * testdata tables carry the column subset its own queries need, so this
  * registers AUGMENTED views: the original rows plus deterministically
  * derived values (xxhash64 of the row keys) for the columns the reference
  * texts reference — commit/receipt dates, ship modes/instructions,
  * containers, manufacturers, phones — and a generated `partsupp` (4
  * hash-assigned suppliers per part, the TPC-H shape). Filter vocabularies
  * match the reference constants (LG CAN / MED BOX / AIR REG / DELIVER IN
  * PERSON / Manufacturer#1..5), so the selective texts produce rows, not
  * just plans.
  */
object Tpch {

  val queriesDir = "/root/reference/tpch/skinnerqueries"

  private def h(n: Int, cols: Column*): Column =
    pmod(xxhash64(cols: _*), lit(n)).cast("int")

  private def vocab(values: Seq[String], sel: Column): Column =
    element_at(array(values.map(lit): _*), sel + 1)

  private val shipModes =
    Seq("AIR", "AIR REG", "SHIP", "MAIL", "TRUCK", "RAIL", "FOB")
  private val shipInstructs =
    Seq("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
  private val containers = for {
    size <- Seq("SM", "MED", "LG", "JUMBO", "WRAP")
    kind <- Seq("CASE", "BOX", "PACK", "PKG", "CAN", "BAG", "JAR", "DRUM")
  } yield s"$size $kind"
  // testdata p_type is the first syllable only (MEDIUM/STANDARD/…); the
  // reference texts filter the full three-word TPC-H form ('%TIN',
  // 'ECONOMY ANODIZED STEEL'), so the view appends syllables 2 and 3
  private val typeSyl2 = Seq("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
  private val typeSyl3 = Seq("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")

  /** Register every table the reference texts need as a temp view (bare
    * TPC-H names), augmenting testdata tables in place. Idempotent. */
  def ensure(spark: SparkSession, dir: String): Unit = {
    val d = Db(spark, dir)

    val lineitem = d.lineitem
      .withColumn("l_commitdate", // orderdate+shipdate vicinity: ±30 days
        col("l_shipdate") + make_dt_interval(
          days = h(61, col("l_orderkey"), col("l_linenumber"), lit("cd")) - 30))
      .withColumn("l_receiptdate", // always after shipdate, 1..30 days
        col("l_shipdate") + make_dt_interval(
          days = h(30, col("l_orderkey"), col("l_linenumber"), lit("rd")) + 1))
      .withColumn("l_shipmode", vocab(shipModes,
        h(shipModes.size, col("l_orderkey"), col("l_linenumber"), lit("sm"))))
      .withColumn("l_shipinstruct", vocab(shipInstructs,
        h(shipInstructs.size, col("l_orderkey"), col("l_linenumber"), lit("si"))))

    val orders = d.orders.withColumn("o_shippriority", lit(0))

    val part = d.part
      .withColumn("p_container",
        vocab(containers, h(containers.size, col("p_partkey"), lit("pc"))))
      .withColumn("p_mfgr",
        concat(lit("Manufacturer#"), (h(5, col("p_partkey"), lit("pm")) + 1)))
      .withColumn("p_type", concat(col("p_type"), lit(" "),
        vocab(typeSyl2, h(typeSyl2.size, col("p_partkey"), lit("t2"))), lit(" "),
        vocab(typeSyl3, h(typeSyl3.size, col("p_partkey"), lit("t3")))))

    val customer = d.customer
      .withColumn("c_address", concat(lit("Address C"), col("c_custkey")))
      .withColumn("c_phone", format_string("%02d-%03d-%03d-%04d",
        col("c_nationkey") + 10, h(1000, col("c_custkey"), lit("p1")),
        h(1000, col("c_custkey"), lit("p2")), h(10000, col("c_custkey"), lit("p3"))))
      .withColumn("c_comment", concat(lit("customer comment "), col("c_custkey")))

    val supplier = d.supplier
      .withColumn("s_address", concat(lit("Address S"), col("s_suppkey")))
      .withColumn("s_phone", format_string("%02d-%03d-%03d-%04d",
        col("s_nationkey") + 10, h(1000, col("s_suppkey"), lit("p1")),
        h(1000, col("s_suppkey"), lit("p2")), h(10000, col("s_suppkey"), lit("p3"))))
      .withColumn("s_comment", concat(lit("supplier comment "), col("s_suppkey")))

    // partsupp: 4 hash-assigned suppliers per part (the TPC-H multiplicity);
    // supplier keys in the testdata are contiguous from 0, so pmod lands on
    // real keys. distinct() because two of a part's 4 draws may collide.
    val nSupp = d.supplier.count().toInt
    val partsupp = d.part.select(col("p_partkey").as("ps_partkey"))
      .withColumn("i", explode(array((0 until 4).map(lit): _*)))
      .withColumn("ps_suppkey",
        pmod(xxhash64(col("ps_partkey"), col("i"), lit("ps")), lit(nSupp))
          .cast(d.supplier.schema("s_suppkey").dataType))
      .select("ps_partkey", "ps_suppkey").distinct()
      .withColumn("ps_availqty", h(9999, col("ps_partkey"), col("ps_suppkey"), lit("aq")) + 1)
      .withColumn("ps_supplycost",
        ((h(99999, col("ps_partkey"), col("ps_suppkey"), lit("sc")) + 1) / 100.0))

    val views: Seq[(String, DataFrame)] = Seq(
      "lineitem" -> lineitem, "orders" -> orders, "part" -> part,
      "customer" -> customer, "supplier" -> supplier,
      "nation" -> d.nation, "region" -> d.region, "partsupp" -> partsupp)
    // MATERIALIZE the augmented tables (once per process; rewritten if a
    // different sf dir is requested) and register views over the parquet
    // reads: derived-column Projects and the Generate/Aggregate in
    // partsupp's generator are not scan-shaped leaves, so the UCT rule
    // would (correctly) decline to sample them; materialized they are plain
    // scans — the same base-table shape the reference joins. A fixed (per-
    // process) path keeps the DuckDB oracle SQL (built at registry time,
    // before the sf dir is known) pointing at the right files.
    synchronized {
      if (!writtenFor.contains(dir)) {
        views.foreach { case (n, df) =>
          df.write.mode("overwrite").parquet(s"$root/$n.parquet")
        }
        writtenFor = Some(dir)
        frames.clear() // materialized files changed under the cached frames
      }
      // the VIEW must be (re-)registered every call — other gates bind the
      // same bare names (Db.registerAll) between queries — but the analyzed
      // frame is cached so only the first call lists the 8 dirs and reads
      // their footers, in one pass on the driver (see Db.cachedParquet)
      frames.keySet.removeIf(_._1.sparkContext.isStopped)
      Db.cachedParquet(frames, spark,
        tableNames.map(n => (spark, n) -> s"$root/$n.parquet"))
        .zip(tableNames).foreach { case (df, n) => df.createOrReplaceTempView(n) }
    }
  }

  private val frames = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()

  /** Fixed per-process home of the materialized augmented tables. */
  val root: String = s"${graft.Scratch.root}/tpch"

  @volatile private var writtenFor: Option[String] = None

  val tableNames: Seq[String] = Seq("lineitem", "orders", "part", "customer",
    "supplier", "nation", "region", "partsupp")

  /** DuckDB oracle for a reference query file: CTEs bind every TPC-H table
    * name to the exact parquet files `ensure` wrote (same pattern as
    * [[Imdb.oracleFor]]), then the original text runs verbatim. */
  def oracleFor(file: String): String = {
    val ctes = tableNames.map(t =>
      s""""$t" AS (SELECT * FROM read_parquet('$root/$t.parquet/*.parquet'))""")
      .mkString("WITH ", ",\n     ", "\n")
    ctes + queryText(file)
  }

  /** The normalization wrapper both engines run around a verbatim text:
    * the reference SQL executes UNCHANGED as a subquery; `cols` re-projects
    * its output, rounding double aggregates below cross-engine
    * summation-order noise and pinning integer result types (DuckDB's
    * sum(int) widens to HUGEINT, extract(year) to BIGINT). */
  def wrappedText(file: String, cols: String): String =
    s"SELECT $cols FROM (\n${queryText(file)}\n) t"

  /** CTE-prefixed oracle for a normalization-wrapped verbatim text. */
  def oracleWrapped(file: String, cols: String): String = {
    val ctes = tableNames.map(t =>
      s""""$t" AS (SELECT * FROM read_parquet('$root/$t.parquet/*.parquet'))""")
      .mkString("WITH ", ",\n     ", "\n")
    ctes + wrappedText(file, cols)
  }

  /** The reference query files, sorted (q01.sql … q20.sql). */
  def queryFiles: Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(queriesDir)
    scala.util.Using.resource(java.nio.file.Files.list(p)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".sql")).toSeq
    }.sortBy(_.getFileName.toString)
  }

  def queryText(file: String): String =
    java.nio.file.Files.readString(
      java.nio.file.Paths.get(queriesDir, file)).trim.stripSuffix(";")
}
