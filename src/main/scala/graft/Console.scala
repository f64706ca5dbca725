package graft

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Interactive SQL console — the Spark-side analog of the reference's
  * command shell (/root/reference/src/console/SkinnerCmd.java:298-344):
  * registers the testdata tables and evaluates SQL lines plus the same
  * command vocabulary (`explain`, `bench`, `list`, `help`, `quit`, and the
  * storage commands re-expressed for a distributed engine: `index <table>
  * <col>` pre-buckets a relation on a join key — the cluster-scale analog
  * of the reference's in-memory hash index build — and `compress <table>`
  * rewrites a relation zstd-compressed, the analog of its dictionary
  * compression; per-row-group dictionary encoding itself is automatic in
  * parquet, SURVEY.md §1.3).
  *
  * Usage: Console [sfDir]   (reads stdin until EOF or `quit`)
  */
object Console {

  /** Evaluate one console line; returns the text to print. Factored out of
    * the main loop so ConsoleSpec can drive it directly. */
  def eval(spark: SparkSession, dir: String, line: String): String = {
    val trimmed = line.trim
    val lower = trimmed.toLowerCase
    try {
      if (trimmed.isEmpty) ""
      else if (lower == "help")
        """commands:
          |  <sql>;           run a SQL statement over the registered tables
          |  explain <sql>    show the optimized + physical plan (and UCT stats)
          |  bench <name>     time one named registry query (e.g. bench q01_pricing_summary)
          |  bench <dir> <csv>  time every .sql file in a directory, write Query,Millis,Rows CSV
          |  exec <file>      run the ';'-separated SQL statements of a file
          |  index <table> <col>  persist <table> bucketed+sorted on <col> as <table>_by_<col>
          |  compress <table>     rewrite <table> zstd-compressed, report the size ratio
          |  list             list registered tables
          |  queries          list registry query names
          |  help             this text
          |  quit / exit      leave""".stripMargin
      else if (lower == "list") Db.tableNames.mkString("\n")
      else if (lower == "queries") SparkEntry.queries.keys.toSeq.sorted.mkString("\n")
      else if (lower.startsWith("explain ")) {
        plans.UctJoinReorderRule.lastStats = None // only THIS statement's stats
        val df = GraftSession.execute(spark, dir,
          trimmed.substring("explain ".length).stripSuffix(";"))
        val plan = df.queryExecution.optimizedPlan.treeString +
          "\n" + df.queryExecution.executedPlan.treeString
        val uct = plans.UctJoinReorderRule.lastStats.map(s =>
          s"\nUCT: ${s.nrRelations} relations, order ${s.order.mkString("[", ",", "]")}, " +
            s"${s.nrSamples} episodes").getOrElse("")
        plan + uct
      } else if (lower.startsWith("exec ")) {
        // the reference's `exec <SQL file>` (SkinnerCmd.processFile,
        // /root/reference/src/console/SkinnerCmd.java:146,309-310) — but
        // split quote-aware, so a ';' inside a string literal does not break
        // one statement into two (the reference's naive split does)
        val path = trimmed.substring("exec ".length).trim
        val sql = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
        val stmts = splitStatements(sql).map(_.trim).filter(_.nonEmpty)
        stmts.map(st => eval(spark, dir, st + ";")).filter(_.nonEmpty)
          .mkString("\n---\n")
      } else if (lower.startsWith("index ")) {
        // the reference's `index <col>` / `index all` (SkinnerCmd.java:
        // 180-203, Indexer.java) — here the index IS the bucketed layout:
        // a same-bucketed join needs no shuffle exchange (SourcesSpec)
        val args = trimmed.substring("index ".length).trim.split("\\s+")
        if (args.length != 2) "usage: index <table> <col>"
        else {
          val t = s"${args(0)}_by_${args(1)}"
          GraftSession.writeBucketed(spark.table(args(0)), t, args(1), 8)
          s"bucketed ${args(0)} on ${args(1)} into table $t (8 buckets, sorted)"
        }
      } else if (lower.startsWith("compress ")) {
        // the reference's `compress` (SkinnerCmd.java:236-244,
        // Compressor.java) — dictionary encoding is automatic per parquet
        // row group; the actionable storage knob left is the codec
        val t = trimmed.substring("compress ".length).trim
        val out = s"${Scratch.root}/compressed/$t"
        spark.table(t).write.mode("overwrite")
          .option("compression", "zstd").parquet(out)
        def dirBytes(p: String): Long = {
          val f = new org.apache.hadoop.fs.Path(p)
          f.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .getContentSummary(f).getLength
        }
        val outB = dirBytes(out)
        val inB = try dirBytes(s"$dir/$t.parquet") catch { case NonFatal(_) => 0L }
        val ratio = if (inB > 0) f" (${outB * 100.0 / inB}%.0f%% of source)" else ""
        Db.readParquet(spark, out).createOrReplaceTempView(t)
        s"compressed $t to $out: $outB bytes$ratio; view '$t' now reads it"
      } else if (lower.startsWith("bench ")) {
        val args = trimmed.substring("bench ".length).trim.split("\\s+")
        if (args.length >= 2) {
          // the reference's `bench <queries dir> <out csv>` (SkinnerCmd →
          // BenchUtil.benchmark, /root/reference/src/benchmark/BenchUtil
          // .java:66-113): run every .sql file, emit per-query stats CSV
          val qdir = java.nio.file.Paths.get(args(0))
          val out = java.nio.file.Paths.get(args(1))
          val files = scala.util.Using.resource(java.nio.file.Files.list(qdir)) {
            _.iterator().asScala.filter(_.toString.endsWith(".sql")).toSeq
          }.sortBy(_.toString)
          val sb = new StringBuilder("Query,Millis,Rows\n")
          files.foreach { f =>
            val sql = java.nio.file.Files.readString(f).stripSuffix(";")
            val t0 = System.nanoTime()
            val n = GraftSession.execute(spark, dir, sql).queryExecution.toRdd.count()
            sb.append(f"${f.getFileName},${(System.nanoTime() - t0) / 1e6}%.1f,$n\n")
          }
          java.nio.file.Files.writeString(out, sb.toString)
          s"wrote ${files.size} query timings to $out"
        } else SparkEntry.queries.get(args(0)) match {
          case None => s"unknown query '${args(0)}' (try: queries)"
          case Some(fn) =>
            val t0 = System.nanoTime()
            val n = fn(spark, dir).queryExecution.toRdd.count()
            f"${args(0)}: $n rows in ${(System.nanoTime() - t0) / 1e9}%.3f s"
        }
      } else {
        val df = GraftSession.execute(spark, dir, trimmed.stripSuffix(";"))
        val rows = df.limit(51).collect()
        val shown = rows.take(50).map(_.mkString(" | "))
        val header = df.columns.mkString(" | ")
        val more = if (rows.length > 50) "\n... (truncated at 50 rows)" else ""
        (header +: shown).mkString("\n") + more
      }
    } catch {
      case NonFatal(e) => s"error: ${e.getMessage}"
    }
  }

  /** Split a script into statements on ';' — but only outside '…' string
    * literals (with '' escapes), "…" quoted identifiers, `--` line comments,
    * and slash-star block comments. */
  def splitStatements(sql: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quote: Char = 0 // 0 = outside, else the active quote char
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (quote != 0) {
        cur.append(c)
        if (c == quote) {
          // doubled quote inside a literal ('' / "") is an escape, stay in
          if (i + 1 < sql.length && sql.charAt(i + 1) == quote) {
            cur.append(quote); i += 1
          } else quote = 0
        }
      } else if (c == '-' && i + 1 < sql.length && sql.charAt(i + 1) == '-') {
        while (i < sql.length && sql.charAt(i) != '\n') { cur.append(sql.charAt(i)); i += 1 }
        i -= 1 // the '\n' (if any) is appended by the shared i += 1 below
      } else if (c == '/' && i + 1 < sql.length && sql.charAt(i + 1) == '*') {
        cur.append("/*"); i += 2
        while (i < sql.length &&
            !(sql.charAt(i) == '*' && i + 1 < sql.length && sql.charAt(i + 1) == '/')) {
          cur.append(sql.charAt(i)); i += 1
        }
        if (i < sql.length) { cur.append("*/"); i += 1 } else i -= 1
      } else if (c == '\'' || c == '"') { quote = c; cur.append(c) }
      else if (c == ';') { out += cur.toString(); cur.clear() }
      else cur.append(c)
      i += 1
    }
    if (cur.nonEmpty) out += cur.toString()
    out.result()
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    Db(spark, dir).registerAll()
    println(s"graft console over $dir — 'help' for commands")
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null &&
        !Set("quit", "exit").contains(line.trim.stripSuffix(";").toLowerCase)) {
      val out = eval(spark, dir, line)
      if (out.nonEmpty) println(out)
      line = in.readLine()
    }
    spark.stop()
  }
}
