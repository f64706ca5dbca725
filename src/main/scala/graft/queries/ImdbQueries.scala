package graft.queries

import graft.sources.Imdb
import org.apache.spark.sql.functions.{coalesce, col, concat_ws, lit}

/** The reference's ACTUAL workload, executed verbatim: ALL 113
  * join-order-benchmark SQL files shipped with the reference
  * (/root/reference/imdb/queries) run unmodified through the engine's SQL
  * facade over the synthesized IMDB-schema fixture (graft.sources.Imdb),
  * with DuckDB oracles over the very parquet files Spark wrote — and all
  * 113 are hash-verified. Seventeen run as individual registry entries
  * covering every join width in the benchmark (4, 5, 6, 7, 8, 9, 10, 11,
  * 12, 14 and 17 relations); the remaining 96 run verbatim inside six
  * composite entries that stringify each file's single MIN() row into a
  * fixed (qfile, result) schema, so the whole corpus fits the driver's
  * bench-line budget without losing per-file hash verification (a single
  * value diverging in any of the 96 flips its composite's hash). The
  * 113-file sweep additionally asserts UCT fires at each query's width
  * (ImdbSpec).
  */
object ImdbQueries {

  private def entry(qname: String, file: String): Q =
    Q(qname, Some(Imdb.oracleFor(file)),
      (s, _) => { Imdb.ensure(s); s.sql(Imdb.queryText(file)) })

  /** One registry entry running `files` verbatim and unioning their
    * stringified single-row results; oracle = Imdb.batchOracle (same
    * stringification in DuckDB SQL). */
  private def batch(qname: String, files: Seq[String]): Q =
    Q(qname, Some(Imdb.batchOracle(files)),
      (s, _) => {
        Imdb.ensure(s)
        files.map { f =>
          val df = s.sql(Imdb.queryText(f))
          df.select(lit(f).as("qfile"),
            concat_ws("|", df.columns.toIndexedSeq.map(c =>
              coalesce(col(c).cast("string"), lit("<null>"))): _*).as("result"))
        }.reduce(_.unionAll(_)).orderBy("qfile")
      })

  /** The 17 individually-verified files (every width 4-17). A `def`: each
    * entry reads its oracle SQL file, so building them must wait until `all`
    * has checked that the reference workload is present. */
  private def individual = Seq(
      entry("q117_imdb_06d", "06d.sql"), // 5-way
      entry("q118_imdb_10a", "10a.sql"), // 7-way
      entry("q119_imdb_17a", "17a.sql"), // 7-way
      entry("q120_imdb_33c", "33c.sql"), // 14-way self-join
      entry("q127_imdb_03b", "03b.sql"), // 4-way
      entry("q128_imdb_01a", "01a.sql"), // 5-way
      entry("q129_imdb_32a", "32a.sql"), // 6-way
      entry("q130_imdb_08c", "08c.sql"), // 7-way
      entry("q131_imdb_07b", "07b.sql"), // 8-way
      entry("q132_imdb_16b", "16b.sql"), // 8-way
      entry("q133_imdb_13a", "13a.sql"), // 9-way
      entry("q134_imdb_21a", "21a.sql"), // 9-way
      entry("q135_imdb_19c", "19c.sql"), // 10-way
      entry("q136_imdb_22b", "22b.sql"), // 11-way
      entry("q137_imdb_26a", "26a.sql"), // 12-way
      entry("q138_imdb_28a", "28a.sql"), // 14-way
      entry("q139_imdb_29b", "29b.sql")) // 17-way

  private val individualFiles = Set("06d.sql", "10a.sql", "17a.sql",
    "33c.sql", "03b.sql", "01a.sql", "32a.sql", "08c.sql", "07b.sql",
    "16b.sql", "13a.sql", "21a.sql", "19c.sql", "22b.sql", "26a.sql",
    "28a.sql", "29b.sql")

  val all: Seq[Q] =
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(Imdb.queriesDir)))
      Seq.empty // reference workload not present on this machine
    else {
      // the 96 not-individually-verified files, split into six fixed
      // 16-file composites (q159-q164) ROUND-ROBIN over the sorted listing
      // so the widest queries (30a-33c, the costly tail) spread across
      // batches instead of stacking in the last one
      val rest = Imdb.queryFiles.map(_.getFileName.toString)
        .filterNot(individualFiles)
      val batches = rest.zipWithIndex.groupBy(_._2 % 6).toSeq.sortBy(_._1)
        .map { case (i, fs) =>
          batch(s"q${159 + i}_job_batch${i + 1}", fs.map(_._1).sorted)
        }
      individual ++ batches
    }
}
