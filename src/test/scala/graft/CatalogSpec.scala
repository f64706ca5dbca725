package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.DataFrame

/** The catalog loaders read each parquet schema from a footer on the
  * driver (`Db.readParquet`) instead of through Spark's one-task inference
  * job. The frame they build must be the one `spark.read.parquet` builds:
  * the same schema, the same analyzed plan and, where Spark's read fails,
  * the same error. */
class CatalogSpec extends SparkSpec {

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Either the frame's schema and canonical analyzed plan, or the class
    * and message of the error building it raised. */
  private def outcome(df: => DataFrame): Either[(String, String), (String, String)] =
    try {
      val d = df
      Right((d.schema.json, d.queryExecution.analyzed.canonicalized.toString))
    } catch { case e: Exception => Left((e.getClass.getName, e.getMessage)) }

  private def assertSameAsSpark(path: String): Unit = {
    val expected = outcome(spark.read.parquet(path))
    val got = outcome(Db.readParquet(spark, path))
    assert(got == expected, s"$path: driver-side read differs from spark.read.parquet")
  }

  private def withTempDir(f: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-catalog-spec")
    try f(dir) finally FileUtils.deleteDirectory(dir.toFile)
  }

  test("every testdata table loads with spark.read.parquet's schema and plan") {
    val dirs = Seq(sf, Path.of(sf).resolveSibling("sf0.1").toString)
      .filter(d => Files.isDirectory(Path.of(d)))
    try for (dir <- dirs; nanos <- Seq("true", "false"); name <- Db.tableNames) {
      spark.conf.set(nanosAsLong, nanos)
      assertSameAsSpark(s"$dir/$name.parquet")
    } finally spark.conf.set(nanosAsLong, "true")
  }

  test("a multi-file directory Spark wrote keeps decimal, timestamp_ntz and struct types") {
    withTempDir { dir =>
      val out = dir.resolve("t.parquet").toString
      spark.range(0, 300, 1, 3).selectExpr(
        "id",
        "cast(id / 7 as decimal(12, 2)) AS price",
        "timestamp_ntz'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts",
        "named_struct('k', id % 5, 'tag', cast(id AS string)) AS s")
        .write.parquet(out)
      val parts = Files.list(Path.of(out)).filter(_.toString.endsWith(".parquet")).count()
      assert(parts == 3, s"expected 3 part files, got $parts")
      assertSameAsSpark(out)
      assert(Db.readParquet(spark, out).schema.map(_.dataType.typeName) ==
        Seq("long", "decimal(12,2)", "timestamp_ntz", "struct"))
    }
  }

  test("a _common_metadata summary wins over data files, else the first by path") {
    withTempDir { dir =>
      // the summary describes other columns than the data files, so only a
      // reader that picks the summary gets Spark's schema
      val summarized = dir.resolve("summarized").toString
      spark.range(0, 5, 1, 1).selectExpr("id AS from_summary")
        .write.option("parquet.summary.metadata.level", "ALL").parquet(summarized)
      val summary = Path.of(summarized, "_common_metadata")
      assert(Files.exists(summary), "the write left no _common_metadata")
      val mixed = dir.resolve("mixed")
      spark.range(0, 5, 1, 1).selectExpr("id AS b_first").write.parquet(s"$mixed/b")
      spark.range(0, 5, 1, 1).selectExpr("id AS a_first", "id AS extra")
        .write.parquet(s"$mixed/a")
      // flatten: two data files with different schemas in one directory
      for (sub <- Seq("a", "b")) Files.list(mixed.resolve(sub)).forEach { f =>
        if (f.getFileName.toString.endsWith(".parquet"))
          Files.move(f, mixed.resolve(s"part-$sub.parquet"))
      }
      Seq("a", "b").foreach(sub => FileUtils.deleteDirectory(mixed.resolve(sub).toFile))
      assertSameAsSpark(mixed.toString)
      assert(Db.readParquet(spark, mixed.toString).columns.toSeq == Seq("a_first", "extra"))
      Files.copy(summary, mixed.resolve("_common_metadata"), StandardCopyOption.REPLACE_EXISTING)
      assertSameAsSpark(mixed.toString)
      assert(Db.readParquet(spark, mixed.toString).columns.toSeq == Seq("from_summary"))
    }
  }

  test("a missing path and an empty directory raise spark.read.parquet's errors") {
    withTempDir { dir =>
      val missing = dir.resolve("missing.parquet").toString
      val empty = Files.createDirectory(dir.resolve("empty.parquet")).toString
      for (p <- Seq(missing, empty)) {
        assert(outcome(spark.read.parquet(p)).isLeft, s"$p: spark.read.parquet succeeded")
        assertSameAsSpark(p)
      }
    }
  }

  test("registerAll resolves every table without a Spark job") {
    val jobs = eventsDuring {
      Db.clearFrameCache()
      Db(spark, sf).registerAll()
    }.collect { case j: SparkListenerJobStart => j }
    assert(jobs.isEmpty,
      s"registerAll ran ${jobs.size} jobs: ${jobs.flatMap(_.stageInfos.map(_.name))}")
    Db.tableNames.foreach(n => assert(spark.catalog.tableExists(n)))
  }
}
