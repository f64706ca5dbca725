package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.concurrent.ExecutionContext.Implicits.global

import graft.plans.SampleStore
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.functions._

/** The positional sample cache (plans/SampleStore): canonically-equal roles
  * must share ONE entry however their exprIds and requested column subsets
  * differ, later requests must merge rather than replace, the miss path must
  * be atomic under the UCT rule's concurrent Futures, and narrow leaves must
  * be sampled full-width so staggered column requests (the r9 bench
  * regression: q82–q86/q165/q55 re-scanning per request) are pure hits.
  */
class SampleStoreSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  // The disk tier is cross-SESSION by design: scratch-rooted fixtures get a
  // normalized (path-token, sizes) fingerprint, so a PREVIOUS test run's
  // persisted samples would satisfy this run's first touches and every
  // scan-count assertion below would read 0. Each suite run gets its own
  // empty cache directory — the disk-tier test still exercises load/
  // invalidate semantics, just against this run's writes only.
  private val freshCacheDir =
    java.nio.file.Files.createTempDirectory("graft-sample-spec").toString
  spark.conf.set("spark.graft.uct.sampleDiskCacheDir", freshCacheDir)

  override protected def afterAll(): Unit = {
    spark.conf.unset("spark.graft.uct.sampleDiskCacheDir")
    super.afterAll()
  }

  private def analyzedLeaf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed

  private def attrsOf(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      names: String*): Seq[AttributeReference] =
    names.map(n => p.output.find(_.name == n).get.asInstanceOf[AttributeReference])

  private def freshParquet(name: String, wide: Boolean): String = {
    val dir = Scratch.root + s"/samplestore_$name"
    val base = spark.range(4000).select(
      col("id").as("a"), (col("id") * 7 % 101).as("b"), (col("id") % 13).as("c"))
    val df =
      if (!wide) base
      else (0 until 12).foldLeft(base)((d, i) => d.withColumn(s"pad$i", col("a") + i))
    df.write.mode("overwrite").parquet(dir)
    dir
  }

  test("canonically-equal roles with different exprIds and column subsets share one merged entry") {
    val dir = freshParquet("narrow", wide = false)
    SampleStore.clear()
    SampleStore.resetStats()
    // two separate reads: same canonical plan, DIFFERENT exprIds per column
    val leaf1 = analyzedLeaf(spark.read.parquet(dir))
    val leaf2 = analyzedLeaf(spark.read.parquet(dir))
    assert(leaf1.output.map(_.exprId) != leaf2.output.map(_.exprId),
      "fixture must exercise distinct exprIds")
    assert(leaf1.canonicalized == leaf2.canonicalized)

    val s1 = SampleStore.sample(spark, leaf1, attrsOf(leaf1, "a"))
    val s2 = SampleStore.sample(spark, leaf2, attrsOf(leaf2, "b"))
    assert(SampleStore.size == 1, s"expected one shared entry, got ${SampleStore.size}")
    assert(s1.nRows == s2.nRows)
    // narrow leaf => full-width first scan => the second (staggered) request
    // is a pure hit: one scan total
    assert(SampleStore.scanCount == 1,
      s"staggered requests re-scanned: ${SampleStore.scanCount} scans")
    assert(SampleStore.hitCount >= 1)

    // value alignment across the merged requests: a third caller asking for
    // BOTH columns must see s1's a and s2's b on the same rows
    val leaf3 = analyzedLeaf(spark.read.parquet(dir))
    val Seq(a3, b3) = attrsOf(leaf3, "a", "b")
    val s3 = SampleStore.sample(spark, leaf3, Seq(a3, b3))
    assert(s3.cols(SampleStore.attrKey(a3)).toSeq ==
      s1.cols(SampleStore.attrKey(attrsOf(leaf1, "a").head)).toSeq)
    assert(s3.cols(SampleStore.attrKey(b3)).toSeq ==
      s2.cols(SampleStore.attrKey(attrsOf(leaf2, "b").head)).toSeq)
    // rows align: (a, b) pairs obey the generating relation b = a*7 % 101
    val as = s3.cols(SampleStore.attrKey(a3)).map(_.asInstanceOf[Long])
    val bs = s3.cols(SampleStore.attrKey(b3)).map(_.asInstanceOf[Long])
    as.zip(bs).foreach { case (a, b) =>
      assert(b == a * 7 % 101, s"columns misaligned at a=$a: b=$b") }
  }

  test("wide leaves keep the incremental union-merge, aligned across re-scans") {
    val dir = freshParquet("wide", wide = true) // 15 cols > full-width cap
    SampleStore.clear()
    SampleStore.resetStats()
    val leaf1 = analyzedLeaf(spark.read.parquet(dir))
    val s1 = SampleStore.sample(spark, leaf1, attrsOf(leaf1, "a"))
    val leaf2 = analyzedLeaf(spark.read.parquet(dir))
    val Seq(a2, b2) = attrsOf(leaf2, "a", "b")
    val s2 = SampleStore.sample(spark, leaf2, Seq(a2, b2))
    assert(SampleStore.size == 1)
    assert(SampleStore.scanCount == 2, "wide leaf should union-merge re-scan")
    // deterministic seeded reservoir: the re-scan reproduces the cached rows
    assert(s2.cols(SampleStore.attrKey(a2)).toSeq ==
      s1.cols(SampleStore.attrKey(attrsOf(leaf1, "a").head)).toSeq,
      "merged entry lost row alignment with the first caller's column")
    assert(s1.nRows == s2.nRows)
  }

  test("concurrent equal-key misses scan once (atomic miss path)") {
    val dir = freshParquet("conc", wide = false)
    SampleStore.clear()
    SampleStore.resetStats()
    val cols = Seq("a", "b", "c")
    val futures = (0 until 12).map { i =>
      Future {
        val leaf = analyzedLeaf(spark.read.parquet(dir))
        val attrs = attrsOf(leaf, cols(i % cols.length))
        SampleStore.sample(spark, leaf, attrs).nRows
      }
    }
    val ns = Await.result(Future.sequence(futures), Duration.Inf)
    assert(ns.distinct.size == 1, s"divergent nRows across callers: $ns")
    assert(SampleStore.size == 1)
    assert(SampleStore.scanCount == 1,
      s"concurrent misses each scanned: ${SampleStore.scanCount} scans for one key")
  }

  test("disk tier survives a session-cache wipe and invalidates on data rewrite") {
    // the persisted-sample analog of the reference's startup index build
    // (/root/reference/src/indexing/Indexer.java:23-37): a fresh session's
    // first touch must LOAD, not re-scan
    val dir = freshParquet("disk", wide = false)
    SampleStore.clear()
    SampleStore.resetStats()
    val leaf1 = analyzedLeaf(spark.read.parquet(dir))
    val s1 = SampleStore.sample(spark, leaf1, attrsOf(leaf1, "a"))
    assert(SampleStore.scanCount == 1)

    // simulate a fresh session: memory cache wiped, disk cache intact
    SampleStore.clear()
    val leaf2 = analyzedLeaf(spark.read.parquet(dir))
    val s2 = SampleStore.sample(spark, leaf2, attrsOf(leaf2, "a"))
    assert(SampleStore.scanCount == 1,
      s"fresh-session touch re-scanned (${SampleStore.scanCount} scans) " +
        "instead of loading the persisted sample")
    assert(SampleStore.diskHitCount == 1)
    assert(s2.cols(SampleStore.attrKey(attrsOf(leaf2, "a").head)).toSeq ==
      s1.cols(SampleStore.attrKey(attrsOf(leaf1, "a").head)).toSeq,
      "disk-loaded sample differs from the original scan")

    // rewriting the table changes the file fingerprint: the stale persisted
    // sample must NOT be served
    Thread.sleep(5) // ensure a distinct mtime even on coarse filesystems
    spark.range(4000).selectExpr("id + 100 as a", "id % 5 as b", "id % 3 as c")
      .write.mode("overwrite").parquet(dir)
    SampleStore.clear()
    val leaf3 = analyzedLeaf(spark.read.parquet(dir))
    val s3 = SampleStore.sample(spark, leaf3, attrsOf(leaf3, "a"))
    assert(SampleStore.scanCount == 2,
      "rewritten table served a stale persisted sample")
    assert(s3.cols(SampleStore.attrKey(attrsOf(leaf3, "a").head))
      .map(_.asInstanceOf[Long]).forall(_ >= 100))
  }

  test("a truncated disk sample is rescanned with the same values, then rewritten") {
    val dir = freshParquet("corrupt", wide = false)
    def sampleFiles: Set[java.io.File] = new java.io.File(freshCacheDir)
      .listFiles((_, n) => n.endsWith(".sample")).toSet
    SampleStore.clear()
    SampleStore.resetStats()
    val before = sampleFiles
    val leaf1 = analyzedLeaf(spark.read.parquet(dir))
    val s1 = SampleStore.sample(spark, leaf1, attrsOf(leaf1, "a"))
    val written = (sampleFiles -- before).toSeq
    assert(written.size == 1, s"expected one new .sample file, got $written")
    // a torn write: keep only the first 16 bytes of the serialized sample
    val file = written.head.toPath
    java.nio.file.Files.write(file,
      java.util.Arrays.copyOf(java.nio.file.Files.readAllBytes(file), 16))

    SampleStore.clear()
    val (scans, diskHits) = (SampleStore.scanCount, SampleStore.diskHitCount)
    val leaf2 = analyzedLeaf(spark.read.parquet(dir))
    val s2 = SampleStore.sample(spark, leaf2, attrsOf(leaf2, "a"))
    assert(SampleStore.diskHitCount == diskHits, "a truncated sample was served")
    assert(SampleStore.scanCount == scans + 1, "the truncated sample was not rescanned")
    assert(s2.cols(SampleStore.attrKey(attrsOf(leaf2, "a").head)).toSeq ==
      s1.cols(SampleStore.attrKey(attrsOf(leaf1, "a").head)).toSeq,
      "the rescan sampled different values")

    // the rescan rewrote the entry: the next fresh touch loads it
    SampleStore.clear()
    val leaf3 = analyzedLeaf(spark.read.parquet(dir))
    SampleStore.sample(spark, leaf3, attrsOf(leaf3, "a"))
    assert(SampleStore.diskHitCount == diskHits + 1,
      "the rewritten sample did not serve a disk hit")
    assert(SampleStore.scanCount == scans + 1)
  }

  test("non-file leaves skip the disk tier") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    SampleStore.clear()
    SampleStore.resetStats()
    val rdd = spark.sparkContext.parallelize(0L until 1000L, 4).map(Row(_))
    val df = spark.createDataFrame(rdd, StructType(Seq(StructField("k", LongType))))
    val leaf = df.queryExecution.analyzed
    val attr = leaf.output.head.asInstanceOf[AttributeReference]
    SampleStore.sample(spark, leaf, Seq(attr))
    SampleStore.clear()
    SampleStore.sample(spark, leaf, Seq(attr))
    assert(SampleStore.diskHitCount == 0,
      "an RDD-backed leaf must not round-trip through the disk cache")
    assert(SampleStore.scanCount == 2)
  }
}
