package graft

import org.apache.spark.sql.functions._

/** Data-quality / corpus-curation operators added in round 11:
  * column profiler, referential-integrity audit, canonical-doc
  * selection, equi-depth binning, bigram LM scoring. */
class QualitySpec extends SparkSpec {
  import graft.SparkSpec.session.implicits._

  test("Profile.columns: exact nulls/distincts/min/max per column") {
    val df = Seq(
      (Some(1L), Some("b")), (Some(2L), None),
      (Some(2L), Some("a")), (None, Some("a"))
    ).toDF("k", "s")
    val p = operators.Profile.columns(df, Seq("k", "s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    assert(p("k") == ((4L, 1L, 2L, "1", "2")))
    assert(p("s") == ((4L, 1L, 2L, "a", "b")))
  }

  test("Profile: q200 gate runs one aggregation pass (single Expand plan)") {
    val plan = run("q200_profile").queryExecution.executedPlan.toString
    // the multi-distinct profile must not degrade into one job per column
    assert(plan.contains("Expand"))
  }

  test("Audit.refIntegrity: orphans exclude NULL keys, count them apart") {
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(1L), Some(9L), None).toDF("ck")
    val r = operators.Audit.refIntegrity(Seq(
        operators.Audit.Fk("c->p", child, "ck", parent, "pk")))
      .collect().head
    assert(r.getString(0) == "c->p")
    assert(r.getLong(1) == 4L) // n_child
    assert(r.getLong(2) == 1L) // n_null_keys
    assert(r.getLong(3) == 1L) // n_orphans (9 only; NULL is not an orphan)
  }

  test("canonicalPerCluster keeps exactly one survivor per cluster") {
    val docs = Db(spark, sf).documents
    val clusters = operators.TextDedup.duplicateClusters(docs, "doc_id",
      operators.TextDedup.jaccardPairs(docs, "doc_id", "text", 0.3))
    val kept = run("q199_dedup_canonical")
    val nClusters = clusters.select("cluster").distinct().count()
    assert(kept.count() == nClusters)
    // every survivor is a max-length member of its own cluster
    val bad = kept.as("k").join(
        clusters.join(docs, "doc_id").as("c"), usingColumn = "cluster")
      .where(col("c.n_chars") > col("k.n_chars")).count()
    assert(bad == 0L)
  }

  test("equi-depth: depths are in range, monotone in bucket, near-balanced") {
    val orders = Db(spark, sf).orders
    val assigned = operators.Histogram.assignEquiDepth(
      orders.select("o_orderkey", "o_totalprice"), col("o_totalprice"),
      0L, 60000000L, 1024, 8)
    assert(assigned.count() == orders.count()) // row-preserving
    val sizes = assigned.groupBy("depth").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.keySet.subsetOf((1L to 8L).toSet))
    // each bucket within 2x of the ideal eighth (boundary error <= 1 bin)
    val n = orders.count().toDouble
    sizes.values.foreach(s => assert(s < n / 8 * 2 && s > n / 8 / 2,
      s"unbalanced: $sizes"))
    // depth monotone in value: max cents of bucket j <= min cents of j+1
    val bounds = assigned
      .select(col("depth"), floor(col("o_totalprice") * 100).as("c"))
      .groupBy("depth").agg(min("c").as("lo"), max("c").as("hi"))
      .orderBy("depth").collect()
    bounds.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(2) <= b.getLong(1))
      case _ =>
    }
  }

  test("bigramLmScore: hand-checked exact integer scores") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "x"))
      .toDF("doc_id", "text")
    val r = operators.Corpus.bigramLmScore(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    // c(a,b)=2 c(a,c)=1 c(a)=3: sc(a,b)=666666, sc(a,c)=333333
    assert(r(1L) == ((1L, 666666L)))
    assert(r(2L) == ((1L, 666666L)))
    assert(r(3L) == ((1L, 333333L)))
    assert(!r.contains(4L)) // no bigram -> absent
  }

  test("edge cases: empty inputs and out-of-range values degrade cleanly") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // profiler on an empty frame: one row per column, zero counts, null min/max
    val p = operators.Profile.columns(empty, Seq("doc_id", "text")).collect()
    assert(p.length == 2 && p.forall(r => r.getLong(1) == 0L && r.isNullAt(4)))
    // audit against an empty parent: every non-null child key is an orphan
    val child = Seq(Some(1L), None).toDF("ck")
    val a = operators.Audit.refIntegrity(Seq(operators.Audit.Fk("c->p",
      child, "ck", Seq.empty[Long].toDF("pk"), "pk"))).collect().head
    assert(a.getLong(1) == 2L && a.getLong(2) == 1L && a.getLong(3) == 1L)
    // LM scoring on an empty corpus: empty result, no failure
    assert(operators.Corpus.bigramLmScore(empty, "doc_id", "text").count() == 0L)
    // histogram: everything outside [lo, hi) clamps, mass conserved
    val far = Seq(-5.0, 0.0, 99999.0).toDF("v")
    val bins = operators.Histogram.bins(far, col("v"), 100L, 200L, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bins == Map(0L -> 2L, 3L -> 1L))
    // equi-depth on a single distinct value: all rows land in one bucket
    val const = Seq.fill(10)(7.0).toDF("v")
    val depths = operators.Histogram.assignEquiDepth(const, col("v"),
      0L, 10000L, 16, 4).select("depth").distinct().collect()
    assert(depths.length == 1)
  }

  test("scanPartitions matches the physical probe without planning") {
    import org.apache.spark.sql.functions._
    val d = Db(spark, sf)
    // map-only frame over a parquet leaf: the metadata estimate must agree
    // with what physical planning would produce (the spread DECISION is
    // identical at any threshold)
    val docs = d.documents.select(col("doc_id"), split(col("text"), " ").as("w"))
    assert(Db.scanPartitions(docs) == docs.rdd.getNumPartitions)
    assert(Db.scanPartitions(d.lineitem) == d.lineitem.rdd.getNumPartitions)
    // RDD-backed leaf (localCheckpoint): partition count read off the RDD
    val ckpt = d.nation.localCheckpoint(true)
    assert(Db.scanPartitions(ckpt.select(col("n_name"))) ==
      ckpt.rdd.getNumPartitions)
    // multi-leaf frames fall back to the exact probe
    val joined = d.nation.join(d.region,
      col("n_regionkey") === col("r_regionkey"))
    assert(Db.scanPartitions(joined) == joined.rdd.getNumPartitions)
  }

  test("scanPartitions counts only the partitions a pruned scan reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pruned-scan")
    try {
      // one file per partition value, so listing all 8 would count 8 splits
      spark.range(0, 800).withColumn("p", col("id") % 8).coalesce(1)
        .write.mode("overwrite").partitionBy("p").parquet(dir.toString)
      val pruned = spark.read.parquet(dir.toString).where(col("p") === 3)
      assert(Db.scanPartitions(pruned) == pruned.rdd.getNumPartitions)
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("q201 gate: TPC-H FKs are clean; orphan column present for events") {
    val rows = run("q201_ref_integrity").collect()
    assert(rows.length == 5)
    val byFk = rows.map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(byFk("lineitem.l_orderkey->orders") == 0L)
    assert(byFk("orders.o_custkey->customer") == 0L)
  }
}
