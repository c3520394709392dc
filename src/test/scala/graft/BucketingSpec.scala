package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Proves the co-located-join story for curated/converted outputs: two
  * tables bucketed on the join key sort-merge-join with ZERO exchanges
  * — the write-time bucketing replaces the per-query shuffle. This is
  * the storage layout a 100 TB deployment uses for fact-fact joins
  * (e.g. repeated joins of converter output against a hash->label
  * table): pay the partitioning once at write, never per query.
  */
class BucketingSpec extends AnyFunSuite with TempDirs {

  private var warehouse: java.nio.file.Path = _

  private lazy val spark: SparkSession = {
    warehouse = tempDir("graft_bucketing_wh")
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", warehouse.toUri.toString)
      // force the SMJ path: the point is the absence of the exchange,
      // not broadcastability of a toy table
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .appName("BucketingSpec")
      .getOrCreate()
    // suites share one JVM and can run in parallel: getOrCreate() may
    // return ANOTHER suite's session, where the builder configs above
    // were silently ignored — a default-threshold broadcast join then
    // plans a BroadcastExchange and trips the no-Exchange assertion.
    // These are runtime confs; pin them on whatever session we got.
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  test("bucketed+sorted tables join with no exchange and no sort") {
    import spark.implicits._
    val n = 1000
    val facts = (0 until n).map(i => (i.toLong % 100, s"f$i")).toDF("key", "payload")
    val dims = (0 until 100).map(i => (i.toLong, s"label$i")).toDF("key", "label")
    // unique table names: the session (and so the warehouse dir) may be
    // shared with other suites or survive from an earlier JVM, and
    // saveAsTable(overwrite) cannot replace a LOCATION the catalog has
    // no table for (LOCATION_ALREADY_EXISTS)
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val (tFacts, tDims) = (s"b_facts_$tag", s"b_dims_$tag")
    facts.write.mode("overwrite")
      .bucketBy(8, "key").sortBy("key").saveAsTable(tFacts)
    dims.write.mode("overwrite")
      .bucketBy(8, "key").sortBy("key").saveAsTable(tDims)

    val joined = spark.table(tFacts).join(spark.table(tDims), "key")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(!plan.contains("Exchange"), s"bucketing must eliminate the shuffle:\n$plan")
    assert(joined.count() == n)
    spark.sql(s"DROP TABLE IF EXISTS $tFacts")
    spark.sql(s"DROP TABLE IF EXISTS $tDims")

    // control: the same join on unbucketed parquet shuffles both sides
    val unb = facts.join(dims, "key")
    assert(unb.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("IVF at rest: partitionBy(cell) prunes the probe scan to nprobe cells") {
    import graft.ops.Similarity
    import spark.implicits._
    // 64 vectors, dim 4, deterministic; the 8 smallest-id vectors are
    // the codebook, so every cell holds at least its own centroid
    val rnd = new scala.util.Random(11)
    val docs = (0L until 64L)
      .map(i => (i, Array.fill(4)(rnd.nextGaussian().toFloat)))
      .toDF("id", "vec")
    val cents = Similarity.ivfCodebook(docs, "id", "vec", nlist = 8)
    val out = tempDir("graft_ivf_rest").toString
    docs.withColumn("cell", Similarity.ivfCell(cents, col("vec")))
      .write.mode("overwrite").partitionBy("cell").parquet(out)
    // all 8 cells exist on disk as partition directories
    val cellDirs = new java.io.File(out).listFiles.count(_.getName.startsWith("cell="))
    assert(cellDirs == 8, s"expected 8 cell= dirs, found $cellDirs")

    val query = Array.fill(4)(rnd.nextGaussian())
    val probed = Similarity.ivfProbed(cents, query, nprobe = 2)
    val probe = spark.read.parquet(out).where(col("cell").isin(probed: _*))
    val scan = probe.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScan in probe plan"))
    // the 100 TB property: the probe reads ONLY the nprobe partition
    // directories — cell is a partition filter, not a post-scan filter
    assert(scan.selectedPartitions.partitionCount == 2,
      s"probe must scan exactly the ${probed.size} probed cells, " +
        s"got ${scan.selectedPartitions.partitionCount}")
    // and the re-rank result inside the probed cells matches a plain
    // filter over the full corpus (pruning changes I/O, not results)
    val viaFull = docs.withColumn("cell", Similarity.ivfCell(cents, col("vec")))
      .where(col("cell").isin(probed: _*)).select("id").as[Long].collect().toSet
    val viaPruned = probe.select("id").as[Long].collect().toSet
    assert(viaPruned == viaFull)
  }

  test("IVF at rest with a TRAINED codebook: helper write/probe, pruned plan, exact top-k") {
    import graft.ops.Similarity
    import spark.implicits._
    // clustered corpus: training recovers the true cells
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(4)(Array.fill(6)(rnd.nextGaussian()))
    val docs = (for (c <- 0 until 4; j <- 0 until 25) yield
      (c.toLong * 25 + j, centers(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat)))
      .toDF("id", "vec")
    val book = Similarity.trainIvfCodebook(docs, "id", "vec", nlist = 4)
    val out = tempDir("graft_ivf_trained").toString
    Similarity.writeIvfPartitioned(docs, "vec", book, out)

    val query = centers(2).map(_ + 0.01)
    val got = Similarity.ivfTopKAtRest(spark, out, "id", "vec", book, query, k = 5, nprobe = 1)
    // pruned plan: exactly 1 of 4 cell directories scanned
    val scan = got.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScan in probe plan"))
    assert(scan.selectedPartitions.partitionCount == 1)
    // with a trained codebook the probed cell IS cluster 2, so the
    // 1-cell probe already matches the exact brute-force top-k
    val exact = Similarity.cosineTopK(docs, "id", "vec", query, 5)
      .collect().map(_.getLong(0)).toSeq
    assert(got.collect().map(_.getLong(0)).toSeq == exact)
  }

  test("CDX layout: shard-partitioned, surt-sorted index prunes a domain scan") {
    // the q113 claim made concrete — the 100 TB CDX at-rest layout is
    // partitionBy(key shard) + sortWithinPartitions(cdx_key) (the
    // writeIvfPartitioned pattern): a domain scan prunes to ONE
    // partition directory at plan time, and the finer prefix filter
    // pushes to the parquet reader for row-group skipping inside it
    import org.apache.spark.sql.functions._
    val urls = spark.range(20000).select(
      concat(lit("http://site"), (col("id") % 40).cast("string"),
        lit(".com/p"), col("id").cast("string")).as("url"))
      .select(graft.functions.GraftFunctions.surt_key(col("url")).as("cdx_key"))
      // shard = the reversed-host run of the key (everything before
      // ')') — all of a domain's records land in one directory
      .withColumn("shard", substring_index(col("cdx_key"), ")", 1))
    val out = tempDir("graft_cdx").toString
    urls.repartition(col("shard"))
      .sortWithinPartitions(col("cdx_key"))
      .write.partitionBy("shard").mode("overwrite").parquet(out)
    val scanned = spark.read.parquet(out)
      .where(col("shard") === "com,site17" &&
        col("cdx_key").startsWith("com,site17)/p1"))
    val plan = scanned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("StringStartsWith"),
      s"prefix filter not pushed:\n$plan")
    // execute THROUGH this queryExecution so its scan metrics populate
    // ids ≡ 17 (mod 40) with path p1...: 17, 137, 177, ... — count them
    val expect = (0 until 20000).count(i =>
      i % 40 == 17 && s"p$i".startsWith("p1"))
    assert(scanned.collect().length == expect)
    val scan = scanned.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScan"))
    // plan-time partition pruning: 1 of 40 shard directories read
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 pruned shard, got ${scan.selectedPartitions.partitionCount}")
  }

  test("increments probe prunes cell directories across base AND streamed increments") {
    import graft.ops.Similarity
    import spark.implicits._
    val dim = 8
    def vecs(r: Range) = r.map { i =>
      (i.toLong, Array.tabulate(dim)(j => math.sin(i * 0.31 + j).toFloat))
    }
    val docs = vecs(0 until 64).toDF("vec_id", "embedding")
    val cents = Similarity.ivfCodebook(docs, "vec_id", "embedding", nlist = 8)
    val pqCb = Similarity.pqCodebooks(docs, "vec_id", "embedding", m = 4, ks = 8)
    val out = tempDir("graft_incr_prune")
      .toString + "/layout"
    Similarity.writeIvfPqPartitioned(docs, "vec_id", "embedding",
      cents, pqCb, out)
    graft.ops.AnnIndex.open(spark, out, "vec_id")
      .append(vecs(100 until 132).toDF("vec_id", "embedding"), "embedding", 0L)
    val query = Array.fill(dim)(0.7)
    val probe = graft.ops.AnnIndex.open(spark, out, "vec_id")
      .probe(Seq(0L -> query), k = 5, nprobe = 2)
    assert(probe.count() == 5)
    // the 100 TB property holds on BOTH sides of the union: the probe
    // predicate pushes into the base layout and into every increment
    // directory (each cell-partitioned inside), so a year of streamed
    // batches never degrades a probe to a full-listing scan
    val scans = probe.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 2, s"expected base + increment scans, got ${scans.size}")
    scans.foreach { s =>
      assert(s.selectedPartitions.partitionCount <= 2,
        s"a scan read ${s.selectedPartitions.partitionCount} cell dirs (> nprobe)")
    }
    // the base side holds all 8 cells, so its pruning is exact
    assert(scans.map(_.selectedPartitions.partitionCount).max == 2)
  }
}
