package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measurement-only probe for the q107 link graph beyond the toy
  * sf0.1 scan. Builds a `mult`x replica of sf0.1 documents (ids offset
  * per copy, ONE parquet file so the scan still arrives narrower than
  * the cluster) and times q107 over it three times. To measure a
  * fan-out change, run it at both revisions.
  */
object LinkFanProbe {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(50)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = s"/tmp/graft_linkfan_x$mult"
    val docs = new java.io.File(dir, "documents.parquet")
    if (!docs.exists()) {
      val src = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val copies = (0 until mult).map(i =>
        src.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L)))
      copies.reduce(_ unionByName _).coalesce(1)
        .write.mode("overwrite").parquet(docs.getAbsolutePath)
    }
    val fn = SparkEntry.queries("q107_link_graph")
    println(s"mult=$mult")
    (1 to 3).foreach { rep =>
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      println(f"rep $rep: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    spark.stop()
  }
}
