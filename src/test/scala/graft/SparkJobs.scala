package graft

object SparkJobs {

  /** `body`'s result and the Spark jobs started while it ran. Job
    * starts reach listeners asynchronously but in order, so a sentinel
    * job run after `body` fences the count.
    */
  def during[T](spark: org.apache.spark.sql.SparkSession)(body: => T): (T, Int) = {
    val sentinel = "graft-jobs-sentinel"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.add(Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      val out = body
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!started.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.contains(sentinel), "the sentinel job never reached the listener")
      (out, started.toArray.count(_ != sentinel))
    } finally sc.removeSparkListener(l)
  }
}
