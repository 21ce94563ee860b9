package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for every suite (forked test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts is parquet TIMESTAMP(NANOS): read as LONG nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // FAIR scheduling so the concurrent-graph-query test exercises the
      // reference's thread-per-request model (undeclared pools get default
      // weight — no allocation file needed)
      .config("spark.scheduler.mode", "FAIR")
      // static conf: bucketed-table tests write managed tables here
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse_").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Undirected edge DataFrame from 1-based vertex pairs (stores both
    * directions, like a symmetric adjacency matrix).
    */
  def undirected(pairs: (Long, Long)*): DataFrame = {
    import spark.implicits._
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
  }

  /** Spark jobs `body` ran, counted by job tag through the status
    * tracker. A tag, unlike a job group, reaches the jobs of streaming
    * queries `body` starts: their execution thread inherits the caller's
    * local properties and replaces only the job group. A job's start event
    * is posted before the job can finish, so once the listener bus has
    * delivered what was posted, the count is exact — zero included.
    */
  def jobsIn(tag: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
    org.apache.spark.TestListenerBus.drain(sc)
    sc.statusTracker.getJobIdsForTag(tag).length
  }
}
