package graft

import org.apache.spark.sql.SparkSession

/** The one way the repo's mains (Bench, Verify, Explain, ScaleProbe,
  * DimProbe) build their SparkSession: `local[n]` with n shuffle
  * partitions, UTC session time, no UI, WARN logging, then
  * [[sources.Tables.configure]] so `events` reads its nanosecond
  * timestamps. n is `SPARK_GRAFT_CPUS`, else `defaultCpus`.
  *
  * WARN keeps Spark's planner warnings (`No Partition Defined for Window
  * operation`, the scale hazard an unpartitioned window is) in Bench's
  * and Verify's logs. The heap is not set here — the JVM is already
  * running; build.sbt's forked `run` sets -Xmx from SPARK_DRIVER_MEM. */
object GraftSession {
  def local(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sources.Tables.configure(spark)
    spark
  }
}
