package graft
import org.apache.spark.sql.SparkSession

/** The session of the tool mains (`Bench`, `Verify`, `DumpPlans`):
  * `local[SPARK_GRAFT_CPUS]` (default 4) with as many shuffle partitions,
  * UTC, no UI, log level WARN. One definition, so a plan dumped is the plan
  * a default-knob bench run executes. */
object LocalSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Shuffle/spill files on tmpfs: this box's virtio disk serializes
      // the 32×32 shuffle-file fan-out of local[32] (measured 7× on the
      // shuffle-heavy queries). On a real cluster this is the NVMe-backed
      // spark.local.dirs default — tmpfs is the local-mode equivalent,
      // not a semantics change.
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/spark-local"
        else System.getProperty("java.io.tmpdir")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Release what one query left behind, between queries and outside any
    * timed window. localCheckpoint blocks stay pinned in the BlockManager
    * until the ContextCleaner's periodic GC (default every 30 min) notices
    * the dead RDD refs; across a few hundred queries that grows into
    * executor-memory pressure (GC thrash, dropped heartbeats) that taxes
    * every later query. */
  def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }
}
