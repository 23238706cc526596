package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Session factory with the engine's standard configuration.
  *
  * Defaults are sized for the sandbox (local[N], one JVM) but every knob is
  * chosen for cluster semantics: AQE on (runtime skew-join splitting +
  * coalescing), shuffle partitions sized to the parallelism level rather than
  * the Spark default of 200, UTC timestamps, compressed RDD blocks.
  */
object GraftSession {

  /** The block format of every link-graph cache and superstep checkpoint:
    * serialized, spilling to disk, and compressed by the session's
    * `spark.rdd.compress` (Spark compresses serialized blocks only). A
    * deserialized cache keeps one JVM object per row; a `(vid, outDeg,
    * rank)` superstep state takes 5-7x less serialized and compressed, for
    * the CPU of encoding and decoding each block. */
  val storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK_SER

  def local(cores: Int, shufflePartitions: Int = -1): SparkSession = {
    val sp = if (shufflePartitions > 0) shufflePartitions else math.max(cores, 8)
    builder(s"local[$cores]", sp).getOrCreate()
  }

  /** REAL multi-executor session: `local-cluster[n, coresPerWorker, memMB]`
    * launches n separate executor JVMs (own heaps, own GC) — the faithful
    * sandbox stand-in for an n-executor cluster, used for the N-vs-4N
    * scaling evidence. Executors get this JVM's own class path as
    * `spark.executor.extraClassPath`, so they load the application classes
    * from wherever the driver does (no jar packaging needed locally), and
    * this JVM's Scala version, which the executor launcher needs. */
  def localCluster(workers: Int, coresPerWorker: Int, memMB: Int,
      shufflePartitions: Int = 32): SparkSession =
    builder(s"local-cluster[$workers,$coresPerWorker,$memMB]", shufflePartitions)
      .config("spark.executor.memory", s"${memMB}m")
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .config("spark.executorEnv.SPARK_SCALA_VERSION",
        scala.util.Properties.versionNumberString.split('.').take(2).mkString("."))
      .getOrCreate()

  private def builder(master: String, shufflePartitions: Int) =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      // native-function SQL surface (graft_fingerprint64 & co); on a real
      // cluster the same class goes on spark.sql.extensions
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.rdd.compress", "true") // pairs with storageLevel
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
}
