package graft

import org.apache.spark.sql.SparkSession

/** The one place a Spark session is configured. Bench, Verify, Main,
  * the dev tools and the test base all call [[local]], so the timing
  * gate, the correctness gate and the product run the same engine.
  */
object Sessions {
  /** CPU count for a main: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.get(Env.Cpus).map(_.toInt).getOrElse(4)

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a 238-query run leaves thousands of dereferenced shuffle
      // dependencies; ContextCleaner only reclaims their files after a
      // JVM GC notices the dead references, and the default periodic-GC
      // interval (30 min) outlives the whole run — so the back half of
      // a long run would otherwise accumulate every query's shuffle
      // files on disk (r10 verdict #1, the bench back-half drift)
      .config("spark.cleaner.periodicGC.interval", "1min")
      // r13 (guide §2.1/§2.2): always use the SORT-based shuffle writer
      // (one data file + index per map task). The default
      // bypassMergeThreshold=200 routes every <=200-partition shuffle
      // through the bypass-merge writer, which creates numMaps x
      // numPartitions files — at 32 maps x 32 partitions that is 1024
      // file open/closes per exchange for kilobyte payloads (q72's
      // 129 KB exchange spent 1.85 s summed over tasks in shuffle
      // write). Cluster runs are unaffected: production shuffles run
      // >200 partitions, where Spark already takes the sort path — this
      // makes local/small-shuffle behavior match it. Measured on a
      // 5-query shuffle-heavy subset, 3 interleaved A/B pairs:
      // 5.7-7.3 s (sort) vs 8.9-10.3 s (bypass). The value is a
      // writer-selection threshold, not a partition-count tuning.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // releasing a localCheckpoint logs one WARN per RDD ("lineage has
    // been truncated...") — correct behavior under the Caches.pin
    // release discipline, but hundreds of them would drown the run's
    // output, so the rdd logger runs at ERROR
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
