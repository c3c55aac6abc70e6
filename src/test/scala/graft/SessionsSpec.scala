package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** [[Sessions.local]] is the only place a session is configured, so the
  * timing gate, the correctness gate and the tests run one engine. */
class SessionsSpec extends SparkSpec {

  test("Sessions.local is the one session factory: UTC, cpus partitions, sort writer") {
    val sc = spark.sparkContext
    assert(sc.master == "local[4]")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == sc.defaultParallelism.toString)
    assert(sc.getConf.get("spark.shuffle.sort.bypassMergeThreshold") == "1")
    // split so this file does not match its own scan
    val needle = "SparkSession" + ".builder"
    val offenders = Seq("src/main", "src/test").flatMap { root =>
      val files = Files.walk(Paths.get(root))
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Sessions.scala" &&
          new String(Files.readAllBytes(p), "UTF-8").contains(needle))
        .map(_.toString).toList
      finally files.close()
    }
    assert(offenders.isEmpty,
      s"configure sessions only in Sessions.local: ${offenders.sorted.mkString(", ")}")
  }
}
