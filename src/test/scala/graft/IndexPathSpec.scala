package graft

import graft.queries.Catalog
import java.io.File
import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.SparkListenerApplicationEnd

class IndexPathSpec extends SparkFunSuite {

  test("a session's index paths are deleted when its application ends, " +
      "other sessions' paths stay") {
    val root = java.nio.file.Files.createTempDirectory("graft-index").toString
    try {
      val appId = spark.sparkContext.applicationId
      val idx = Catalog.indexPath(spark, root, sf0001, "d16-band-index")
      assert(idx == s"$root/d16-band-index-sf0.001-$appId")
      val cleanup = Catalog.indexCleanups.get((root, appId))
      assert(cleanup != null, "the first path under a root registers it")
      val table = Catalog.indexPath(spark, root, sf0001, "q95")
      assert(Catalog.indexCleanups.get((root, appId)) eq cleanup,
        "one cleanup per root and application")
      spark.range(3).write.parquet(idx)
      spark.range(3).write.parquet(table)
      val other = new File(root, "d16-band-index-sf0.001-local-1")
      assert(other.mkdirs())
      cleanup.onApplicationEnd(SparkListenerApplicationEnd(0L))
      assert(!new File(idx).exists && !new File(table).exists)
      assert(other.isDirectory)
    } finally FileUtils.deleteQuietly(new File(root))
  }
}
