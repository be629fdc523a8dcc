package graft

import graft.sources.Materialize
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Pins [[Materialize]]'s two pin shapes and that it stays the only place
  * the engine chooses a storage level. */
class MaterializeSpec extends SparkSpec {

  /** Whether `df`'s cached relation already holds its buffers. */
  private def loaded(df: org.apache.spark.sql.DataFrame): Boolean =
    spark.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)

  test("eager returns a frame that is cached and already materialized") {
    val lazyPin = spark.range(300).toDF("id").persist()
    assert(!loaded(lazyPin)) // a bare persist is not materialized yet
    val df = Materialize.eager(spark.range(500).toDF("id"))
    assert(df.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(loaded(df))
    lazyPin.unpersist(true); df.unpersist(true)
  }

  test("during releases the pin when use returns and when it throws") {
    val df = spark.range(500).toDF("id")
    var inside: StorageLevel = null
    assert(Materialize.during(df) { d => inside = d.storageLevel; d.count() } === 500L)
    assert(inside === StorageLevel.MEMORY_AND_DISK)
    assert(df.storageLevel === StorageLevel.NONE)
    intercept[IllegalStateException](Materialize.during(df) { d =>
      inside = d.storageLevel; d.count(); throw new IllegalStateException("use failed")
    })
    assert(inside === StorageLevel.MEMORY_AND_DISK)
    assert(df.storageLevel === StorageLevel.NONE)
  }

  test("no source file outside Materialize persists or names a StorageLevel") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val walk = java.nio.file.Files.walk(root)
    val hits = try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Materialize.scala")
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if """\.persist\(|StorageLevel""".r.findFirstIn(line).isDefined =>
              s"${root.relativize(p)}:${i + 1}"
          }
        }.toList
      finally walk.close()
    assert(hits === Nil)
  }
}
