package graft.operators

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

import graft.SparkSuite

class PinsSpec extends SparkSuite {
  import spark.implicits._

  private def cache = spark.sharedState.cacheManager
  /** The CacheManager's entry count (`private[sql]`, read reflectively). */
  private def entries: Int =
    cache.getClass.getMethod("numCachedEntries").invoke(cache).asInstanceOf[Int]
  private def stage = spark.range(0, 1000).select(($"id" % 7).as("k"), $"id")

  /** CacheManager warnings logged while `body` runs. */
  private def cacheWarnings(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("pins-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.CacheManager").asInstanceOf[Logger]
    logger.addAppender(appender)
    try body finally { logger.removeAppender(appender); appender.stop() }
    seen.asScala.toSeq
  }

  test("a scope releases its entries when its body throws") {
    spark.catalog.clearCache()
    val e = intercept[IllegalStateException] {
      Pins.scoped { s =>
        s.pin(stage).count()
        s.pin(stage.groupBy($"k").count()).count()
        assert(entries == 2)
        throw new IllegalStateException("refused mid-body")
      }
    }
    assert(e.getMessage == "refused mid-body")
    assert(cache.isEmpty, "a throwing body left its pins behind")
  }

  test("an adopted caller-cached frame stays cached after the scope exits") {
    spark.catalog.clearCache()
    val mine = stage.persist(StorageLevel.MEMORY_AND_DISK)
    mine.count()
    val checkpointed = stage.localCheckpoint()
    Pins.scoped { s =>
      assert(s.pin(mine) eq mine)
      s.pin(checkpointed).count()
      assert(entries == 1, "an adopted frame was cached again")
    }
    assert(mine.storageLevel == StorageLevel.MEMORY_AND_DISK,
      "the scope released an entry it does not own")
    assert(entries == 1)
    mine.unpersist()
  }

  test("a detached result outlives its scope with the lazy plan's rows and no cache entry") {
    spark.catalog.clearCache()
    def summary(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"k").agg(sum($"id").as("s"), count(lit(1)).as("n"))
    val out = Pins.scoped { s =>
      val pinned = s.pin(stage)
      pinned.count()
      Pins.detach(summary(pinned))
    }
    assert(cache.isEmpty, "the scope's pin outlived it")
    val expected = summary(stage).as[(Long, Long, Long)].collect().toSet
    assert(out.as[(Long, Long, Long)].collect().toSet == expected)
    assert(cache.isEmpty, "reading the detached result made a cache entry")
  }

  test("pinning the same plan twice in one scope makes one entry and no warning") {
    spark.catalog.clearCache()
    val warnings = cacheWarnings {
      Pins.scoped { s =>
        s.pin(stage).count()
        s.pin(stage).count() // an equal plan, built again
        assert(entries == 1)
      }
    }
    assert(cache.isEmpty)
    assert(!warnings.exists(_.contains("already")), s"CacheManager warned: $warnings")
  }

  test("an entry two scopes on two threads pin survives the first scope's exit") {
    spark.catalog.clearCache()
    val (firstPinned, secondPinned, firstOut) =
      (new java.util.concurrent.CountDownLatch(1), new java.util.concurrent.CountDownLatch(1),
        new java.util.concurrent.CountDownLatch(1))
    @volatile var entriesAfterFirstExit = -1
    val first = new Thread(() => {
      Pins.scoped { s =>
        s.pin(stage).count()
        firstPinned.countDown()
        secondPinned.await()
      }
      firstOut.countDown()
    })
    val second = new Thread(() => Pins.scoped { s =>
      firstPinned.await()
      s.pin(stage).count() // an equal plan, built again on another thread
      secondPinned.countDown()
      firstOut.await()
      entriesAfterFirstExit = entries
    })
    Seq(first, second).foreach(_.start())
    Seq(first, second).foreach(_.join(60000))
    assert(entriesAfterFirstExit == 1, "the first scope's exit dropped an entry another scope holds")
    assert(cache.isEmpty, "the last scope's exit must release the shared entry")
  }
}
