package graft

import org.apache.spark.storage.StorageLevel

import graft.core.{LinkGraph, SparkTuning}

class SparkTuningSpec extends SparkSpec {
  test("withGraph lends a cached graph with AQE off and releases only its own cache") {
    val aqe = "spark.sql.adaptive.enabled"
    spark.conf.set(aqe, "true")
    val g0 = graphOf(Seq((0L, 1L, 1.0), (1L, 2L, 1.0)))
    assert(g0.edges.storageLevel == StorageLevel.NONE)

    // An uncached graph arrives cached, with AQE off; the copy is
    // released and AQE restored once the body returns.
    var lent: LinkGraph = null
    val n = SparkTuning.withGraph(g0) { g =>
      lent = g
      assert(g.edges.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(spark.conf.get(aqe) == "false")
      g.edges.count()
    }
    assert(n == 2L)
    assert(lent.edges.storageLevel == StorageLevel.NONE)
    assert(spark.conf.get(aqe) == "true")

    // The same when the body throws; the exception propagates.
    val thrown = intercept[IllegalStateException] {
      SparkTuning.withGraph(g0) { g =>
        lent = g
        assert(g.edges.storageLevel == StorageLevel.MEMORY_AND_DISK)
        g.edges.count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(thrown.getMessage == "body failed")
    assert(lent.edges.storageLevel == StorageLevel.NONE)
    assert(spark.conf.get(aqe) == "true")

    // A graph the caller cached is lent as is and keeps its cache.
    val mine = g0.cached(StorageLevel.MEMORY_ONLY)
    SparkTuning.withGraph(mine) { g =>
      assert(g eq mine)
      g.edges.count()
    }
    assert(mine.edges.storageLevel == StorageLevel.MEMORY_ONLY)
    mine.unpersist()
  }

  test("withShufflePartitions scopes the conf: restored after a return and after a throw") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.getOption(key)
    def scoped(): Unit = {
      assert(SparkTuning.withShufflePartitions(spark, 3)(spark.conf.get(key)) == "3")
      val thrown = intercept[IllegalStateException] {
        SparkTuning.withShufflePartitions(spark, 2) {
          assert(spark.conf.get(key) == "2")
          throw new IllegalStateException("body failed")
        }
      }
      assert(thrown.getMessage == "body failed")
    }
    try {
      // From a set value and from an unset key (which reads as its default).
      for (prev <- Seq(Some("7"), None)) {
        prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        val want = spark.conf.get(key)
        scoped()
        assert(spark.conf.get(key) == want)
      }
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
