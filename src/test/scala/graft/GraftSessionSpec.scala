package graft

import graft.GraftSession.withConf

/** The one conf scope: every key comes back exactly as it was. */
class GraftSessionSpec extends SparkSpec {

  private val key = "spark.graft.spec.scoped"

  test("withConf restores a key that was set") {
    spark.conf.set(key, "outer")
    try {
      withConf(spark)(key -> "inner") {
        assert(spark.conf.get(key) == "inner")
      }
      assert(spark.conf.get(key) == "outer")
    } finally spark.conf.unset(key)
  }

  test("withConf unsets a key that was unset") {
    assert(!spark.conf.getAll.contains(key))
    withConf(spark)(key -> "inner") {
      assert(spark.conf.get(key) == "inner")
    }
    assert(!spark.conf.getAll.contains(key))
  }

  test("withConf restores when the body throws") {
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    intercept[IllegalStateException] {
      withConf(spark)(key -> "inner", "spark.sql.shuffle.partitions" -> "1") {
        throw new IllegalStateException("boom")
      }
    }
    assert(!spark.conf.getAll.contains(key))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == shuffle)
  }

  test("nested withConf scopes restore in order") {
    withConf(spark)(key -> "outer") {
      withConf(spark)(key -> "inner") {
        assert(spark.conf.get(key) == "inner")
      }
      assert(spark.conf.get(key) == "outer")
    }
    assert(!spark.conf.getAll.contains(key))
  }
}
