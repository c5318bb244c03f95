package graft

import org.apache.spark.storage.StorageLevel

/** The two cache forms of [[Materialize]]: who frees the blocks, when. */
class MaterializeSpec extends SparkSpecBase {

  test("scoped: cached inside body, unpersisted after it returns or throws") {
    val df = spark.range(101).toDF("id")
    val n = Materialize.scoped(df) { d =>
      assert(d.storageLevel != StorageLevel.NONE)
      d.count()
    }
    assert(n == 101 && df.storageLevel == StorageLevel.NONE)
    val failing = spark.range(51).toDF("id")
    val err = intercept[IllegalStateException](Materialize.scoped(failing) { d =>
      assert(d.storageLevel != StorageLevel.NONE)
      throw new IllegalStateException("body failed")
    })
    assert(err.getMessage == "body failed" && failing.storageLevel == StorageLevel.NONE)
  }

  test("cached: stays cached for the returned plan until GraftSession.release") {
    val df = Materialize.cached(spark.range(202).toDF("id"))
    assert(df.storageLevel != StorageLevel.NONE)
    val plan = df.filter(df("id") % 2 === 0)
    assert(plan.count() == 101 && df.storageLevel != StorageLevel.NONE)
    GraftSession.release(spark)
    assert(df.storageLevel == StorageLevel.NONE && plan.count() == 101)
  }
}
