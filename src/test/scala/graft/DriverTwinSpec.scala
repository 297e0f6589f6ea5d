package graft

import graft.ops.DriverTwin

/** The shared persist → count → collect step every count-gated driver
  * twin goes through, on both sides of a cap. */
class DriverTwinSpec extends SparkSpec {
  import spark.implicits._

  private def cached(df: org.apache.spark.sql.DataFrame): Boolean =
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE

  test("persistCount: at most cap rows → twin over the collected rows, then unpersisted") {
    val df = Seq(3L, 1L, 2L).toDF("x").where($"x" > 0L)
    val got = DriverTwin.persistCount(df, cap = 3L) { p =>
      cached(p) shouldBe true
      p.collect().map(_.getLong(0)).sorted.toSeq
    }(_ => fail("3 rows are within a cap of 3"))
    got shouldBe Seq(1L, 2L, 3L)
    cached(df) shouldBe false
  }

  test("persistCount: over cap → the distributed body gets the persisted frame") {
    val df = Seq(3L, 1L, 2L).toDF("x").where($"x" > 1L)
    val got = DriverTwin.persistCount[Long](df, cap = 1L)(_ => fail("2 rows exceed a cap of 1")) { p =>
      cached(p) shouldBe true
      p.count()
    }
    got shouldBe 2L
    df.unpersist(blocking = true)
  }
}
