package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The fixture registry's memo contract, on counting builds over tiny
  * in-memory frames (no corpus-scale fixture is built). */
class FixturesSpec extends AnyFunSuite with graft.SparkTestBase {

  test("fixture memo: one build per (session, dir); clear() unpersists and rebuilds; names unique") {
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val f = Fixtures.frame("counting") { (s, d) =>
      builds.incrementAndGet()
      s.range(0, 3).toDF("id").withColumn("dir", org.apache.spark.sql.functions.lit(d))
    }
    val a = f(spark, "dirA")
    assert(f(spark, "dirA") eq a, "same (session, dir) returns the memoized value")
    assert(builds.get == 1)
    f.warm(spark, "dirA")
    assert(builds.get == 1, "warming a built fixture does not rebuild it")
    assert(a.storageLevel.useMemory, "frame fixtures are persisted")

    val b = f(spark, "dirB")
    assert(builds.get == 2, "a different dir builds again")
    assert(!(b eq a))

    graft.CachedFrames.clear()
    assert(!a.storageLevel.isValid && !b.storageLevel.isValid,
      "clear() unpersists the fixture's frames")
    val a2 = f(spark, "dirA")
    assert(builds.get == 3, "the next call after clear() rebuilds")
    assert(!(a2 eq a) && a2.storageLevel.useMemory)
    graft.CachedFrames.clear()

    val names = Fixtures.all.map(_.name)
    assert(names.distinct == names, s"duplicate fixture names: $names")
    assert(names.size == 9)
  }
}
