package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import graft.core.{Indexes, Once}

/** The build-once registry ([[graft.core.Once]]) through its
  * [[Indexes.ensure]] face: nested builds, thrown builds, racing
  * callers, and a serving query that must not rewrite its fixture.
  * Apart from that fixture the keys are spec-local names, so no
  * registered query's artifact is built or replaced here. */
class OnceSpec extends SparkSpec {

  test("Once: peek never builds; drain empties the map and releases built values only") {
    val reg = new Once[Int]
    assert(reg.peek("a").isEmpty)
    assert(reg(spark, "a")(1) == 1 && reg.peek("a").contains(1))
    assert(reg(spark, "a")(fail("built twice")) == 1)
    intercept[IllegalStateException](reg(spark, "b")(throw new IllegalStateException("x")))
    assert(reg.peek("b").isEmpty, "a thrown build left a value")
    val released = Seq.newBuilder[Int]
    reg.drain { v =>
      assert(reg.peek("a").isEmpty, "released before removal")
      released += v
    }
    assert(released.result() == Seq(1))
    assert(reg(spark, "a")(2) == 2, "drain kept the old value")
  }

  test("Indexes.ensure: a build may ensure another key, and each key builds once") {
    val (outer, inner) = (new AtomicInteger, new AtomicInteger)
    def innerDir = Indexes.ensure(spark, sfDir, "_once_inner")(_ => inner.incrementAndGet())
    var seen = ""
    val a = Indexes.ensure(spark, sfDir, "_once_outer") { _ =>
      outer.incrementAndGet()
      seen = innerDir
    }
    assert(Indexes.ensure(spark, sfDir, "_once_outer")(_ => fail("outer rebuilt")) == a)
    assert(innerDir == seen && seen != a)
    assert(outer.get == 1 && inner.get == 1, s"builds: outer $outer, inner $inner")
  }

  test("Indexes.ensure: a thrown build caches nothing and leaves no partial dir") {
    var partial = ""
    val e = intercept[IllegalStateException](
      Indexes.ensure(spark, sfDir, "_once_fail") { t =>
        partial = t
        Files.write(Paths.get(t, "part-0"), Array[Byte](1))
        throw new IllegalStateException("build failed")
      })
    assert(e.getMessage == "build failed")
    assert(partial.nonEmpty && !Files.exists(Paths.get(partial)),
      s"partial output kept at $partial")
    var builds = 0
    val d = Indexes.ensure(spark, sfDir, "_once_fail")(_ => builds += 1)
    assert(builds == 1 && d != partial && Files.isDirectory(Paths.get(d)))
  }

  test("Indexes.ensure: 8 threads on one key run one build and get one dir") {
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map(_ => pool.submit(new Callable[String] {
        def call(): String = {
          start.await()
          Indexes.ensure(spark, sfDir, "_once_race") { _ =>
            builds.incrementAndGet()
            Thread.sleep(200)
          }
        }
      }))
      start.countDown()
      val dirs = calls.map(_.get(60, TimeUnit.SECONDS)).toSet
      assert(builds.get == 1 && dirs.size == 1, s"${builds.get} builds, dirs $dirs")
    } finally pool.shutdownNow()
  }

  test("snapshot_read: a second run in the session rewrites no fixture file") {
    import scala.jdk.CollectionConverters._
    SparkEntry.queries("snapshot_read")(spark, sfDir).count()
    val base = Indexes.ensure(spark, sfDir, "snapshots")(_ => fail("snapshot fixture rebuilt"))
    def listing: Map[String, Long] = {
      val s = Files.walk(Paths.get(base))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map((f: Path) => f.toString -> Files.getLastModifiedTime(f).toMillis)
        .toMap
      finally s.close()
    }
    val before = listing
    assert(before.keys.exists(_.contains("v=1")), s"no v=1 files under $base")
    SparkEntry.queries("snapshot_read")(spark, sfDir).count()
    assert(listing == before, "second snapshot_read rewrote the fixture")
  }
}
