package graft

import graft.harmonize.Discovery
import graft.operators.Pins
import org.apache.spark.sql.{functions => F}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** The scoped release contract of [[operators.Pins]], and the source
  * guard that keeps every persist and checkpoint in src/main behind it.
  */
class PinsSpec extends SparkSpec {
  import spark.implicits._

  // compare id SETS, not sizes: the shared-JVM ContextCleaner may
  // concurrently drop OTHER suites' entries mid-test
  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def frame = (1L to 50L).toDF("x")

  test("a scope releases what persist and pin created, also when the body throws") {
    val before = persistentIds
    val cached = frame.where($"x" > 3)
    val n = Pins.scoped {
      Pins.persist(cached).count()
      Pins.pin(frame.where($"x" > 5)).count()
      assert(cached.storageLevel != StorageLevel.NONE)
      assert((persistentIds -- before).nonEmpty)
      cached.count()
    }
    assert(n == 47)
    assert(cached.storageLevel == StorageLevel.NONE)
    assert((persistentIds -- before).isEmpty)
    intercept[IllegalStateException] {
      Pins.scoped {
        Pins.pin(frame.where($"x" > 7)).count()
        Pins.persist(cached).count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(cached.storageLevel == StorageLevel.NONE)
    assert((persistentIds -- before).isEmpty, "a failing body must still release")
  }

  test("scopes nest: the inner scope frees only its own frames") {
    val outer = frame.where($"x" > 10)
    val inner = frame.where($"x" > 20)
    Pins.scoped {
      Pins.persist(outer).count()
      Pins.scoped(Pins.persist(inner).count())
      assert(inner.storageLevel == StorageLevel.NONE)
      assert(outer.storageLevel != StorageLevel.NONE)
    }
    assert(outer.storageLevel == StorageLevel.NONE)
  }

  test("persist hands back an already-cached frame and leaves it to its owner") {
    val owned = frame.where($"x" > 30).persist()
    owned.count()
    Pins.scoped(assert(Pins.persist(owned) eq owned))
    assert(owned.storageLevel != StorageLevel.NONE, "the scope released a frame it did not create")
    owned.unpersist(blocking = true)
    // outside a scope nothing registers: the caller owns the cache
    val unscoped = Pins.persist(frame.where($"x" > 40))
    Pins.scoped(())
    assert(unscoped.storageLevel != StorageLevel.NONE)
    unscoped.unpersist(blocking = true)
  }

  test("threads started inside a scope register with it") {
    val before = persistentIds
    val viaThread = frame.where($"x" > 2)
    Pins.scoped {
      val t = new Thread(() => { Pins.persist(viaThread).count(); () })
      t.start()
      t.join()
      assert(viaThread.storageLevel != StorageLevel.NONE)
    }
    assert(viaThread.storageLevel == StorageLevel.NONE)
    assert((persistentIds -- before).isEmpty)
  }

  test("a scope body must not return a Dataset; its frames are released anyway") {
    val cached = frame.where($"x" > 4)
    val e = intercept[IllegalArgumentException](Pins.scoped(Pins.persist(cached)))
    assert(e.getMessage.contains("Pins.scoped"), e.getMessage)
    assert(cached.storageLevel == StorageLevel.NONE)
  }

  test("release is precise: a pin made outside the scope outlives it") {
    val outside = Pins.pin(frame)
    Pins.scoped(Pins.persist(outside.where($"x" > 1)).count())
    // the scope's frame sat on top of `outside`; freeing it must not
    // have dropped the checkpoint blocks its lineage ends in
    assert(outside.count() == 50)
    Pins.release(outside)
  }

  test("inclusionSketchGate: a failing side surfaces, stops the pool, leaves nothing cached") {
    spark.catalog.clearCache()
    val before = persistentIds
    val good = spark.range(1, 21).select(F.col("id").cast("string").as("v"))
    val bad = spark.range(1, 21).select(
      F.when(F.col("id") === 13, F.raise_error(F.lit("planted gate failure")))
        .otherwise(F.col("id").cast("string")).as("v"))
    val e = intercept[Exception] {
      Pins.scoped {
        Discovery.inclusionSketchGate(Seq(("A", good, "v"), ("B", bad, "v"))).count()
      }
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(c => String.valueOf(c.getMessage).contains("planted gate failure")), e)
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName == Discovery.InclusionGateThread && t.isAlive)
    assert(alive.isEmpty, s"gate pool threads still alive: $alive")
    assert((persistentIds -- before).isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty, "the gate left a cached frame")
    // the healthy path releases through the same scope
    val rows = Pins.scoped {
      Discovery.inclusionSketchGate(Seq(("A", good, "v"), ("B", good, "v"))).count()
    }
    assert(rows == 2)
    assert((persistentIds -- before).isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("structural guard: src/main persists and checkpoints only through Pins") {
    // the release decision lives in ONE module: a direct persist,
    // cache or checkpoint anywhere else escapes every scope. The
    // process-level memos in SparkEntry (capFrames, fixtureCorpus)
    // must outlive a query, so their helpers keep a raw checkpoint.
    import java.nio.file.{Files, Path, Paths}
    val root = Paths.get("src/main/scala")
    val pins = root.resolve("graft/operators/Pins.scala")
    val memoHelpers = Seq("def capFrames(", "def fixtureCorpus(")
    val direct = """(?<!Pins)\.(persist\(|cache\(\)|checkpoint\(|localCheckpoint\()""".r
    def withoutMemoHelpers(src: String): String = memoHelpers.foldLeft(src) { (s, h) =>
      val i = s.indexOf(h)
      if (i < 0) s
      else {
        val j = s.indexOf("\n\n", i)
        s.substring(0, i) + s.substring(i, j).filter(_ == '\n') + s.substring(j)
      }
    }
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != pins).toSeq
    val hits = files.flatMap { p: Path =>
      withoutMemoHelpers(new String(Files.readAllBytes(p), "UTF-8"))
        .split("\n").zipWithIndex.collect {
          case (line, i) if !line.trim.startsWith("//") && !line.trim.startsWith("*") &&
              direct.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }
    }
    assert(files.size > 50, s"source tree not found from ${Paths.get("").toAbsolutePath}")
    assert(hits.isEmpty, "store frames through Pins.persist / Pins.pin:\n" + hits.mkString("\n"))
    // the memo helpers are still there to exempt
    val entry = new String(Files.readAllBytes(root.resolve("graft/SparkEntry.scala")), "UTF-8")
    memoHelpers.foreach(h => assert(entry.contains(h), s"memo helper $h is gone"))
  }
}
