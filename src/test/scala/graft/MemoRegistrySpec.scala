package graft

import org.scalatest.funsuite.AnyFunSuite

/** The memo registry: [[SparkEntry.memoBuilders]] and
  * [[SparkEntry.dropMemos]] both derive from the one `memo(...)`
  * declaration per memo, so names must be unique, declaration order must
  * be dependency order, and a drop must reach every memo.
  *
  * Which memos are cached is probed in planning-only mode, where a
  * builder throws [[SparkEntry.MemoDeferred]] exactly when its entry is
  * not cached — the probe itself never builds anything.
  */
class MemoRegistrySpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  // the sf0.001 fixture directory, as TESTDATA.md lists it
  private val dir = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("TESTDATA.md"))
      .asScala.collectFirst { case l if l.startsWith("| 0.001 |") =>
        l.split('`')(1).stripSuffix("/")
      }.get
  }
  private val builders = SparkEntry.memoBuilders
  private val names = builders.map(_._1)

  private def cached(): Seq[String] = {
    SparkEntry.planningOnly = true
    try builders.collect {
      case (n, b) if (try { b(spark, dir); true }
        catch { case _: SparkEntry.MemoDeferred => false }) => n
    }
    finally SparkEntry.planningOnly = false
  }

  test("memo names are unique") {
    assert(names.nonEmpty)
    assert(names.diff(names.distinct).isEmpty, "duplicate memo names")
  }

  test("registry order is dependency order: each build caches one memo") {
    SparkEntry.dropMemos(spark, dir)
    assert(cached().isEmpty)
    builders.zipWithIndex.foreach { case ((name, b), i) =>
      b(spark, dir)
      assert(cached() === names.take(i + 1),
        s"building $name built a memo declared after it")
    }
  }

  test("dropMemos leaves no memo cached for (spark, dir)") {
    builders.foreach { case (_, b) => b(spark, dir) }
    assert(cached() === names)
    SparkEntry.dropMemos(spark, dir)
    assert(cached().isEmpty)
  }
}
