package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** [[Profile]] through the API Bench uses: two back-to-back slots on the
  * sf0.001 fixture, drained once. Each slot's job count is checked
  * against an independent count, keyed on a job group this spec sets
  * around the slot, so a job charged to the wrong slot or to none fails
  * the spec.
  */
class ProfileSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  // the sf0.001 fixture directory, as TESTDATA.md lists it
  private val dir = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("TESTDATA.md"))
      .asScala.collectFirst { case l if l.startsWith("| 0.001 |") =>
        l.split('`')(1).stripSuffix("/")
      }.get
  }
  private val names = Seq("scan_parquet", "q1_agg")
  private val fields = Seq("rows", "plan_ms", "jobs", "stages", "tasks",
    "shuffle_read_bytes", "shuffle_read_records", "shuffle_write_bytes",
    "shuffle_write_records", "peak_stage_write_records", "spill_bytes",
    "gc_ms", "jit_ms")

  test("two slots: fields, rows, planning, shuffle, and every job " +
      "charged to the slot that ran it") {
    val sc = spark.sparkContext
    val expectedRows = names.map(n =>
      n -> SparkEntry.queries(n)(spark, dir).count()).toMap
    val profile = Profile.install(spark)
    assert(Profile.install(spark) eq profile, "one profile per context")

    val jobsByGroup = new ConcurrentHashMap[String, AtomicLong]()
    val groupCounter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(
          "spark.jobGroup.id"))).foreach(g =>
          jobsByGroup.computeIfAbsent(g, _ => new AtomicLong).incrementAndGet())
    }
    sc.addSparkListener(groupCounter)
    profile.drain()
    val unattributed0 = profile.unattributedJobs
    try names.foreach { n =>
      sc.setJobGroup(s"profile-spec:$n", n)
      try profile.slot(n)(Some(SparkEntry.queries(n)(spark, dir).count()))
      finally sc.clearJobGroup()
    } finally {
      profile.drain()
      sc.removeSparkListener(groupCounter)
    }

    val rec = names.map(n => n -> profile.record(n)).toMap
    names.foreach { n =>
      val r = rec(n)
      val keys = "\"(\\w+)\":".r.findAllMatchIn(r.json).map(_.group(1)).toSeq
      assert(keys === fields, s"$n profile fields")
      assert(r.rows === Some(expectedRows(n)), s"$n rows")
      assert(r.planMs > 0, s"$n plan_ms")
      assert(r.jobs > 0 && r.stages > 0 && r.tasks > 0, s"$n: $r")
    }
    // count() itself shuffles one partial-count row per scan task: a file
    // scan never reports a single partition at planning time. The scan
    // of the one-file table shuffles nothing else; q1_agg adds its groups.
    assert(rec("scan_parquet").shuffleWriteRecords === 1)
    assert(rec("q1_agg").shuffleWriteBytes >
      rec("scan_parquet").shuffleWriteBytes)
    assert(rec("q1_agg").peakStageWriteRecords > 1)

    val seen = names.map(n =>
      n -> Option(jobsByGroup.get(s"profile-spec:$n")).fold(0L)(_.get)).toMap
    names.foreach(n => assert(rec(n).jobs === seen(n), s"$n jobs"))
    assert(names.map(rec(_).jobs).sum === seen.values.sum)
    assert(profile.unattributedJobs === unattributed0)
  }
}
