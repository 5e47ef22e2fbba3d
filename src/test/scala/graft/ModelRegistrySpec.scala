package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.NaiveBayes
import graft.state.ModelRegistry

/** Contract of the versioned model registry: a pinned snapshot is
  * score-stable under a concurrent refresh, promotion is a single
  * manifest swap (no torn cross-table mix), rollback restores the
  * previous artifact bit-exactly, and version numbers never collide
  * across rollbacks. */
class ModelRegistrySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def freshRegRoot(): (ModelRegistry, String) = {
    val root = Files.createTempDirectory("graft-registry-spec").toString
    (new ModelRegistry(spark, root), root)
  }
  private def freshReg(): ModelRegistry = freshRegRoot()._1

  private val corpusA = Seq(
    (1L, "en", "the cat sat on the mat near the hat"),
    (2L, "en", "a dog and the cat ran to the barn"),
    (3L, "fr", "le chat est sur le tapis pres du chapeau"),
    (4L, "fr", "un chien et le chat vont a la grange"))
  private val corpusB = Seq( // different texts → different model
    (5L, "en", "rivers flow down to the open salt sea"),
    (6L, "fr", "les rivieres coulent vers la mer salee"))
  private val batch = Seq(
    (10L, "en", "the cat and the dog sat near the barn"),
    (11L, "fr", "le chat et le chien sont pres de la grange"))

  private def df(rows: Seq[(Long, String, String)]) =
    rows.toDF("doc_id", "lang", "text")

  private def scores(pin: ModelRegistry#Pinned): Seq[(Long, String, Long)] =
    NaiveBayes.nbcScore(df(batch), "text", "doc_id", "lang",
        NaiveBayes.nbcFromRegistry(pin))
      .select("doc_id", "pred_lang", "score_micros")
      .as[(Long, String, Long)].collect().toSeq.sortBy(_._1)

  test("pinned snapshot is score-stable under concurrent refresh; " +
      "the new snapshot sees the refreshed model") {
    val reg = freshReg()
    assert(reg.currentVersion("nbc") === 0L)
    val v1 = NaiveBayes.nbcPublishModel(df(corpusA), "text", "lang",
      reg, "nbc")
    assert(v1 === 1L)
    val pin1 = reg.snapshot("nbc")
    assert(pin1.version === 1L)
    val s1 = scores(pin1)

    // concurrent refresh promotes v2 while pin1 is live
    val v2 = NaiveBayes.nbcPublishModel(df(corpusB), "text", "lang",
      reg, "nbc")
    assert(v2 === 2L && reg.currentVersion("nbc") === 2L)

    // the pinned reader re-resolves the SAME immutable version dir:
    // bit-identical scores after the refresh
    assert(scores(pin1) === s1)

    // a fresh snapshot sees the refreshed model — and it scores
    // differently (corpus B shares no content words with the batch)
    val pin2 = reg.snapshot("nbc")
    assert(pin2.version === 2L)
    assert(scores(pin2) !== s1)
  }

  test("rollback restores the previous artifact bit-exactly; a second " +
      "rollback fails; post-rollback publish never reuses a version") {
    val reg = freshReg()
    NaiveBayes.nbcPublishModel(df(corpusA), "text", "lang", reg, "nbc")
    val s1 = scores(reg.snapshot("nbc"))
    NaiveBayes.nbcPublishModel(df(corpusB), "text", "lang", reg, "nbc")
    val s2 = scores(reg.snapshot("nbc"))
    assert(s2 !== s1)

    assert(reg.rollback("nbc") === 1L)
    assert(reg.currentVersion("nbc") === 1L)
    assert(scores(reg.snapshot("nbc")) === s1)

    // history is one step deep (the AtomicTable retention contract)
    val e = intercept[IllegalArgumentException](reg.rollback("nbc"))
    assert(e.getMessage.contains("no previous version"))

    // max_version discipline: the next publish allocates v3, never a
    // collision with the demoted-but-retained v2 dir
    val v3 = NaiveBayes.nbcPublishModel(df(corpusA), "text", "lang",
      reg, "nbc")
    assert(v3 === 3L)
    assert(scores(reg.snapshot("nbc")) === s1) // corpus A again
  }

  test("promotion is all-tables-at-once: a reader resolving between " +
      "table writes of an in-flight publish still sees the old version") {
    val (reg, root) = freshRegRoot()
    reg.publish("m", Seq(
      "a" -> Seq((1L, "x")).toDF("k", "v"),
      "b" -> Seq((1L, "y")).toDF("k", "v")))
    val pin = reg.snapshot("m")
    // simulate the mid-publish window: v2's table `a` is on disk but the
    // manifest has not swapped — publish() writes all tables before
    // promote(), so a snapshot taken now must still resolve v1
    Seq((2L, "x2")).toDF("k", "v").write.parquet(s"$root/m/v-2/a")
    assert(reg.snapshot("m").version === 1L)
    assert(reg.snapshot("m").table("a").as[(Long, String)].collect()
      .toSeq === Seq((1L, "x")))
    assert(pin.table("b").as[(Long, String)].collect().toSeq ===
      Seq((1L, "y")))
  }

  test("publish claims a per-version lock: a concurrent (or crashed) " +
      "publisher fails loudly naming the lock; removal recovers; a " +
      "normal publish releases it") {
    val (reg, root) = freshRegRoot()
    reg.publish("m", Seq("a" -> Seq((1L, "x")).toDF("k", "v")))
    // simulate a concurrent publisher holding the claim for v2
    val lock = java.nio.file.Paths.get(s"$root/m/publish-lock-2")
    java.nio.file.Files.createFile(lock)
    val e = intercept[IllegalArgumentException](
      reg.publish("m", Seq("a" -> Seq((2L, "y")).toDF("k", "v"))))
    assert(e.getMessage.contains("publish-lock-2"))
    assert(reg.currentVersion("m") === 1L, "failed publish must not " +
      "promote")
    // operator recovery: remove the stale lock, retry succeeds
    java.nio.file.Files.delete(lock)
    assert(reg.publish("m",
      Seq("a" -> Seq((2L, "y")).toDF("k", "v"))) === 2L)
    // the lock was released: v3 publishes without intervention
    assert(reg.publish("m",
      Seq("a" -> Seq((3L, "z")).toDF("k", "v"))) === 3L)
  }

  test("recycled publish lock cannot overwrite a promoted version: a " +
      "publisher that read the manifest before a competitor promoted " +
      "fails loudly post-claim instead of Overwriting immutable dirs") {
    val root = Files.createTempDirectory("graft-registry-spec").toString
    val fast = new ModelRegistry(spark, root)
    fast.publish("m", Seq("a" -> Seq((1L, "x")).toDF("k", "v")))
    // slow publisher: reads maxv=1 (allocating v2); the fast competitor
    // then publishes v2 and RELEASES its lock entirely inside the race
    // window, so the slow claim succeeds on the freed lock name — the
    // post-claim manifest re-validation is all that stands between it
    // and an in-place Overwrite of the promoted immutable v-2 dirs
    var raced = false
    val slow = new ModelRegistry(spark, root) {
      override protected def onBeforeClaim(model: String,
          v: Long): Unit =
        if (!raced) {
          raced = true
          fast.publish("m", Seq("a" -> Seq((2L, "fast")).toDF("k", "v")))
        }
    }
    val e = intercept[IllegalArgumentException](
      slow.publish("m", Seq("a" -> Seq((2L, "slow")).toDF("k", "v"))))
    assert(e.getMessage.contains("manifest advanced"))
    // the promoted v2 artifact is untouched by the loser
    assert(fast.snapshot("m").version === 2L)
    assert(fast.snapshot("m").table("a").as[(Long, String)].collect()
      .toSeq === Seq((2L, "fast")))
    // and the loser's retry allocates v3 cleanly against the new head
    assert(slow.publish("m",
      Seq("a" -> Seq((3L, "slow")).toDF("k", "v"))) === 3L)
  }

  test("staleLockMs breaks a crashed publisher's lock once it ages past " +
      "the budget; a lock inside the budget still fails loudly") {
    val (reg, root) = freshRegRoot()
    reg.publish("m", Seq("a" -> Seq((1L, "x")).toDF("k", "v")))
    val lock = java.nio.file.Paths.get(s"$root/m/publish-lock-2")
    java.nio.file.Files.createFile(lock)
    // fresh lock + generous budget: the loud manual-recovery error
    val e = intercept[IllegalArgumentException](reg.publish("m",
      Seq("a" -> Seq((2L, "y")).toDF("k", "v")), staleLockMs = 60000L))
    assert(e.getMessage.contains("publish-lock-2"))
    assert(reg.currentVersion("m") === 1L)
    // age the lock past the budget: the publish breaks it and proceeds
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis - 10000L))
    assert(reg.publish("m", Seq("a" -> Seq((2L, "y")).toDF("k", "v")),
      staleLockMs = 5000L) === 2L)
  }

  test("READER-LEASE CONTRACT: a Pinned survives ONE promote cycle; " +
      "held across TWO, its version dir is GC'd and the next table " +
      "read fails loudly (bound scan time below the promote cadence)") {
    val reg = freshReg()
    reg.publish("m", Seq("a" -> Seq((1L, "x")).toDF("k", "v")))
    val pin = reg.snapshot("m") // v1
    reg.publish("m", Seq("a" -> Seq((2L, "y")).toDF("k", "v")))
    // one promote: v1 is the retained predecessor — the pin still reads
    assert(pin.table("a").as[(Long, String)].collect().toSeq ===
      Seq((1L, "x")))
    reg.publish("m", Seq("a" -> Seq((3L, "z")).toDF("k", "v")))
    // two promotes: v1 is GC'd; the stale pin fails LOUDLY, never a
    // torn half-read — this is the documented one-cycle reader lease
    val e = intercept[IllegalArgumentException](pin.table("a"))
    assert(e.getMessage.contains("missing from published version"))
  }

  test("snapshot of a never-published model and a missing table fail " +
      "loudly") {
    val reg = freshReg()
    assert(intercept[IllegalArgumentException](
      reg.snapshot("ghost")).getMessage.contains("never published"))
    reg.publish("m", Seq("a" -> Seq((1L, "x")).toDF("k", "v")))
    assert(intercept[IllegalArgumentException](
      reg.snapshot("m").table("nope")).getMessage.contains("missing"))
  }

  test("randomized publish/rollback sequences track a reference state " +
      "machine: version numbering, one-step history, and table contents") {
    val rnd = new scala.util.Random(20260816L)
    for (round <- 0 until 2) {
      val reg = freshReg()
      // reference fold of the manifest semantics
      var cur = 0L; var prev = 0L; var maxv = 0L
      val stored = scala.collection.mutable.Map[Long, Seq[(Long, Long)]]()
      for (step <- 0 until 10) {
        val doRollback = prev > 0 && rnd.nextInt(4) == 0
        if (doRollback) {
          assert(reg.rollback("m") === prev)
          cur = prev; prev = 0L
        } else {
          val rows = Seq.fill(1 + rnd.nextInt(4))(
            (rnd.nextInt(100).toLong, rnd.nextLong()))
          val v = reg.publish("m", Seq("a" -> rows.toDF("k", "v")))
          assert(v === maxv + 1, s"round $round step $step")
          stored(v) = rows
          prev = cur; cur = v; maxv = v
        }
        assert(reg.currentVersion("m") === cur)
        val read = reg.snapshot("m").table("a")
          .as[(Long, Long)].collect().toSeq.sorted
        assert(read === stored(cur).sorted,
          s"round $round step $step: v$cur content")
      }
      // exhausted-history rollback fails loudly whenever prev == 0
      if (prev == 0L && cur > 0L)
        assert(intercept[IllegalArgumentException](reg.rollback("m"))
          .getMessage.contains("no previous version"))
    }
  }

  test("stale-lock break is ATOMIC: of two recoverers that both " +
      "observed the stale lock, exactly one wins the rename; the loser " +
      "fails loudly without entering the critical section") {
    val root = Files.createTempDirectory("graft-registry-spec").toString
    val fast = new ModelRegistry(spark, root)
    fast.publish("m", Seq("a" -> Seq((1L, "x")).toDF("k", "v")))
    // a crashed publisher's stale lock for v2, aged past any budget
    val lock = java.nio.file.Paths.get(s"$root/m/publish-lock-2")
    java.nio.file.Files.createFile(lock)
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis - 60000L))
    // the SLOW recoverer observes the stale lock and passes the age
    // check; inside its break window the FAST recoverer breaks the same
    // lock, publishes v2 completely, and releases — the slow rename then
    // finds no source file and must lose, not double-publish
    var raced = false
    val slow = new ModelRegistry(spark, root) {
      override protected def onBeforeBreak(model: String,
          v: Long): Unit =
        if (!raced) {
          raced = true
          fast.publish("m", Seq("a" -> Seq((2L, "fast")).toDF("k", "v")),
            staleLockMs = 1000L)
        }
    }
    val e = intercept[IllegalArgumentException](slow.publish("m",
      Seq("a" -> Seq((2L, "slow")).toDF("k", "v")), staleLockMs = 1000L))
    assert(e.getMessage.contains("lost the break race"))
    assert(fast.snapshot("m").version === 2L)
    assert(fast.snapshot("m").table("a").as[(Long, String)].collect()
      .toSeq === Seq((2L, "fast")))
    // the loser retries cleanly against the new head
    assert(slow.publish("m",
      Seq("a" -> Seq((3L, "slow")).toDF("k", "v"))) === 3L)
  }

  test("a lock stolen MID-WRITE is detected before promote: the owner " +
      "aborts loudly, never promotes, and never deletes the thief's " +
      "lock") {
    val (reg, root) = freshRegRoot()
    reg.publish("m", Seq("a" -> Seq((1L, "x")).toDF("k", "v")))
    // the second table's evaluation (inside its write, i.e. mid-publish)
    // swaps the v2 lock's content — exactly what a recoverer with a
    // too-small staleLockMs does to a live long write
    val lockPath = s"$root/m/publish-lock-2"
    val evil = spark.range(1).mapPartitions { it =>
      java.nio.file.Files.write(java.nio.file.Paths.get(lockPath),
        "thief-token".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      it
    }.toDF("k")
    val e = intercept[IllegalArgumentException](reg.publish("m", Seq(
      "a" -> Seq((2L, "y")).toDF("k", "v"),
      "b" -> evil)))
    assert(e.getMessage.contains("broken mid-write"))
    assert(reg.currentVersion("m") === 1L, "aborted publish must not " +
      "promote")
    // the thief's lock survives the owner's finally (its claim is live)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(lockPath)) === "thief-token")
  }

  test("a live publisher's lock mtime refreshes across table writes, " +
      "so a long write stays younger than the stale budget") {
    val (reg, root) = freshRegRoot()
    reg.publish("m", Seq("a" -> Seq((1L, "x")).toDF("k", "v")))
    // the first table's evaluation backdates the v2 lock an hour; the
    // refresh after that table's write must bring the mtime back to
    // now — observed by the SECOND table's evaluation, which records
    // the lock's mtime as it sees it mid-publish
    val lockPath = s"$root/m/publish-lock-2"
    val mtimeLog = s"$root/observed-mtime"
    val backdater = spark.range(1).mapPartitions { it =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(lockPath),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis - 3600000L))
      it
    }.toDF("k")
    val recorder = spark.range(1).mapPartitions { it =>
      val m = java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(lockPath)).toMillis
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(mtimeLog), m.toString)
      it
    }.toDF("k")
    val t0 = System.currentTimeMillis
    assert(reg.publish("m", Seq(
      "a" -> backdater,
      "b" -> recorder)) === 2L)
    val observed = java.nio.file.Files.readString(
      java.nio.file.Paths.get(mtimeLog)).toLong
    assert(observed >= t0 - 60000L,
      s"lock mtime was not refreshed after table a's write: observed " +
        s"$observed vs publish start $t0")
    // lock released after promote; a fresh publish proceeds normally
    assert(reg.publish("m",
      Seq("a" -> Seq((3L, "z")).toDF("k", "v"))) === 3L)
  }

  test("keepDepth=3 widens the reader lease: a Pinned survives TWO " +
      "promote cycles, GC stays bounded at three version dirs, and the " +
      "third promote still reclaims it loudly") {
    val root = Files.createTempDirectory("graft-registry-spec").toString
    val reg = new ModelRegistry(spark, root, keepDepth = 3)
    reg.publish("m", Seq("a" -> Seq((1L, "x")).toDF("k", "v")))
    val pin = reg.snapshot("m") // v1
    reg.publish("m", Seq("a" -> Seq((2L, "y")).toDF("k", "v")))
    reg.publish("m", Seq("a" -> Seq((3L, "z")).toDF("k", "v")))
    // two promotes: the round-15 contract failed here; keepDepth=3
    // retains v1 and the pinned reader finishes its scan
    assert(pin.table("a").as[(Long, String)].collect().toSeq ===
      Seq((1L, "x")))
    // GC is still bounded: exactly keepDepth version dirs on disk
    val vDirs = new java.io.File(s"$root/m").listFiles()
      .map(_.getName).filter(_.matches("v-[0-9]+")).sorted
    assert(vDirs.toSeq === Seq("v-1", "v-2", "v-3"))
    reg.publish("m", Seq("a" -> Seq((4L, "w")).toDF("k", "v")))
    // third promote: v1 reclaimed, the stale pin fails LOUDLY
    val e = intercept[IllegalArgumentException](pin.table("a"))
    assert(e.getMessage.contains("missing from published version"))
    val after = new java.io.File(s"$root/m").listFiles()
      .map(_.getName).filter(_.matches("v-[0-9]+")).sorted
    assert(after.toSeq === Seq("v-2", "v-3", "v-4"))
  }

  test("keepDepth below 2 is rejected (manifest needs current+prev)") {
    val root = Files.createTempDirectory("graft-registry-spec").toString
    val e = intercept[IllegalArgumentException](
      new ModelRegistry(spark, root, keepDepth = 1))
    assert(e.getMessage.contains("keepDepth"))
  }

  test("kn3 publish/pin round-trip scores equal the in-session model") {
    val reg = freshReg()
    val docs = df(corpusA ++ corpusB)
    graft.operators.TextAnalysis.kn3PublishModel(docs, "text", "doc_id",
      reg, "lm")
    val pin = reg.snapshot("lm")
    val viaReg = graft.operators.TextAnalysis.kn3Score(df(batch), "text",
        "doc_id", graft.operators.TextAnalysis.kn3FromRegistry(pin))
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    val inSession = graft.operators.TextAnalysis.kn3Score(df(batch),
        "text", "doc_id",
        graft.operators.TextAnalysis.kn3Model(docs, "text", "doc_id"))
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    assert(viaReg === inSession && pin.version === 1L)
  }

  test("pins compare their registry root: one (model, version) pinned " +
      "under two roots is two pins, and two pins under one root are one") {
    val (regA, rootA) = freshRegRoot()
    val (regB, _) = freshRegRoot()
    Seq(regA, regB).foreach(_.publish("m", Seq("a" -> Seq((1L, "x")).toDF("k", "v"))))
    val (a, b) = (regA.snapshot("m"), regB.snapshot("m"))
    assert((a.model, a.version) === ((b.model, b.version)))
    assert(a !== b)
    val again = new ModelRegistry(spark, rootA).snapshot("m")
    assert(a === regA.snapshot("m") && a === again)
    assert(a.hashCode === again.hashCode)
  }
}
