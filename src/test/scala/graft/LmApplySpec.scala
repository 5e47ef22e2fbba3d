package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis
import graft.state.ModelRegistry

/** The frozen-model LM tier's contract: persisting the pruned
  * trigram-KN model through ModelRegistry and scoring against the
  * RELOADED artifact must be indistinguishable from scoring against the
  * in-session model — and out-of-model contexts must take exactly the
  * shared OOV floor, nothing else changing. */
class LmApplySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // train corpus: repeated trigrams (so the count floor keeps some and
  // prunes some) plus singleton tails
  private val train = Seq(
    (0L, "the cat sat on the mat and the cat sat on the rug"),
    (2L, "the cat sat on the mat every single day we think"),
    (4L, "a dog ran over the hill and far away it went"),
    (6L, "the cat sat on the mat again and again and again"),
    (8L, "completely unrelated words forming their own sentence here")
  ).toDF("doc_id", "text")

  // apply batch: doc 1 reuses trained contexts, doc 3 mixes trained and
  // novel contexts, doc 5 is ENTIRELY out-of-model
  private val batch = Seq(
    (1L, "the cat sat on the mat"),
    (3L, "the cat sat on zzz qqq xxx"),
    (5L, "zz yy xx ww vv uu")
  ).toDF("doc_id", "text")

  private def scores(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_id").as[(Long, Long)].collect().toSeq

  test("apply-after-store equals score-in-session, row for row") {
    val inSession = TextAnalysis.kn3Score(batch, "text", "doc_id",
      TextAnalysis.kn3Model(train, "text", "doc_id"))
    val reg = new ModelRegistry(spark,
      Files.createTempDirectory("graft-lmapply").toString)
    TextAnalysis.kn3PublishModel(train, "text", "doc_id", reg, "lm")
    val reloaded = TextAnalysis.kn3Score(batch, "text", "doc_id",
      TextAnalysis.kn3FromRegistry(reg.snapshot("lm")))
    val want = scores(inSession)
    assert(want.nonEmpty && want.map(_._1) === Seq(1L, 3L, 5L))
    assert(scores(reloaded) === want)
  }

  test("a fully out-of-model doc scores exactly the OOV floor; " +
      "in-model docs are unaffected by its presence") {
    val m = TextAnalysis.kn3Model(train, "text", "doc_id")
    val got = scores(TextAnalysis.kn3Score(batch, "text", "doc_id", m))
      .toMap
    // every trigram of doc 5 has an unseen context → per-token lp is
    // the constant floor, and the mean collapses to round(floor/1000)
    val floorPermille = java.math.BigDecimal
      .valueOf(TextAnalysis.KnOovLpMicro / 1000.0)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    assert(got(5L) === floorPermille)
    // doc 1's score is identical whether or not OOV docs ride along —
    // scoring is per-row, no cross-doc coupling through the batch
    val solo = scores(TextAnalysis.kn3Score(
      batch.filter(col("doc_id") === 1L), "text", "doc_id", m))
    assert(got(1L) === solo.head._2)
    // and the mixed doc sits strictly between the floor and doc 1
    assert(got(3L) > floorPermille && got(3L) < got(1L))
  }

  test("kn3ScoreLocal == distributed kn3Score, doc for doc, on random " +
      "train/apply corpora (exercising OOV, pruned, and kept paths)") {
    val rnd = new scala.util.Random(20260815)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val oov = Vector("q1", "q2", "q3")
    def doc(n: Int, pool: Vector[String]) =
      (1 to n).map(_ => pool(rnd.nextInt(pool.size))).mkString(" ")
    for (trial <- 1 to 3) {
      val train = (0 until 30)
        .map(i => (i.toLong, doc(3 + rnd.nextInt(15), vocab)))
        .toDF("doc_id", "text")
      val apply = (100 until 140).map { i =>
        val pool = rnd.nextInt(4) match {
          case 0 => oov // fully out-of-model
          case 1 => vocab ++ oov // mixed
          case _ => vocab // in-distribution
        }
        // a few < 3-token docs: unscorable, absent from BOTH outputs
        (i.toLong, doc(if (rnd.nextInt(6) == 0) 2 else 3 +
          rnd.nextInt(12), pool))
      }
      val batch = apply.toDF("doc_id", "text")
      val frozen = TextAnalysis.kn3Freeze(
        TextAnalysis.kn3Model(train, "text", "doc_id"))
      val distributed = TextAnalysis.kn3Score(batch, "text", "doc_id",
        TextAnalysis.kn3Model(train, "text", "doc_id"))
        .as[(Long, Long)].collect().toMap
      val local = apply.flatMap { case (id, text) =>
        TextAnalysis.kn3ScoreLocal(text, frozen).map(id -> _)
      }.toMap
      assert(local === distributed, s"trial $trial")
      assert(local.size < apply.size,
        s"trial $trial: fixture must include unscorable docs")
    }
  }

  test("stored model tables are the pruned artifact: no singleton " +
      "trigrams survive in kept, and types matches cont's row count") {
    val reg = new ModelRegistry(spark,
      Files.createTempDirectory("graft-lmapply2").toString)
    TextAnalysis.kn3PublishModel(train, "text", "doc_id", reg, "lm")
    val m = TextAnalysis.kn3FromRegistry(reg.snapshot("lm"))
    assert(m.kept.filter(col("c123") < 2).count() === 0)
    assert(m.kept.count() > 0, "fixture must keep some trigrams")
    val b2 = m.types.as[Long].head()
    assert(b2 === m.cont.count())
    // the model is smaller than the raw trigram-type table — the whole
    // point of the count floor (the fixture has singleton tails)
    val rawTypes = graft.operators.Dedup
      .shingleStream(train, "text", "doc_id", n = 3)
      .select("s").distinct().count()
    assert(m.kept.count() < rawTypes)
  }
}
