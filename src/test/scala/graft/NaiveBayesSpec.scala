package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.NaiveBayes
import graft.state.ModelRegistry

/** Contract of the trained Naive-Bayes char-trigram classifier: the
  * distributed inverted-index scorer equals a from-first-principles
  * local reference (same add-1 rationals, same quantize-once-ln), the
  * registry round-trip is invisible to scoring, gram-less docs fall back to
  * the prior, and the argmax tie-break is pinned. */
class NaiveBayesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Spark `round(double)` semantics: HALF_UP away from zero —
    * math.round would round negative ties the other way. */
  private def q(v: Double): Long = java.math.BigDecimal.valueOf(v)
    .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** From-first-principles local scorer: exactly the operator's math,
    * none of its distribution. Returns the FULL per-class score list
    * per doc (lang-ascending); [[localScore]]/[[localMargins]] close
    * over it. */
  private def localGrid(train: Seq[(Long, String, String)],
      batch: Seq[(Long, String, String)])
      : Seq[(Long, String, Seq[(String, Long)])] = {
    def grams(t: String): Seq[String] = {
      val tx = t.toLowerCase
      if (tx.length < 3) Seq.empty
      else (0 to tx.length - 3).map(i => tx.substring(i, i + 3))
    }
    val byLang = train.groupBy(_._2)
    val gc: Map[(String, String), Long] = train
      .flatMap { case (_, l, t) => grams(t).map(g => (l, g)) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val vocab = gc.keySet.map(_._2)
    val v = vocab.size.toLong
    val d = train.size.toLong
    val nTok: Map[String, Long] = gc.groupBy(_._1._1)
      .map { case (l, m) => l -> m.values.sum }
    val langs = byLang.keys.toSeq.sorted
    batch.map { case (id, trueLang, text) =>
      val gs = grams(text)
      val scored = langs.map { l =>
        val nt = nTok.getOrElse(l, 0L)
        val prior = q(math.log(byLang(l).size.toDouble / d.toDouble)
          * 1e6)
        val floor = q(math.log(1.0 / (nt + v).toDouble) * 1e6)
        val lp: Map[String, Long] = gs.distinct.flatMap { g =>
          gc.get((l, g)).map(c => g ->
            (q(math.log((c + 1).toDouble / (nt + v).toDouble) * 1e6)
              - floor))
        }.toMap
        val msum = gs.map(g => lp.getOrElse(g, 0L)).sum
        l -> (prior + gs.size * floor + msum)
      }
      (id, trueLang, scored)
    }
  }

  private def localScore(train: Seq[(Long, String, String)],
      batch: Seq[(Long, String, String)])
      : Seq[(Long, String, String, Long)] =
    localGrid(train, batch).map { case (id, tl, scored) =>
      val (pl, sc) = scored.sortBy { case (l, s) => (-s, l) }.head
      (id, tl, pl, sc)
    }

  private def localMargins(train: Seq[(Long, String, String)],
      batch: Seq[(Long, String, String)])
      : Seq[(Long, String, Long)] =
    localGrid(train, batch).map { case (id, _, scored) =>
      val ranked = scored.sortBy { case (l, s) => (-s, l) }
      val margin = if (ranked.size < 2) 0L
        else ranked.head._2 - ranked(1)._2
      (id, ranked.head._1, margin)
    }

  private val train = Seq(
    (0L, "en", "the cat sat on the mat and then the cat slept"),
    (2L, "en", "the dog and the cat are friends in the house"),
    (4L, "fr", "le chat et le chien sont dans la maison ensemble"),
    (6L, "fr", "le chien dort sur le tapis et le chat regarde"),
    (8L, "de", "der hund und die katze schlafen auf dem teppich"))

  private val batch = Seq(
    (1L, "en", "the cat and the dog"),
    (3L, "fr", "le chat dort sur le tapis"),
    (5L, "de", "die katze und der hund"),
    (7L, "en", "zz"))

  private def run(tr: Seq[(Long, String, String)],
      ba: Seq[(Long, String, String)]) = {
    val m = NaiveBayes.nbcTrain(
      tr.toDF("doc_id", "lang", "text"), "text", "lang")
    NaiveBayes.nbcScore(ba.toDF("doc_id", "lang", "text"), "text",
        "doc_id", "lang", m)
      .orderBy("doc_id").as[(Long, String, String, Long)].collect().toSeq
  }

  test("distributed scorer equals the local reference on the hand " +
      "corpus; plausible labels come out") {
    val got = run(train, batch)
    assert(got === localScore(train, batch))
    val pred = got.map(r => r._1 -> r._3).toMap
    assert(pred(1L) === "en" && pred(3L) === "fr" && pred(5L) === "de")
  }

  test("a gram-less doc classifies on the prior alone (majority class " +
      "wins) and still emits a row") {
    val got = run(train, batch).map(r => r._1 -> r._3).toMap
    // doc 7 has no trigrams; en has 2/5 prior vs fr 2/5 vs de 1/5 —
    // en wins the (score DESC, lang ASC) tie-break against fr
    assert(got(7L) === "en")
    val t = run(train, Seq((7L, "en", "zz"))).head
    val prior = q(math.log(2.0 / 5.0) * 1e6)
    assert(t._4 === prior)
  }

  test("apply-after-store equals score-in-session, row for row") {
    val trDf = train.toDF("doc_id", "lang", "text")
    val baDf = batch.toDF("doc_id", "lang", "text")
    val inSession = NaiveBayes.nbcScore(baDf, "text", "doc_id", "lang",
      NaiveBayes.nbcTrain(trDf, "text", "lang"))
    val reg = new ModelRegistry(spark,
      Files.createTempDirectory("graft-nbc").toString)
    NaiveBayes.nbcPublishModel(trDf, "text", "lang", reg, "nbc")
    val reloaded = NaiveBayes.nbcScore(baDf, "text", "doc_id", "lang",
      NaiveBayes.nbcFromRegistry(reg.snapshot("nbc")))
    val want = inSession.orderBy("doc_id")
      .as[(Long, String, String, Long)].collect().toSeq
    assert(want.nonEmpty)
    assert(reloaded.orderBy("doc_id")
      .as[(Long, String, String, Long)].collect().toSeq === want)
  }

  test("property: distributed equals local reference on random corpora") {
    val rnd = new scala.util.Random(20260816L)
    val alphabets = Map(
      "aa" -> "abcde ", "bb" -> "fghij ", "cc" -> "abfgh ")
    for (round <- 1 to 3) {
      def doc(lang: String, id: Long): (Long, String, String) = {
        val a = alphabets(lang)
        val n = 5 + rnd.nextInt(40)
        (id, lang, Seq.fill(n)(a(rnd.nextInt(a.length))).mkString)
      }
      val langs = alphabets.keys.toSeq.sorted
      val tr = (0 until 30).map(i =>
        doc(langs(rnd.nextInt(3)), i * 2L))
      val ba = (0 until 15).map(i =>
        doc(langs(rnd.nextInt(3)), i * 2L + 1))
      assert(run(tr, ba) === localScore(tr, ba),
        s"divergence on random round $round")
    }
  }

  test("nbcClassifyLocal == distributed nbcClassify, doc for doc, on " +
      "random corpora (frozen-model bit-parity)") {
    val rnd = new scala.util.Random(13L)
    val alphabets = Map(
      "aa" -> "abcde ", "bb" -> "fghij ", "cc" -> "abfgh ")
    val langs = alphabets.keys.toSeq.sorted
    def doc(lang: String, id: Long): (Long, String, String) = {
      val a = alphabets(lang)
      val n = rnd.nextInt(40) // includes gram-less (< 3 chars) docs
      (id, lang, Seq.fill(n)(a(rnd.nextInt(a.length))).mkString)
    }
    val tr = (0 until 25).map(i => doc(langs(rnd.nextInt(3)), i * 2L))
    val ba = (0 until 12).map(i => doc(langs(rnd.nextInt(3)), i * 2L + 1))
    val m = NaiveBayes.nbcTrain(tr.toDF("doc_id", "lang", "text"),
      "text", "lang")
    val frozen = NaiveBayes.nbcFreeze(m)
    val dist = NaiveBayes.nbcClassify(ba.toDF("doc_id", "lang", "text"),
        "text", "doc_id", m)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    val local = ba.sortBy(_._1).map { case (id, _, text) =>
      val (pred, score) = NaiveBayes.nbcClassifyLocal(text, frozen)
      (id, pred, score)
    }
    assert(dist === local)
  }

  test("streaming classifier gate == batch nbcGate on the same corpus, " +
      "and the declared lang_gate stage reads the stored artifact") {
    import java.nio.file.{Files, Paths}
    val regDir = Files.createTempDirectory("graft-nbc-gate").toString
    val reg = new ModelRegistry(spark, regDir)
    val trDf = train.toDF("doc_id", "lang", "text")
    NaiveBayes.nbcPublishModel(trDf, "text", "lang", reg, "nbc")
    val m = NaiveBayes.nbcFromRegistry(reg.snapshot("nbc"))
    val docs = (batch ++ Seq((9L, "de", "die katze und der hund"),
      (11L, "fr", "le chien et le chat"))).toDF("doc_id", "lang", "text")
    val keep = Set("en", "fr")
    val want = NaiveBayes.nbcGate(docs, "text", "doc_id", m,
        keep.toSeq.sorted)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(want.nonEmpty && want.size < docs.count())

    // declared-stage form over the same stored artifact
    val json = s"""{"steps":[{"op":"lang_gate","text":"text",
      |"id":"doc_id","model_dir":"$regDir","model":"nbc",
      |"keep":["en","fr"]}]}""".stripMargin
    val staged = graft.pipeline.SpecLoader.stagesFromJson(json)
    assert(staged.map(_._1) === Seq("lang_gate"))
    assert(staged.head._2(docs).select("doc_id").as[Long].collect()
      .sorted.toSeq === want)

    // streaming twin over the frozen form of the same artifact
    val frozen = NaiveBayes.nbcFreeze(m)
    val root = Files.createTempDirectory("graft-nbc-stream").toString
    val inDir = s"$root/in"; Files.createDirectories(Paths.get(inDir))
    Files.writeString(Paths.get(s"$inDir/b0.json"),
      docs.toJSON.collect().mkString("\n"))
    val stream = spark.readStream
      .schema("doc_id LONG, lang STRING, text STRING").json(inDir)
    val gated = graft.streaming.StreamingClassifierGate.gate(
      stream, "text", frozen, keep)
    val q = gated.writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .format("memory").queryName("nbc_gate").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("nbc_gate").select("doc_id").as[Long]
      .collect().sorted.toSeq === want)
  }

  test("nbcMargins == local top-2 reference (hand corpus + random " +
      "rounds); margin is the argmax's lead and never negative") {
    val m = NaiveBayes.nbcTrain(
      train.toDF("doc_id", "lang", "text"), "text", "lang")
    val got = NaiveBayes.nbcMargins(
        batch.toDF("doc_id", "lang", "text"), "text", "doc_id", m)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(got === localMargins(train, batch))
    assert(got.forall(_._3 >= 0L))
    // the margin's top class agrees with nbcClassify's argmax
    val preds = localScore(train, batch).map(r => r._1 -> r._3).toMap
    assert(got.forall { case (id, pl, _) => preds(id) == pl })
    val rnd = new scala.util.Random(31L)
    val alphabets = Map("aa" -> "abcde ", "bb" -> "fghij ")
    val langs = alphabets.keys.toSeq.sorted
    def doc(lang: String, id: Long): (Long, String, String) = {
      val a = alphabets(lang)
      (id, lang,
        Seq.fill(rnd.nextInt(30))(a(rnd.nextInt(a.length))).mkString)
    }
    val tr = (0 until 20).map(i => doc(langs(rnd.nextInt(2)), i * 2L))
    val ba = (0 until 10).map(i => doc(langs(rnd.nextInt(2)), i * 2L + 1))
    val m2 = NaiveBayes.nbcTrain(tr.toDF("doc_id", "lang", "text"),
      "text", "lang")
    assert(NaiveBayes.nbcMargins(ba.toDF("doc_id", "lang", "text"),
        "text", "doc_id", m2)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
      === localMargins(tr, ba))
  }

  test("margin gate: local frozen margin == distributed nbcMargins; " +
      "declared margin_gate stage and streaming twin select the same " +
      "rows as the batch gate") {
    import java.nio.file.{Files, Paths}
    // binary quality proxy: 'aa' is the curated tier
    val tr = Seq(
      (0L, "aa", "the cat sat on the mat and slept all day"),
      (2L, "aa", "a dog ran over the hill and came back home"),
      (4L, "bb", "zzq wwq vvq uuq ttq ssq rrq qqq ppq ooq"),
      (6L, "bb", "qqz wwz vvz uuz ttz ssz rrz zzz ppz ooz"))
    val ba = Seq(
      (1L, "aa", "the cat sat on the mat"),          // confident aa
      (3L, "aa", "a dog ran over the hill"),          // confident aa
      (5L, "bb", "zzq wwq vvq uuq"),                  // confident bb
      (7L, "aa", "zq wq the cat zq wq zq wq zq wq"))  // mixed/low margin
    val regDir = Files.createTempDirectory("graft-mgate").toString
    val reg = new ModelRegistry(spark, regDir)
    NaiveBayes.nbcPublishModel(tr.toDF("doc_id", "lang", "text"), "text",
      "lang", reg, "nbc")
    val m = NaiveBayes.nbcFromRegistry(reg.snapshot("nbc"))
    val frozen = NaiveBayes.nbcFreeze(m)
    val baDf = ba.toDF("doc_id", "lang", "text")
    // local frozen margins == distributed, doc for doc
    val dist = NaiveBayes.nbcMargins(baDf, "text", "doc_id", m)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(dist === ba.map { case (id, _, t) =>
      val (pl, mg) = NaiveBayes.nbcMarginLocal(t, frozen)
      (id, pl, mg)
    })
    // pick a threshold that separates the confident aa docs from the
    // mixed one — derived from the measured margins so the test can't
    // rot if the fixture shifts
    val aa = dist.filter(_._2 == "aa").map(_._3).sorted
    assert(aa.size >= 2, s"fixture lost its aa predictions: $dist")
    val thr = (aa.head + aa.last) / 2
    val want = NaiveBayes.nbcMarginGate(baDf, "text", "doc_id", m, "aa",
        thr).select("doc_id").as[Long].collect().sorted.toSeq
    assert(want.nonEmpty && want.size < dist.count(_._2 == "aa"))
    // declared stage over the stored artifact
    val json = s"""{"steps":[{"op":"margin_gate","text":"text",
      |"id":"doc_id","model_dir":"$regDir","model":"nbc",
      |"keep_class":"aa","min_margin_micros":$thr}]}""".stripMargin
    val staged = graft.pipeline.SpecLoader.stagesFromJson(json)
    assert(staged.head._2(baDf).select("doc_id").as[Long].collect()
      .sorted.toSeq === want)
    // streaming twin
    val root = Files.createTempDirectory("graft-mgate-s").toString
    val inDir = s"$root/in"; Files.createDirectories(Paths.get(inDir))
    Files.writeString(Paths.get(s"$inDir/b0.json"),
      baDf.toJSON.collect().mkString("\n"))
    val stream = spark.readStream
      .schema("doc_id LONG, lang STRING, text STRING").json(inDir)
    val q = graft.streaming.StreamingClassifierGate.marginGate(
        stream, "text", frozen, "aa", thr)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .format("memory").queryName("nbc_mgate").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("nbc_mgate").select("doc_id").as[Long]
      .collect().sorted.toSeq === want)
  }

  test("maintainGramCounts == full recount over the post-delta corpus, " +
      "including a doc added AND retracted in one delta; " +
      "retract-to-zero rows drop") {
    val base = Seq((0L, "en", "abcd"), (2L, "en", "abab"),
      (4L, "fr", "xyzw")).toDF("doc_id", "lang", "text")
    val state = NaiveBayes.trainGramCounts(base, "text", "lang")
    // delta: add doc 6, retract doc 4 (zeroes every fr gram), and a doc
    // that is added and retracted in the same batch (must cancel)
    val delta = Seq(
      (6L, "en", "bcde", 1), (4L, "fr", "xyzw", -1),
      (8L, "en", "qqqq", 1), (8L, "en", "qqqq", -1)
    ).toDF("doc_id", "lang", "text", "__op")
    val maintained = NaiveBayes.maintainGramCounts(state, delta,
        "text", "lang", "__op")
      .orderBy("lang", "g").as[(String, String, Long)].collect().toSeq
    val post = Seq((0L, "en", "abcd"), (2L, "en", "abab"),
      (6L, "en", "bcde")).toDF("doc_id", "lang", "text")
    val want = NaiveBayes.trainGramCounts(post, "text", "lang")
      .orderBy("lang", "g").as[(String, String, Long)].collect().toSeq
    assert(maintained === want)
    assert(!maintained.exists(_._1 == "fr")) // retracted to zero -> gone
    assert(!maintained.exists(_._2.contains("q"))) // add+retract cancels
  }

  test("refresh loop: classify against the maintained-counts model == " +
      "classify against a model trained from scratch on the " +
      "post-delta corpus") {
    val base = train.toDF("doc_id", "lang", "text")
    val adds = Seq((10L, "de", "die katze schlaeft auf dem teppich"),
      (12L, "en", "the dog and the cat sleep"))
    val delta = adds.map { case (id, l, t) => (id, l, t, 1) }
      .++(Seq((8L, "de",
        "der hund und die katze schlafen auf dem teppich", -1)))
      .toDF("doc_id", "lang", "text", "__op")
    val post = (train.filterNot(_._1 == 8L) ++ adds)
      .toDF("doc_id", "lang", "text")
    val probe = Seq((1L, "de", "die katze und der teppich"),
      (3L, "en", "the cat and the dog"),
      (5L, "fr", "le chat et le chien")).toDF("doc_id", "lang", "text")
    val refreshed = NaiveBayes.nbcModelFromCounts(
      NaiveBayes.maintainGramCounts(
        NaiveBayes.trainGramCounts(base, "text", "lang"),
        delta, "text", "lang", "__op"),
      NaiveBayes.maintainClassDocCounts(
        base.groupBy(col("lang")).agg(count(lit(1)).as("n_docs")),
        delta, "lang", "__op"))
    val scratch = NaiveBayes.nbcTrain(post, "text", "lang")
    val a = NaiveBayes.nbcScore(probe, "text", "doc_id", "lang",
        refreshed)
      .orderBy("doc_id").as[(Long, String, String, Long)].collect().toSeq
    val b = NaiveBayes.nbcScore(probe, "text", "doc_id", "lang", scratch)
      .orderBy("doc_id").as[(Long, String, String, Long)].collect().toSeq
    assert(a.nonEmpty && a === b)
  }

  test("argmax tie-break is (score DESC, lang ASC): symmetric classes " +
      "tie and the lexicographically smaller wins") {
    // two classes with mirrored counts and equal priors; a batch doc
    // containing none of either class's grams scores prior + T*floor
    // on both sides with IDENTICAL totals -> tie -> 'aa' wins
    val tr = Seq((0L, "aa", "xxxxx"), (2L, "bb", "yyyyy"))
    val got = run(tr, Seq((1L, "aa", "zzzzz")))
    assert(got.head._3 === "aa")
  }
}
