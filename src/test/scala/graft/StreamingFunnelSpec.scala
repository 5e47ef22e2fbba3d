package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis
import graft.pipeline.SpecLoader
import graft.streaming.{LineOcc, StatefulLineDedup, StreamingFunnel}

/** The streaming funnel must account survivors per declared stage the
  * same way the batch `curation_funnel` does: observe counters at every
  * stage boundary, summed over micro-batches. Stateless declared stages
  * (driven by the SAME JSON as the batch chain) must match the batch
  * funnel under ANY slicing; the stateful line-dedup twin matches the
  * batch stage in the one-batch case (its parity contract) and the
  * prefix semantics across slices. */
class StreamingFunnelSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val width = 4
  private val maxDf = 1
  private val chainJson =
    """{"name": "stream_curation", "steps": [
      |  {"op": "normalize", "col": "text"},
      |  {"op": "quality_filter", "text": "text", "min_score": 300}
      |]}""".stripMargin

  // 9 docs: 3 junk (fail the quality gate), 6 real of which several
  // share a boilerplate first line (falls to the df cap); ids unique,
  // one doc arrives exactly once (the twin's stream contract)
  private val docsAll: Seq[(Long, String)] = Seq(
    (1L, "the cat and the dog are in the house with a mouse today"),
    (2L, "the cat and the dog are in the house near a river bank"),
    (3L, "!!! ??? !!! ??? !!!"),
    (4L, "a bird in the hand is worth two in the bush they say"),
    (5L, "#### $$$$ %%%% @@@@"),
    (6L, "the cat and the dog are in the garden with a ball now"),
    (7L, "we walked to the market and bought some fresh bread there"),
    (8L, "???? !!!! ???? !!!!"),
    (9L, "it was the best of times it was the worst of times")
  )

  /** Stream `slices` of (doc_id, text) one micro-batch each through the
    * observed chain; return the funnel. */
  private def runFunnel(name: String,
      slices: Seq[Seq[(Long, String)]]): Seq[(Int, String, Long)] = {
    val root = Files.createTempDirectory(s"graft-$name").toString
    val inDir = s"$root/in"; Files.createDirectories(Paths.get(inDir))
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING").json(inDir)
    val stages = SpecLoader.stagesFromJson(chainJson) ++ Seq(
      ("line_occurrences", (d: DataFrame) =>
        TextAnalysis.fixedWidthLines(d, "text", "doc_id", width)),
      ("line_dedup", (d: DataFrame) =>
        StatefulLineDedup.verdicts(
          d.select(col("line"), col("id"), col("pos")).as[LineOcc],
          maxDf).filter(col("kept") === 1L).toDF()))
    val observed = StreamingFunnel.observed(stream, stages)
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, rocks)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val q = observed.writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .format("memory").queryName(name).start()
    try {
      slices.zipWithIndex.foreach { case (slice, i) =>
        val json = slice.toDF("doc_id", "text").toJSON.collect()
          .mkString("\n")
        Files.writeString(Paths.get(s"$inDir/b$i.json"), json)
        q.processAllAvailable()
      }
      StreamingFunnel.funnel(q.recentProgress.toSeq)
    } finally {
      q.stop()
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  /** Batch truth: the same declared stages via funnelFromJson, then the
    * line explode and the batch line-df gate. */
  private def batchFunnel(docs: Seq[(Long, String)])
      : Seq[(Int, String, Long)] = {
    val df = docs.toDF("doc_id", "text")
    val (curated, stages) = SpecLoader.funnelFromJson(chainJson, df)
    val lines = TextAnalysis.fixedWidthLines(curated, "text", "doc_id",
      width).localCheckpoint()
    val nLines = lines.count()
    val kept = lines.join(
      lines.groupBy("line").agg(countDistinct(col("id")).as("df"))
        .filter(col("df") <= maxDf).select("line"), Seq("line"))
      .count()
    Seq((0, "input", stages.head._3)) ++
      stages.map { case (i, op, _, out) => (i, op, out) } ++
      Seq((stages.size + 1, "line_occurrences", nLines),
        (stages.size + 2, "line_dedup", kept))
  }

  test("one-batch streaming funnel equals the batch funnel stage by " +
      "stage (and the gates actually eat rows)") {
    val want = batchFunnel(docsAll)
    val got = runFunnel("funnel_one", Seq(docsAll))
    assert(got === want)
    val byOp = want.map(t => t._2 -> t._3).toMap
    assert(byOp("quality_filter") < byOp("input"),
      "fixture must exercise the quality gate")
    assert(byOp("line_dedup") < byOp("line_occurrences"),
      "fixture must exercise the line-df cap")
  }

  test("sliced stream: stateless stage counts sum to the batch funnel; " +
      "the stateful stage follows prefix semantics") {
    val slices = Seq(docsAll.take(3), docsAll.slice(3, 6), docsAll.drop(6))
    val got = runFunnel("funnel_sliced", slices).map(t => t._2 -> t._3)
      .toMap
    val want = batchFunnel(docsAll).map(t => t._2 -> t._3).toMap
    // stateless boundaries are slicing-invariant
    assert(got("input") === want("input"))
    assert(got("normalize") === want("normalize"))
    assert(got("quality_filter") === want("quality_filter"))
    assert(got("line_occurrences") === want("line_occurrences"))
    // prefix semantics: an occurrence is kept iff its line's doc
    // frequency THROUGH ITS OWN batch is within the cap — replay it
    val curatedIds = docsAll.toDF("doc_id", "text")
      .transform(d => SpecLoader.funnelFromJson(chainJson, d)._1)
      .select("doc_id").as[Long].collect().toSet
    val occs = slices.zipWithIndex.flatMap { case (s, b) =>
      val df = s.filter(d => curatedIds(d._1)).toDF("doc_id", "text")
      TextAnalysis.fixedWidthLines(
          df.withColumn("text", TextAnalysis.normalizeText(col("text"))),
          "text", "doc_id", width)
        .select(col("line"), col("id")).as[(String, Long)].collect()
        .map { case (l, id) => (l, id, b) }
    }
    val lineDocs = occs.groupBy(_._1)
    val expectKept = occs.count { case (l, _, b) =>
      lineDocs(l).filter(_._3 <= b).map(_._2).distinct.size <= maxDf
    }
    assert(got("line_dedup") === expectKept.toLong)
    // and prefix-kept can only exceed the batch-global count
    assert(got("line_dedup") >= want("line_dedup"))
  }

  // ------------------------------------------------------------------
  // Full MIXED chain: normalize → doc-level line_dedup twin → frozen-LM
  // gate → frozen-rate mixture — the 100 TB operational story for the
  // declared pipeline: every stage boundary observable per micro-batch,
  // stateful/model stages substituted by their streaming twins, counts
  // equal to the batch funnel on the same corpus.
  // ------------------------------------------------------------------

  private val mixDocs: Seq[(Long, String, String)] = {
    val boiler = "breaking news update follows"
    Seq(
      // en docs sharing a boilerplate first line (df cap 1 eats it)
      (1L, s"$boiler the cat sat on the mat and slept all day long", "en"),
      (2L, s"$boiler the cat sat on the mat and then ran away fast", "en"),
      (3L, "the cat sat on the mat and the dog sat too", "en"),
      (4L, "a dog ran over the hill and far away it went", "en"),
      // junk: fully out-of-model text → frozen gate drops it
      (5L, "zzq wwq vvq uuq ttq ssq rrq qqq ppq ooq nnq mmq", "en"),
      // doc that is NOTHING BUT boilerplate → line_dedup drops it whole
      (6L, s"$boiler $boiler", "en"),
      (7L, "the cat sat on the mat every single day we think", "de"),
      (8L, "a dog ran over the hill and then came back home", "de"),
      // fr is absent from the mixture whitelist → dropped at the end
      (9L, "the cat sat on the mat and the dog sat too", "fr"),
      (10L, "zzq wwq vvq uuq ttq ssq rrq qqq", "fr"))
  }

  // the frozen gate's floor: OOV-only docs score round(-18420681/1000)
  // = -18421; in-model fixture docs score far above −10000
  private val mixFloor = -10000L
  private val mixWidth = 4
  private val mixRates = Map("en" -> 700000L, "de" -> 1000000L)

  private def mixChainJson(regDir: String): String = {
    val rates = mixRates.map { case (k, v) => s""""$k": $v""" }
      .mkString(", ")
    s"""{"name": "mixed_chain", "steps": [
       |  {"op": "normalize", "col": "text"},
       |  {"op": "line_dedup", "text": "text", "id": "doc_id",
       |   "width": $mixWidth, "max_doc_freq": 1},
       |  {"op": "lm_apply", "text": "text", "id": "doc_id",
       |   "model_dir": "$regDir", "min_lp_permille": $mixFloor},
       |  {"op": "mixture_resample", "id": "doc_id", "strata": "lang",
       |   "rate_ppm": { $rates }} ] }""".stripMargin
  }

  test("mixed streaming chain (normalize → line_dedup twin → frozen " +
      "lm gate → frozen-rate mixture) equals the batch funnel stage " +
      "by stage, and every gate eats rows") {
    // train + freeze the gate model on a separate high-quality corpus
    val train = Seq(
      (0L, "the cat sat on the mat and slept all day long"),
      (2L, "the cat sat on the mat and the dog sat too"),
      (4L, "a dog ran over the hill and far away it went"),
      (6L, "the cat sat on the mat every single day we think"),
      (8L, "a dog ran over the hill and then came back home"),
      (10L, "breaking news update follows the cat and the dog today")
    ).toDF("doc_id", "text")
    val regDir = Files.createTempDirectory("graft-mixlm").toString
    val reg = new graft.state.ModelRegistry(spark, regDir)
    TextAnalysis.kn3PublishModel(train, "text", "doc_id", reg, "lm")
    val chainJson = mixChainJson(regDir)

    // batch truth: the DECLARED chain through funnelFromJson
    val docsDf = mixDocs.toDF("doc_id", "text", "lang")
    val (_, batchStages) = SpecLoader.funnelFromJson(chainJson, docsDf)
    val want = Seq((0, "input", batchStages.head._3)) ++
      batchStages.map { case (i, op, _, out) => (i, op, out) }

    // streaming: same declared JSON drives the stateless stage; the
    // stateful/model stages are substituted by their twins
    val frozen = TextAnalysis.kn3Freeze(
      TextAnalysis.kn3FromRegistry(reg.snapshot("lm")))
    val parsed = SpecLoader.stagesFromJson(chainJson)
    assert(parsed.map(_._1) ===
      Seq("normalize", "line_dedup", "lm_apply", "mixture_resample"))
    val stages = Seq(
      parsed.head,
      ("line_dedup", (d: DataFrame) => graft.streaming
        .StatefulDocLineDedup.stage(d, "text", "doc_id", mixWidth, 1)),
      ("lm_apply", (d: DataFrame) => graft.streaming.StreamingLmGate
        .gate(d, "text", frozen, mixFloor)),
      ("mixture_resample", (d: DataFrame) => TextAnalysis
        .mixtureApplyRatesPpm(d, col("lang"), col("doc_id"), mixRates)))

    val root = Files.createTempDirectory("graft-mixchain").toString
    val inDir = s"$root/in"; Files.createDirectories(Paths.get(inDir))
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING").json(inDir)
    val observed = StreamingFunnel.observed(stream, stages)
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, rocks)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val q = observed.writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .format("memory").queryName("mixed_chain").start()
    val got = try {
      val json = mixDocs.toDF("doc_id", "text", "lang").toJSON
        .collect().mkString("\n")
      Files.writeString(Paths.get(s"$inDir/b0.json"), json)
      q.processAllAvailable()
      StreamingFunnel.funnel(q.recentProgress.toSeq)
    } finally {
      q.stop()
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
    assert(got === want)
    // the fixture must exercise EVERY stage: each boundary eats rows
    val byOp = want.map(t => t._2 -> t._3).toMap
    assert(byOp("line_dedup") < byOp("normalize"),
      "line_dedup must drop the all-boilerplate doc")
    assert(byOp("lm_apply") < byOp("line_dedup"),
      "the frozen gate must drop the OOV junk docs")
    assert(byOp("mixture_resample") < byOp("lm_apply"),
      "the mixture whitelist must drop fr and sample en")
    // and the surviving rows themselves match the batch chain
    val streamed = spark.table("mixed_chain")
      .select("doc_id", "text", "lang")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    val batchRows = SpecLoader.funnelFromJson(chainJson, docsDf)._1
      .select("doc_id", "text", "lang")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(streamed === batchRows)
  }

  // ------------------------------------------------------------------
  // The CCNet front door added: lang_gate (frozen trained classifier)
  // BEFORE the LM gate — the full production shape (Wenzek et al. 2020
  // routes every crawl doc through a pretrained lang-id model first).
  // Both frozen artifacts ride ONE ModelRegistry; every stage boundary
  // stays observable and batch≡stream.
  // ------------------------------------------------------------------

  test("five-stage chain with the classifier front door: normalize → " +
      "lang_gate → line_dedup twin → frozen lm gate → mixture; every " +
      "stage eats rows, streaming equals batch stage by stage") {
    import graft.operators.NaiveBayes
    // gate-model training corpora: en/de real text; 'fr' is the junk
    // alphabet, so zzq-style noise docs PREDICT fr and die at the door
    val nbcTrainDocs = Seq(
      (100L, "en", "the cat sat on the mat and slept all day long"),
      (102L, "en", "a dog ran over the hill and far away it went"),
      (104L, "en", "we walked to the market and bought fresh bread"),
      (106L, "de", "der hund und die katze schlafen auf dem teppich"),
      (108L, "de", "die katze sitzt auf der matte und schlaeft jetzt"),
      (110L, "fr", "zzq wwq vvq uuq ttq ssq rrq qqq ppq ooq"),
      (112L, "fr", "qqz wwz vvz uuz ttz ssz rrz zzz ppz ooz")
    ).toDF("doc_id", "lang", "text")
    val lmTrain = Seq(
      (0L, "the cat sat on the mat and then the cat slept"),
      (2L, "the cat sat on the mat and the dog sat too"),
      (4L, "a dog ran over the hill and far away it went"),
      (6L, "the cat sat on the mat again and again and again"),
      (8L, "der hund und die katze schlafen auf dem teppich hier")
    ).toDF("doc_id", "text")
    val regDir = Files.createTempDirectory("graft-ccnet").toString
    val reg = new graft.state.ModelRegistry(spark, regDir)
    NaiveBayes.nbcPublishModel(nbcTrainDocs, "text", "lang", reg, "nbc")
    TextAnalysis.kn3PublishModel(lmTrain, "text", "doc_id", reg, "lm")

    // corpus: doc 11 is english-charactered but OOV to the LM (only the
    // lm gate can drop it); docs 5/10 are junk-alphabet (the classifier
    // drops them); doc 6 is all boilerplate (line_dedup drops it);
    // doc 9 is fr-LABELED (the mixture whitelist drops it at the end)
    val docs = (mixDocs ++ Seq(
      (11L, "purple monkey dishwasher quantum banana helicopter", "en")))
      .toDF("doc_id", "text", "lang")
    val rates = mixRates.map { case (k, v) => s""""$k": $v""" }
      .mkString(", ")
    val chainJson =
      s"""{"name": "ccnet_chain", "steps": [
         |  {"op": "normalize", "col": "text"},
         |  {"op": "lang_gate", "text": "text", "id": "doc_id",
         |   "model_dir": "$regDir", "model": "nbc",
         |   "keep": ["de", "en"]},
         |  {"op": "line_dedup", "text": "text", "id": "doc_id",
         |   "width": $mixWidth, "max_doc_freq": 1},
         |  {"op": "lm_apply", "text": "text", "id": "doc_id",
         |   "model_dir": "$regDir", "min_lp_permille": $mixFloor},
         |  {"op": "mixture_resample", "id": "doc_id", "strata": "lang",
         |   "rate_ppm": { $rates }} ] }""".stripMargin

    // batch truth through the declared chain
    val (survivors, batchStages) = SpecLoader.funnelFromJson(chainJson,
      docs)
    val want = Seq((0, "input", batchStages.head._3)) ++
      batchStages.map { case (i, op, _, out) => (i, op, out) }

    // streaming: same JSON for the stateless stage, twins for the rest
    val frozenNbc = NaiveBayes.nbcFreeze(
      NaiveBayes.nbcFromRegistry(reg.snapshot("nbc")))
    val frozenLm = TextAnalysis.kn3Freeze(
      TextAnalysis.kn3FromRegistry(reg.snapshot("lm")))
    val parsed = SpecLoader.stagesFromJson(chainJson)
    assert(parsed.map(_._1) === Seq("normalize", "lang_gate",
      "line_dedup", "lm_apply", "mixture_resample"))
    val stages = Seq(
      parsed.head,
      ("lang_gate", (d: DataFrame) => graft.streaming
        .StreamingClassifierGate.gate(d, "text", frozenNbc,
          Set("de", "en"))),
      ("line_dedup", (d: DataFrame) => graft.streaming
        .StatefulDocLineDedup.stage(d, "text", "doc_id", mixWidth, 1)),
      ("lm_apply", (d: DataFrame) => graft.streaming.StreamingLmGate
        .gate(d, "text", frozenLm, mixFloor)),
      ("mixture_resample", (d: DataFrame) => TextAnalysis
        .mixtureApplyRatesPpm(d, col("lang"), col("doc_id"), mixRates)))

    val root = Files.createTempDirectory("graft-ccnetchain").toString
    val inDir = s"$root/in"; Files.createDirectories(Paths.get(inDir))
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING").json(inDir)
    val observed = StreamingFunnel.observed(stream, stages)
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, rocks)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val q = observed.writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .format("memory").queryName("ccnet_chain").start()
    val got = try {
      Files.writeString(Paths.get(s"$inDir/b0.json"),
        docs.toJSON.collect().mkString("\n"))
      q.processAllAvailable()
      StreamingFunnel.funnel(q.recentProgress.toSeq)
    } finally {
      q.stop()
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
    assert(got === want)
    // every stage boundary eats rows — the fixture exercises each gate
    val byOp = want.map(t => t._2 -> t._3).toMap
    assert(byOp("lang_gate") < byOp("normalize"),
      "the classifier front door must drop the junk-alphabet docs")
    assert(byOp("line_dedup") < byOp("lang_gate"),
      "line_dedup must drop the all-boilerplate doc")
    assert(byOp("lm_apply") < byOp("line_dedup"),
      "the frozen LM gate must drop the english-charactered OOV doc")
    assert(byOp("mixture_resample") < byOp("lm_apply"),
      "the mixture whitelist must drop fr and sample en")
    // the two drop mechanisms hit DIFFERENT docs: junk (5, 10) dies at
    // the classifier, the OOV-but-english doc 11 only at the LM gate
    val kept = survivors.select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(5L) && !kept.contains(10L) &&
      !kept.contains(11L) && !kept.contains(6L) && !kept.contains(9L))
    val streamed = spark.table("ccnet_chain")
      .select("doc_id", "text", "lang")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(streamed === survivors.select("doc_id", "text", "lang")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq)
  }

  // ------------------------------------------------------------------
  // THREE-WAY parity for the full CCNet front door WITH the quality
  // cut: ONE declared JSON (normalize → lang_gate → margin_gate →
  // lm_apply → line_dedup → mixture_resample) must produce, stage by
  // stage, the same funnel counts and the same survivors as (a) the
  // operators composed BY HAND and (b) the streaming twins — proving
  // the declared spec is pure surface: it adds no semantics of its own.
  // ------------------------------------------------------------------

  test("declared CCNet chain with margin_gate: declared == hand-composed " +
      "batch == streaming, stage by stage") {
    import graft.operators.NaiveBayes
    val boiler = "breaking news update follows"
    // three artifacts in one registry: lang-id (nbc), quality (qual), LM
    val nbcTrainDocs = Seq(
      (100L, "en", "the cat sat on the mat and slept all day long"),
      (101L, "en", "we walked to the market and bought fresh bread every " +
        "morning"),
      (102L, "en", "buy now click here free offer limited deal"),
      (103L, "en", s"$boiler the cat and the dog today"),
      (104L, "de", "der hund und die katze schlafen auf dem teppich"),
      (106L, "de", "die katze sitzt auf der matte und schlaeft jetzt"),
      (108L, "fr", "zzq wwq vvq uuq ttq ssq rrq qqq ppq ooq"),
      (110L, "fr", "qqz wwz vvz uuz ttz ssz rrz zzz ppz ooz")
    ).toDF("doc_id", "lang", "text")
    val qualTrainDocs = Seq(
      (200L, "hq", "the cat sat on the mat and slept all day long"),
      (202L, "hq", "a dog ran over the hill and far away it went"),
      (204L, "hq", s"$boiler the cat and the dog today"),
      (205L, "hq", "we walked to the market and bought fresh bread every " +
        "morning"),
      (206L, "hq", "der hund und die katze schlafen auf dem teppich"),
      (208L, "lq", "buy now click here free offer limited deal"),
      (210L, "lq", "free offer click now buy deal limited wins today")
    ).toDF("doc_id", "lang", "text")
    val lmTrain = Seq(
      (0L, "the cat sat on the mat and then the cat slept"),
      (2L, "the cat sat on the mat and the dog sat too"),
      (4L, "the cat sat on the mat and slept all day long"),
      (6L, "a dog ran over the hill and far away it went"),
      (8L, "der hund und die katze schlafen auf dem teppich hier"),
      (10L, s"$boiler the cat and the dog today")
    ).toDF("doc_id", "text")
    val regDir = Files.createTempDirectory("graft-3way").toString
    val reg = new graft.state.ModelRegistry(spark, regDir)
    NaiveBayes.nbcPublishModel(nbcTrainDocs, "text", "lang", reg, "nbc")
    NaiveBayes.nbcPublishModel(qualTrainDocs, "text", "lang", reg, "qual")
    TextAnalysis.kn3PublishModel(lmTrain, "text", "doc_id", reg, "lm")

    // corpus: one kill per gate, in gate order
    val docs = Seq(
      (1L, s"$boiler the cat sat on the mat and slept all day long", "en"),
      (2L, "the cat sat on the mat and the dog sat too", "en"),
      (3L, "zzq wwq vvq uuq ttq ssq rrq qqq ppq ooq nnq mmq", "en"),
      (4L, "a dog ran over the hill and far away it went", "de"),
      (5L, "buy now click here free offer limited deal", "en"),
      (6L, s"$boiler $boiler", "en"),
      (7L, "der hund und die katze schlafen auf dem teppich hier", "de"),
      (8L, "the cat sat on the mat and then the cat slept", "fr"),
      (9L, "we walked to the market and bought fresh bread this morning",
        "en")
    ).toDF("doc_id", "text", "lang")
    val rates = mixRates.map { case (k, v) => s""""$k": $v""" }
      .mkString(", ")
    val chainJson =
      s"""{"name": "ccnet_margin_chain", "steps": [
         |  {"op": "normalize", "col": "text"},
         |  {"op": "lang_gate", "text": "text", "id": "doc_id",
         |   "model_dir": "$regDir", "model": "nbc",
         |   "keep": ["de", "en"]},
         |  {"op": "margin_gate", "text": "text", "id": "doc_id",
         |   "model_dir": "$regDir", "model": "qual",
         |   "keep_class": "hq", "min_margin_micros": 0},
         |  {"op": "lm_apply", "text": "text", "id": "doc_id",
         |   "model_dir": "$regDir", "min_lp_permille": $mixFloor},
         |  {"op": "line_dedup", "text": "text", "id": "doc_id",
         |   "width": $mixWidth, "max_doc_freq": 1},
         |  {"op": "mixture_resample", "id": "doc_id", "strata": "lang",
         |   "rate_ppm": { $rates }} ] }""".stripMargin

    // WAY 1: the declared chain
    val (declaredOut, declaredStages) = SpecLoader.funnelFromJson(
      chainJson, docs)
    val declared = Seq((0, "input", declaredStages.head._3)) ++
      declaredStages.map { case (i, op, _, out) => (i, op, out) }

    // WAY 2: the operators composed by hand — no SpecLoader anywhere
    val mNbc = NaiveBayes.nbcFromRegistry(reg.snapshot("nbc"))
    val mQual = NaiveBayes.nbcFromRegistry(reg.snapshot("qual"))
    val mLm = TextAnalysis.kn3FromRegistry(reg.snapshot("lm"))
    val h0 = docs.withColumn("text",
      TextAnalysis.normalizeText(col("text")))
    val h1 = NaiveBayes.nbcGate(h0, "text", "doc_id", mNbc,
      Seq("de", "en"))
    val h2 = NaiveBayes.nbcMarginGate(h1, "text", "doc_id", mQual,
      "hq", 0L)
    val h3 = h2.join(
      TextAnalysis.kn3Score(h2, "text", "doc_id", mLm)
        .filter(col("lp_permille") >= mixFloor).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val ld = TextAnalysis.lineDedup(h3, "text", "doc_id", mixWidth, 1)
    val h4 = h3.drop("text").join(
      ld.filter(col("n_kept") > 0)
        .select(col("id").as("doc_id"), col("kept_text").as("text")),
      Seq("doc_id"))
    val h5 = TextAnalysis.mixtureApplyRatesPpm(h4, col("lang"),
      col("doc_id"), mixRates)
    val hand = Seq(
      (0, "input", docs.count()), (1, "normalize", h0.count()),
      (2, "lang_gate", h1.count()), (3, "margin_gate", h2.count()),
      (4, "lm_apply", h3.count()), (5, "line_dedup", h4.count()),
      (6, "mixture_resample", h5.count()))
    assert(declared === hand, "declared chain must equal the " +
      "hand-composed operators stage by stage")
    assert(declaredOut.select("doc_id").as[Long].collect().sorted.toSeq
      === h5.select("doc_id").as[Long].collect().sorted.toSeq)

    // WAY 3: the streaming twins over the same declared JSON
    val frozenNbc = NaiveBayes.nbcFreeze(mNbc)
    val frozenQual = NaiveBayes.nbcFreeze(mQual)
    val frozenLm = TextAnalysis.kn3Freeze(mLm)
    val parsed = SpecLoader.stagesFromJson(chainJson)
    assert(parsed.map(_._1) === Seq("normalize", "lang_gate",
      "margin_gate", "lm_apply", "line_dedup", "mixture_resample"))
    val stages = Seq(
      parsed.head,
      ("lang_gate", (d: DataFrame) => graft.streaming
        .StreamingClassifierGate.gate(d, "text", frozenNbc,
          Set("de", "en"))),
      ("margin_gate", (d: DataFrame) => graft.streaming
        .StreamingClassifierGate.marginGate(d, "text", frozenQual,
          "hq", 0L)),
      ("lm_apply", (d: DataFrame) => graft.streaming.StreamingLmGate
        .gate(d, "text", frozenLm, mixFloor)),
      ("line_dedup", (d: DataFrame) => graft.streaming
        .StatefulDocLineDedup.stage(d, "text", "doc_id", mixWidth, 1)),
      ("mixture_resample", (d: DataFrame) => TextAnalysis
        .mixtureApplyRatesPpm(d, col("lang"), col("doc_id"), mixRates)))
    val root = Files.createTempDirectory("graft-3waychain").toString
    val inDir = s"$root/in"; Files.createDirectories(Paths.get(inDir))
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING").json(inDir)
    val observed = StreamingFunnel.observed(stream, stages)
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, rocks)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val q = observed.writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .format("memory").queryName("ccnet_margin_chain").start()
    val got = try {
      Files.writeString(Paths.get(s"$inDir/b0.json"),
        docs.toJSON.collect().mkString("\n"))
      q.processAllAvailable()
      StreamingFunnel.funnel(q.recentProgress.toSeq)
    } finally {
      q.stop()
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
    assert(got === declared, "streaming twins must equal the declared " +
      "chain stage by stage")
    val streamed = spark.table("ccnet_margin_chain")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(streamed === declaredOut.select("doc_id").as[Long].collect()
      .sorted.toSeq)

    // the fixture exercises EVERY gate with a distinct kill
    val byOp = declared.map(t => t._2 -> t._3).toMap
    assert(byOp("lang_gate") < byOp("normalize"))       // doc 3 (junk)
    assert(byOp("margin_gate") < byOp("lang_gate"))     // doc 5 (spam)
    assert(byOp("lm_apply") < byOp("margin_gate"))      // doc 9 (OOV)
    assert(byOp("line_dedup") < byOp("lm_apply"))       // doc 6 (boiler)
    assert(byOp("mixture_resample") < byOp("line_dedup")) // doc 8 (fr)
    val kept = declaredOut.select("doc_id").as[Long].collect().toSet
    assert(Seq(3L, 5L, 6L, 8L, 9L).forall(!kept.contains(_)))
  }

  test("BOUNDED STATE on a duplicate-heavy stream: line-dedup state " +
      "rows saturate at the DISTINCT line count and stop growing, " +
      "however many more duplicate batches arrive (the StreamLab " +
      "receipt's spec twin)") {
    // 10 batches × 60 docs, every doc built from a FIXED pool of 20
    // four-word boilerplate variants → ≤ 20 distinct width-4 lines
    // ever enter the state store, while input lines grow by 60/batch
    val pool = (0 until 20).map(i =>
      s"alpha bravo charlie v$i")
    def slice(b: Int): Seq[(Long, String)] =
      (0 until 60).map(j => ((b * 60 + j).toLong, pool((b + j) % 20)))
    val root = Files.createTempDirectory("graft-boundstate").toString
    val inDir = s"$root/in"; Files.createDirectories(Paths.get(inDir))
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING").json(inDir)
    val stages = Seq(
      ("line_occurrences", (d: DataFrame) =>
        TextAnalysis.fixedWidthLines(d, "text", "doc_id", width)),
      ("line_dedup", (d: DataFrame) =>
        StatefulLineDedup.verdicts(
          d.select(col("line"), col("id"), col("pos")).as[LineOcc],
          maxDf).filter(col("kept") === 1L).toDF()))
    val observed = StreamingFunnel.observed(stream, stages)
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, rocks)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val q = observed.writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .format("memory").queryName("boundstate").start()
    val stateRows = new scala.collection.mutable.ArrayBuffer[Long]()
    try {
      (0 until 10).foreach { b =>
        val json = slice(b).toDF("doc_id", "text").toJSON.collect()
          .mkString("\n")
        Files.writeString(Paths.get(s"$inDir/b$b.json"), json)
        q.processAllAvailable()
        val p = q.lastProgress
        stateRows += (if (p == null || p.stateOperators.isEmpty) -1L
          else p.stateOperators.map(_.numRowsTotal).sum)
      }
    } finally {
      q.stop()
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
    // every distinct line is seen in batch 0 (60 docs over 20 variants):
    // state saturates immediately and NEVER grows — 600 input docs,
    // 20 state keys
    assert(stateRows.head === 20L,
      s"state after batch 0: ${stateRows.head} (expected the 20 " +
        "distinct lines)")
    assert(stateRows.toSeq === Seq.fill(10)(20L),
      s"state must stay flat on duplicate input: $stateRows")
  }
}
