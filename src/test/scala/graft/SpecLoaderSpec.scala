package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{CreateNode, CreateRelation, HcpIntegration, SpecLoader}

/** The declarative JSON spec (src/test/resources/hcp_packer_spec.json —
  * the 9 reference templates transcribed as data) must load into
  * FunctionSpecs whose output is EXACTLY the compiled
  * [[HcpIntegration.spec]]'s: same function names/kinds in the same
  * dependency order, byte-identical schemas, identical rows. */
class SpecLoaderSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def loaded = SpecLoader.fromJsonFile(
    getClass.getResource("/hcp_packer_spec.json").getPath,
    s => HcpFixture.doc(s))

  private def compiled = HcpIntegration.spec("hcp", s => HcpFixture.doc(s))

  test("9 functions load with the compiled catalog's names, kinds, order") {
    val l = loaded
    val c = compiled
    assert(l.functions.map(_.name) === c.functions.map(_.name))
    assert(l.functions.map(_.kind) === c.functions.map(_.kind))
    // sanity on the kind payloads themselves
    assert(l.functions.head.kind === CreateNode("bucket"))
    assert(l.functions.last.kind ===
      CreateRelation("creates", "version", "packer_build"))
  }

  test("every loaded transform matches its compiled twin exactly") {
    val doc = HcpFixture.doc(spark)
    loaded.functions.zip(compiled.functions).foreach { case (l, c) =>
      val got = l.transform(doc)
      val want = c.transform(doc)
      assert(got.schema === want.schema,
        s"${l.name}: schema drifted\n got ${got.schema}\nwant ${want.schema}")
      val gotRows = got.collect().map(_.toSeq).toSeq
      val wantRows = want.collect().map(_.toSeq).toSeq
      assert(gotRows.sortBy(_.mkString("|")) ===
        wantRows.sortBy(_.mkString("|")), s"${l.name}: rows drifted")
    }
  }

  test("loader fails loudly on malformed specs") {
    intercept[Exception] {
      SpecLoader.fromJson("""{"name":"x","functions":[
        {"name":"f","kind":"node","label":"l",
         "steps":[{"op":"nope"}]}]}""", s => HcpFixture.doc(s))
    }
    intercept[Exception] {
      SpecLoader.fromJson("""{"name":"x","functions":[
        {"name":"f","kind":"mystery","steps":[]}]}""",
        s => HcpFixture.doc(s))
    }
    intercept[Exception] { // project with non-string field expr
      SpecLoader.fromJson("""{"name":"x","functions":[
        {"name":"f","kind":"node","label":"l",
         "steps":[{"op":"project","fields":{"a":7}}]}]}""",
        s => HcpFixture.doc(s))
    }
  }

  test("golden flow from the data file: counts match the compiled run") {
    val root = java.nio.file.Files.createTempDirectory("graft-dsl").toString
    val store = new graft.state.SnapshotStore(spark, s"$root/state")
    val sink = new graft.sink.GraphSink(spark, s"$root/graph")
    val driver = new graft.pipeline.SyncDriver(spark, store, sink)
    val r1 = driver.run(loaded)
    assert(r1("buckets") === ((2L, 0L)))
    assert(r1("orgs") === ((1L, 0L)))
    assert(r1("packer_build") === ((3L, 0L)))
    assert(sink.readEdges("creates__version__packer_build").count() === 3)
    // idempotent re-run, exactly like the compiled golden flow
    val r2 = driver.run(loaded)
    Seq("buckets", "orgs", "projects", "version", "packer_build")
      .foreach(fn => assert(r2(fn) === ((0L, 0L)), s"fn=$fn not a no-op"))
  }

  test("the empty document flows through every loaded function") {
    val empty = HcpFixture.doc(spark, HcpFixture.emptyJson)
    loaded.functions.foreach { f =>
      assert(f.transform(empty).count() === 0L, f.name)
    }
  }

  test("declarative curation chain equals the hand-composed pipeline") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, TextAnalysis}
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val chain = SpecLoader.transformFromJson(
      """{ "name": "web_curate", "steps": [
        |  { "op": "normalize", "col": "text" },
        |  { "op": "line_dedup", "text": "text", "id": "doc_id",
        |    "width": 8, "max_doc_freq": 1 },
        |  { "op": "quality_filter", "text": "text", "min_score": 300 },
        |  { "op": "exact_dedup", "text": "text", "id": "doc_id" },
        |  { "op": "project",
        |    "fields": { "doc_id": "doc_id", "text": "text",
        |                "source": "source" } } ] }""".stripMargin)
    val got = chain(docs)
    // the same pipeline, composed by hand
    val n = docs.withColumn("text",
      TextAnalysis.normalizeText(col("text")))
    val ld = TextAnalysis.lineDedup(n, "text", "doc_id", 8, 1)
      .filter(col("n_kept") > 0)
    val rebuilt = n.drop("text").join(
      ld.select(col("id").as("doc_id"), col("kept_text").as("text")),
      Seq("doc_id"))
    val qf = rebuilt.filter(
      TextAnalysis.qualityScore(col("text")) >= 300)
    val want = qf.join(Dedup.exactSurvivors(qf, "text", "doc_id"),
        Seq("doc_id"), "left_semi")
      .select("doc_id", "text", "source")
    assert(got.schema === want.schema)
    val g = got.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val w = want.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    assert(g === w)
    // the chain does real work on the fixture: some docs survive, some
    // don't (boilerplate lines + exact dups exist by construction)
    assert(want.count() > 0 && want.count() < docs.count())
  }

  test("declarative gopher_rules + dsir_weight equal the compiled twins") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    // the two stages, composed by hand (relaxed word floor so the tiny
    // fixture keeps rows through the gate); the importance floor is
    // derived from the fixture — the max observed w_avg — so the floor
    // provably bites (weights are not all equal) on any data drift
    val ruled = docs.join(
      TextAnalysis.gopherRules(docs, "text", "doc_id", minWords = 5)
        .filter(col("pass") === 1L).select(col("id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val gated = ruled.join(
      TextAnalysis.gopherRepetition(ruled, "text", "doc_id")
        .filter(col("pass") === 1L).select(col("id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val weighted = gated.join(
        TextAnalysis.dsirWeights(gated, "text", "doc_id",
            expr("source = 'wiki'"), buckets = 256)
          .select(col("id").as("doc_id"), col("w_avg").as("w")),
        Seq("doc_id"), "left")
      .withColumn("w", coalesce(col("w"), lit(0L)))
    val wRow = weighted.agg(min(col("w")), max(col("w"))).head()
    val (minW, maxW) = (wRow.getLong(0), wRow.getLong(1))
    assert(minW < maxW, s"degenerate fixture: all w_avg == $minW")
    val floored = weighted.filter(col("w") >= maxW)
    val want = TextAnalysis.alphaMixture(floored, col("source"),
      col("doc_id"), alpha = 0.3).drop("rate_ppm")
    val chain = SpecLoader.transformFromJson(
      s"""{ "name": "rules_and_weights", "steps": [
         |  { "op": "gopher_rules", "text": "text", "id": "doc_id",
         |    "min_words": 5 },
         |  { "op": "gopher_repetition", "text": "text", "id": "doc_id" },
         |  { "op": "dsir_weight", "text": "text", "id": "doc_id",
         |    "target": "source = 'wiki'", "buckets": 256,
         |    "as": "w", "min_w_avg": $maxW },
         |  { "op": "alpha_mixture", "id": "doc_id",
         |    "strata": "source", "alpha": 0.3 } ] }""".stripMargin)
    val got = chain(docs)
    assert(got.schema === want.schema)
    val g = got.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val w = want.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    assert(g === w)
    // both stages bite on the fixture: the gate drops some docs and the
    // every stage bites on the fixture: the rules gate drops some docs,
    // the repetition gate drops more, the importance floor drops more,
    // but survivors remain
    assert(ruled.count() < docs.count())
    assert(gated.count() < ruled.count())
    assert(floored.count() < gated.count())
    assert(want.count() > 0)
  }

  test("declarative lm_perplexity equals the hand-composed gate") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    // derive a floor that provably bites from the fixture's score
    // distribution: strictly above the min, at most the max
    val lp = TextAnalysis.knLogProb(docs, "text", "doc_id")
    val r = lp.agg(min(col("lp_permille")), max(col("lp_permille"))).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    assert(lo < hi, s"degenerate fixture: all lp_permille == $lo")
    val floor = hi
    val want = TextAnalysis.lmPerplexityGate(docs, "text", "doc_id", floor)
    val chain = SpecLoader.transformFromJson(
      s"""{ "name": "ppl_gate", "steps": [
         |  { "op": "lm_perplexity", "text": "text", "id": "doc_id",
         |    "min_lp_permille": $floor } ] }""".stripMargin)
    val got = chain(docs)
    assert(got.schema === want.schema)
    val g = got.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val w = want.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    assert(g === w)
    // the gate bites and survivors remain
    assert(got.count() < docs.count() && got.count() > 0)
    // default-floor form parses and uses the shared constant
    val dflt = SpecLoader.transformFromJson(
      """{ "name": "ppl_default", "steps": [
        |  { "op": "lm_perplexity", "text": "text", "id": "doc_id" } ] }"""
        .stripMargin)(docs)
    val wantDflt = TextAnalysis.lmPerplexityGate(docs, "text", "doc_id")
    assert(dflt.collect().map(_.getLong(0)).sorted.toSeq ===
      wantDflt.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("funnelFromJson: per-stage survivor counts match the plain chain") {
    import org.apache.spark.sql.functions._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val spec =
      """{ "name": "funnel", "steps": [
        |  { "op": "gopher_rules", "text": "text", "id": "doc_id",
        |    "min_words": 5 },
        |  { "op": "exact_dedup", "text": "text", "id": "doc_id" },
        |  { "op": "mixture_resample", "id": "doc_id", "strata": "lang",
        |    "target_permille": { "en": 700, "de": 300 } } ] }"""
        .stripMargin
    val (out, funnel) = SpecLoader.funnelFromJson(spec, docs)
    val plain = SpecLoader.transformFromJson(spec)(docs)
    assert(out.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")) ===
      plain.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")))
    // funnel shape: 3 stages, rows_in chains to the previous rows_out,
    // starts at the corpus size, ends at the output count, every stage
    // monotone non-increasing (all three are filters) and biting
    assert(funnel.map(f => (f._1, f._2)) ===
      Seq((1, "gopher_rules"), (2, "exact_dedup"), (3, "mixture_resample")))
    assert(funnel.head._3 === docs.count())
    assert(funnel.last._4 === out.count())
    funnel.sliding(2).foreach { case Seq(a, b) => assert(a._4 === b._3) }
    funnel.foreach(f => assert(f._4 <= f._3))
    assert(funnel.map(f => f._3 - f._4).sum > 0)
  }

  test("declarative substring_excise + mixture_resample equal the" +
      " hand-composed twins") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    // hand-composed: excise duplicated spans (k=8), drop fully-covered
    // docs, then resample to an en/de whitelist mixture
    val ex = TextAnalysis.substringExcise(docs, "text", "doc_id", k = 8)
      .filter(col("n_kept") > 0)
    val excised = docs.drop("text").join(
      ex.select(col("id").as("doc_id"), col("kept_text").as("text")),
      Seq("doc_id"))
    val want = TextAnalysis.mixtureResample(excised, col("lang"),
      col("doc_id"), Map("en" -> 700, "de" -> 300))
    val chain = SpecLoader.transformFromJson(
      """{ "name": "excise_mix", "steps": [
        |  { "op": "substring_excise", "text": "text", "id": "doc_id" },
        |  { "op": "mixture_resample", "id": "doc_id", "strata": "lang",
        |    "target_permille": { "en": 700, "de": 300 } } ] }"""
        .stripMargin)
    val got = chain(docs)
    assert(got.schema === want.schema)
    val g = got.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val w = want.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    assert(g === w)
    // both stages bite: excision rewrites at least one doc's text, and
    // the whitelist drops non-en/de strata while keeping survivors
    val changed = excised.join(docs.withColumnRenamed("text", "__orig"),
      Seq("doc_id")).filter(col("text") =!= col("__orig"))
    assert(changed.count() > 0)
    assert(want.count() > 0 && want.count() < excised.count())
    assert(want.filter(!col("lang").isin("en", "de")).count() === 0)
  }

  test("declarative winnow_dedup equals the hand-composed MOSS tier") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, TextAnalysis}
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val fp = TextAnalysis.winnowFingerprints(docs, "text", "doc_id")
      .select(col("id"), col("fp")).distinct().localCheckpoint()
    val rare = fp.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= 20).select(col("fp"))
    val kept = fp.join(rare, Seq("fp"), "left_semi")
    val overlaps = kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("a"), col("b.id").as("b"))
      .agg(count(lit(1)).as("n"))
    // derive a threshold that provably bites: the max observed overlap
    val minShared = overlaps.agg(max(col("n"))).head().getLong(0).toInt
    assert(minShared >= 2, s"degenerate fixture: max overlap $minShared")
    val pairs = overlaps.filter(col("n") >= minShared)
      .select(col("a"), col("b"))
    val pruned = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    val want = docs.join(pruned, Seq("doc_id"), "left_anti")
    val chain = SpecLoader.transformFromJson(
      s"""{ "name": "winnow_tier", "steps": [
         |  { "op": "winnow_dedup", "text": "text", "id": "doc_id",
         |    "max_df": 20, "min_shared": $minShared } ] }""".stripMargin)
    val got = chain(docs)
    assert(got.schema === want.schema)
    assert(got.collect().map(_.getLong(0)).sorted.toSeq ===
      want.collect().map(_.getLong(0)).sorted.toSeq)
    // the tier bites: at least one near-dup doc pruned, survivors remain
    assert(got.count() < docs.count() && got.count() > 0)
  }

  test("declarative near-dup stages equal the hand-composed pipeline") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, Similarity}
    val dir = "/root/testdata/sf0.001"
    val df = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      .join(spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
    val chain = SpecLoader.transformFromJson(
      """{ "name": "near_dup", "steps": [
        |  { "op": "minhash_dedup", "text": "text", "id": "doc_id",
        |    "threshold_permille": 700 },
        |  { "op": "semdedup", "vec": "embedding", "id": "doc_id",
        |    "n_cells": 4, "threshold_permille": 350 } ] }""".stripMargin)
    val got = chain(df)
    // the same two tiers, composed by hand
    val sigs = Dedup.minhashSignature(df, "text", "doc_id")
    val cands = Dedup.minhashLshCandidates(sigs)
    val verified = Dedup.verifyCandidates(df, cands, "text", "doc_id",
      5, 700)
    val prunedM = Dedup.connectedComponents(verified)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    val afterM = df.join(prunedM, Seq("doc_id"), "left_anti")
    val prunedS = Similarity.semDedup(
        afterM.select(col("doc_id").as("id"), col("embedding").as("vec")),
        nCells = 4, thresholdPermille = 350)
      .filter(col("pruned") === 1L).select(col("id").as("doc_id"))
    val want = afterM.join(prunedS, Seq("doc_id"), "left_anti")
    assert(got.schema === want.schema)
    val key = (r: org.apache.spark.sql.Row) => r.getLong(0)
    assert(got.collect().map(key).sorted.toSeq ===
      want.collect().map(key).sorted.toSeq)
    // the MinHash tier prunes the fixture's exact dups
    assert(afterM.count() < df.count() && want.count() > 0)
  }

  test("declared model gates serve the promoted ModelRegistry " +
      "version, equal the same gates composed by hand, and follow " +
      "promotion/rollback across chain rebuilds") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.{NaiveBayes, TextAnalysis}
    val trainA = Seq(
      (100L, "en", "the cat sat on the mat and slept all day long"),
      (101L, "en", "a dog ran over the hill and far away it went"),
      (104L, "de", "der hund und die katze schlafen auf dem teppich"),
      (106L, "de", "die katze sitzt auf der matte und schlaeft jetzt"),
      (108L, "fr", "zzq wwq vvq uuq ttq ssq rrq qqq ppq ooq")
    ).toDF("doc_id", "lang", "text")
    // v2 swaps the class labels (English text now trains 'fr'), so the
    // English doc the v1 gate kept must flip out under v2 — a change
    // the chain can only see if it truly serves the promoted version
    val trainB = Seq(
      (200L, "fr", "the cat sat on the mat and slept all day long"),
      (202L, "fr", "a dog ran over the hill and far away it went"),
      (204L, "de", "der hund und die katze schlafen auf dem teppich"),
      (208L, "en", "zzq wwq vvq uuq ttq ssq rrq qqq ppq ooq")
    ).toDF("doc_id", "lang", "text")
    val lmTrain = trainA.select(col("doc_id"), col("text"))
    val docs = Seq(
      (1L, "the cat sat on the mat and the dog slept"),
      (2L, "der hund und die katze schlafen auf der matte"),
      (3L, "zzq wwq vvq uuq ttq ssq rrq qqq ppq ooq nnq"),
      (4L, "rivers flow down to the open salt sea this day")
    ).toDF("doc_id", "text")

    val regDir = java.nio.file.Files
      .createTempDirectory("graft-regchain").toString
    val reg = new graft.state.ModelRegistry(spark, regDir)
    NaiveBayes.nbcPublishModel(trainA, "text", "lang", reg, "nbc") // v1
    TextAnalysis.kn3PublishModel(lmTrain, "text", "doc_id", reg, "lm")

    // `store` spelled out on one stage and left out on the other: both
    // forms read the registry
    def chain(): Set[Long] =
      SpecLoader.transformFromJson(
        s"""{"name": "regchain", "steps": [
           |  {"op": "lang_gate", "text": "text", "id": "doc_id",
           |   "model_dir": "$regDir", "model": "nbc", "store": "registry",
           |   "keep": ["en", "de"]},
           |  {"op": "lm_apply", "text": "text", "id": "doc_id",
           |   "model_dir": "$regDir", "model": "lm",
           |   "min_lp_permille": -10000} ] }""".stripMargin)(docs)
        .select("doc_id").as[Long].collect().toSet

    // the same two gates composed by hand over the in-session models
    val langKept = NaiveBayes.nbcGate(docs, "text", "doc_id",
      NaiveBayes.nbcTrain(trainA, "text", "lang"), Seq("en", "de"))
    val byHand = langKept.join(
        TextAnalysis.kn3Score(langKept, "text", "doc_id",
            TextAnalysis.kn3Model(lmTrain, "text", "doc_id"))
          .filter(col("lp_permille") >= -10000L).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .select("doc_id").as[Long].collect().toSet
    val viaRegistry = chain()
    assert(viaRegistry === byHand)
    assert(viaRegistry.nonEmpty && viaRegistry.size < docs.count())

    // a refresh PROMOTES v2: the next chain build serves the new model
    NaiveBayes.nbcPublishModel(trainB, "text", "lang", reg, "nbc") // v2
    val viaV2 = chain()
    assert(viaV2 !== viaRegistry,
      "v2 was trained on disjoint text; the gate decisions must move")
    // rollback re-promotes v1 -> the chain serves v1's decisions again
    reg.rollback("nbc")
    assert(chain() === viaRegistry)
  }

  // one spec per model stage, complete but for the model location
  private val modelStages = Seq(
    "lm_apply" -> """"text": "text", "id": "doc_id"""",
    "lang_gate" -> """"text": "text", "id": "doc_id", "keep": ["en"]""",
    "margin_gate" ->
      """"text": "text", "id": "doc_id", "keep_class": "hq"""",
    "ann_gate" ->
      """"id": "doc_id", "vec_dir": "/x", "min_top_permille": 1""")

  test("model stages read ModelRegistry only: any other 'store' fails " +
      "at parse time and names the stage") {
    for ((op, fields) <- modelStages; store <- Seq("snapshot", "s3")) {
      val e = intercept[IllegalArgumentException](
        SpecLoader.transformFromJson(
          s"""{"name": "bad", "steps": [
             |  {"op": "$op", $fields, "model_dir": "/x",
             |   "store": "$store"} ] }""".stripMargin))
      assert(e.getMessage.contains(
        s"$op serves registry-versioned models only"), s"$op/$store")
      assert(e.getMessage.contains(s"unknown model store '$store'"),
        s"$op/$store")
    }
  }

  test("a model stage over a registry root with no published model " +
      "fails with 'model never published'") {
    import spark.implicits._
    val empty = java.nio.file.Files
      .createTempDirectory("graft-noreg").toString
    val docs = Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text")
    for ((op, fields) <- modelStages) {
      val stage = SpecLoader.transformFromJson(
        s"""{"name": "unpublished", "steps": [
           |  {"op": "$op", $fields,
           |   "model_dir": "$empty"} ] }""".stripMargin)
      val e = intercept[IllegalArgumentException](stage(docs))
      assert(e.getMessage.contains("model never published"), op)
    }
  }

  test("declared ann_gate equals the hand-composed stored-IVF retrieval " +
      "gate, keeps no-candidate rows only in max mode, and rejects bad " +
      "tiers / non-registry stores at parse time") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max}
    import graft.operators.Similarity
    // deterministic 8-dim embeddings, ids 0..59: two tight clusters
    // (top-1 cosine ≈ 1000 permille) plus a pseudo-random outlier
    // family at i % 5 == 0 whose nearest indexed neighbors sit at
    // 246–583 permille — so a 900 floor splits 55 keep / 5 drop. The
    // index corpus is ids % 3 != 0 (the ann_apply split), so gated
    // rows include both indexed and held-out ids
    def vec(i: Int): Array[Float] =
      if (i % 5 == 0)
        Array.tabulate(8)(j => (((i * 13 + j * 5) % 7) - 3).toFloat)
      else {
        val base = if (i % 2 == 0) Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)
          else Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f)
        base.zipWithIndex.map { case (v, j) =>
          v + 0.01f * ((i * 7 + j * 3) % 5)
        }
      }
    val emb = (0 until 60).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val vecDir = java.nio.file.Files
      .createTempDirectory("graft-anngate-vec").toString + "/emb.parquet"
    emb.write.parquet(vecDir)
    val regDir = java.nio.file.Files
      .createTempDirectory("graft-anngate-reg").toString
    val reg = new graft.state.ModelRegistry(spark, regDir)
    val corpus = emb.filter(col("vec_id") % 3 =!= 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.ivfPublish(corpus, reg, "ivf", nCells = 4)
    val docs = (0 until 60).map(i => (i.toLong, s"doc $i"))
      .toDF("doc_id", "text")

    def gate(extra: String): Set[Long] =
      SpecLoader.transformFromJson(
        s"""{"name": "anngate", "steps": [
           |  {"op": "ann_gate", "id": "doc_id", "vec_dir": "$vecDir",
           |   "model_dir": "$regDir", "model": "ivf", "tier": "ivf",
           |   "store": "registry", "k": 5, $extra} ] }""".stripMargin)(
        docs).select("doc_id").as[Long].collect().toSet

    // hand-composed twin of the min mode: serve the pinned index, keep
    // top-1 >= floor
    val pin = reg.snapshot("ivf")
    val queries = spark.read.parquet(vecDir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val top1 = Similarity.annTopKIvfStored(queries, corpus, 5, pin)
      .groupBy(col("qid")).agg(max(col("cos_permille")).as("t"))
    val handMin = top1.filter(col("t") >= 900)
      .select(col("qid")).as[Long].collect().toSet
    val viaMin = gate(""""min_top_permille": 900""")
    assert(viaMin === handMin && viaMin.nonEmpty &&
      viaMin.size < docs.count())

    // max mode is the complement over rows WITH an embedding, plus any
    // no-candidate rows (none here: every query retrieves); a band
    // (min+max) intersects
    val viaMax = gate(""""max_top_permille": 900""")
    assert(viaMax === (0L until 60L).toSet -- handMin)
    val viaBand = gate(
      """"min_top_permille": 900, "max_top_permille": 1001""")
    assert(viaBand === viaMin)

    // rows without an embedding drop in EITHER mode (they cannot be
    // gated — the cluster_mixture contract)
    val extraDoc = docs.unionByName(
      Seq((999L, "no embedding")).toDF("doc_id", "text"))
    val withGhost = SpecLoader.transformFromJson(
      s"""{"name": "anngate", "steps": [
         |  {"op": "ann_gate", "id": "doc_id", "vec_dir": "$vecDir",
         |   "model_dir": "$regDir", "model": "ivf", "tier": "ivf",
         |   "store": "registry", "max_top_permille": 1001} ] }"""
        .stripMargin)(extraDoc)
      .select("doc_id").as[Long].collect().toSet
    assert(!withGhost.contains(999L))

    // parse-time failures: unknown tier, non-registry store, no bound
    val badTier = intercept[IllegalArgumentException](
      SpecLoader.transformFromJson(
        s"""{"name": "x", "steps": [
           |  {"op": "ann_gate", "id": "doc_id", "vec_dir": "$vecDir",
           |   "model_dir": "$regDir", "tier": "hnsw",
           |   "min_top_permille": 1} ] }""".stripMargin))
    assert(badTier.getMessage.contains("unknown ann_gate tier"))
    val badStore = intercept[IllegalArgumentException](
      SpecLoader.transformFromJson(
        s"""{"name": "x", "steps": [
           |  {"op": "ann_gate", "id": "doc_id", "vec_dir": "$vecDir",
           |   "model_dir": "$regDir", "store": "snapshot",
           |   "min_top_permille": 1} ] }""".stripMargin))
    assert(badStore.getMessage.contains("registry-versioned"))
    val noBound = intercept[IllegalArgumentException](
      SpecLoader.transformFromJson(
        s"""{"name": "x", "steps": [
           |  {"op": "ann_gate", "id": "doc_id", "vec_dir": "$vecDir",
           |   "model_dir": "$regDir"} ] }""".stripMargin))
    assert(noBound.getMessage.contains("min_top_permille"))
  }

  test("README declared-chain example: the documented JSON runs " +
      "verbatim and the documented funnel table is true") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.{NaiveBayes, TextAnalysis}
    // the README IS the fixture: extract the fenced JSON under the
    // end-to-end section — if the docs drift from the engine, this fails
    val readme = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("README.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val anchor = "### One chain, end to end"
    val at = readme.indexOf(anchor)
    assert(at >= 0, "README end-to-end section missing")
    val fenceStart = readme.indexOf("```json", at)
    val fenceEnd = readme.indexOf("```", fenceStart + 7)
    assert(fenceStart > at && fenceEnd > fenceStart,
      "README json fence missing")
    val docJson = readme.substring(fenceStart + 7, fenceEnd)

    // artifacts behind the two documented placeholders
    val boiler = "breaking news update follows"
    val regDir = java.nio.file.Files
      .createTempDirectory("graft-readme").toString
    val reg = new graft.state.ModelRegistry(spark, regDir)
    NaiveBayes.nbcPublishModel(Seq(
      (100L, "en", "the cat sat on the mat and slept all day long"),
      (101L, "en", "we walked to the market and bought fresh bread " +
        "every morning"),
      (102L, "en", "buy now click here free offer limited deal"),
      (103L, "en", s"$boiler the cat and the dog today"),
      (104L, "de", "der hund und die katze schlafen auf dem teppich"),
      (106L, "de", "die katze sitzt auf der matte und schlaeft jetzt"),
      (108L, "fr", "zzq wwq vvq uuq ttq ssq rrq qqq ppq ooq"),
      (110L, "fr", "qqz wwz vvz uuz ttz ssz rrz zzz ppz ooz")
    ).toDF("doc_id", "lang", "text"), "text", "lang", reg, "nbc")
    NaiveBayes.nbcPublishModel(Seq(
      (200L, "hq", "the cat sat on the mat and slept all day long"),
      (202L, "hq", "a dog ran over the hill and far away it went"),
      (204L, "hq", s"$boiler the cat and the dog today"),
      (205L, "hq", "we walked to the market and bought fresh bread " +
        "every morning"),
      (206L, "hq", "der hund und die katze schlafen auf dem teppich"),
      (208L, "lq", "buy now click here free offer limited deal"),
      (210L, "lq", "free offer click now buy deal limited wins today")
    ).toDF("doc_id", "lang", "text"), "text", "lang", reg, "qual")
    TextAnalysis.kn3PublishModel(Seq(
      (0L, "the cat sat on the mat and then the cat slept"),
      (2L, "the cat sat on the mat and the dog sat too"),
      (4L, "the cat sat on the mat and slept all day long"),
      (6L, "a dog ran over the hill and far away it went"),
      (8L, "der hund und die katze schlafen auf dem teppich hier"),
      (10L, s"$boiler the cat and the dog today")
    ).toDF("doc_id", "text"), "text", "doc_id", reg, "lm")
    val vecDir = java.nio.file.Files
      .createTempDirectory("graft-readme-emb").toString + "/emb"
    // doc 1 (the boilerplate-news doc) is its own topic; every other
    // doc shares the majority topic — the α-flattening then computes a
    // sub-unity keep rate for the MAJORITY cell, so the documented
    // chain visibly rebalances (doc 2's id hash lands above the rate)
    (1 to 10).map(i => (i.toLong,
        if (i == 1) Seq(0.1, 1.0, 0.2, 0.3)
        else Seq(1.0, 0.1, 0.01 * i, 0.2)))
      .toDF("vec_id", "embedding").write.parquet(vecDir)
    val json = docJson.replace("<model-registry>", regDir)
      .replace("<embeddings-table>", vecDir)

    // the documented 10-document fixture: one verbatim duplicate (10),
    // one off-language doc (3), one low-quality doc (5), one gibberish
    // doc for the LM floor, one all-boilerplate doc (6)
    val docs = Seq(
      (1L, s"$boiler the cat sat on the mat and slept all day long"),
      (2L, "the cat sat on the mat and the dog sat too"),
      (3L, "zzq wwq vvq uuq ttq ssq rrq qqq ppq ooq nnq mmq"),
      (4L, "a dog ran over the hill and far away it went"),
      (5L, "buy now click here free offer limited deal"),
      (6L, s"$boiler $boiler"),
      (7L, "der hund und die katze schlafen auf dem teppich hier"),
      (8L, "the cat sat on the mat and then the cat slept"),
      (9L, "we walked to the market and bought fresh bread this morning"),
      (10L, "the cat sat on the mat and the dog sat too")
    ).toDF("doc_id", "text")

    val (out, funnel) = SpecLoader.funnelFromJson(json, docs)
    val rows = funnel.map { case (i, op, in, o) => s"| $i | $op | $in | $o |" }
    val missing = rows.filterNot(readme.contains)
    assert(missing.isEmpty,
      s"README funnel table out of date; actual funnel:\n" +
        rows.mkString("\n"))
    assert(out.select(col("doc_id")).count() === funnel.last._4)
  }
}
