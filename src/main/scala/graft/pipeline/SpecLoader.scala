package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Declarative (data-file) pipeline specs — the loader that closes the
  * reference's last UX gap: its "query language" is nine JSON template
  * FILES a user edits without recompiling (reference
  * `data/transform/transform_bucket.json.tmpl` et al., wired by
  * `main.go:21-82`), while [[HcpIntegration.spec]] is compiled Scala.
  * This parser turns a JSON document of project/explode/rename/edge-pair
  * steps into the same [[FunctionSpec]] values, so a spec can live next
  * to the data it describes.
  *
  * Shape:
  * {{{
  * { "name": "hcp_packer",
  *   "functions": [
  *     { "name": "buckets", "kind": "node", "label": "bucket",
  *       "steps": [
  *         { "op": "explode", "array": "buckets", "as": "b" },
  *         { "op": "project", "fields": { "external_id": "b.id" } } ] },
  *     { "name": "org_project", "kind": "relation", "rel_type": "has",
  *       "label_a": "org", "label_b": "project",
  *       "steps": [ ... , { "op": "edge_pairs",
  *         "a": "b.location.organization_id",
  *         "b": "b.location.project_id" }, { "op": "dedup" } ] } ] }
  * }}}
  *
  * Ops (each a pure `DataFrame => DataFrame`, composed left to right —
  * every value position is a Spark SQL expression string, so constants,
  * casts and nested-field paths need no dedicated syntax):
  *  - `explode`: flatten `array` to one row per element named `as`;
  *    optional `keep` projects parent expressions alongside (the
  *    correlated two-level flatten of `transform_build.json.tmpl`)
  *  - `project`: select the given fields in declaration order
  *  - `rename`: column renames, other columns untouched
  *  - `filter`: keep rows matching `expr`
  *  - `dedup`: dropDuplicates, optionally on `by` columns
  *  - `edge_pairs`: the (a_id, b_id) string-cast edge projection of
  *    [[graft.operators.Transforms.edgePairs]]
  *  - curation ops (`normalize`, `line_dedup`, `substring_excise`,
  *    `quality_filter`, `gopher_rules`, `gopher_repetition`,
  *    `lm_perplexity`, `exact_dedup`, `minhash_dedup`, `winnow_dedup`,
  *    `semdedup`, `dsir_weight`, `mixture_resample`, `alpha_mixture`):
  *    the
  *    LLM-corpus steps as declarable stages — see [[transformFromJson]],
  *    the standalone chain entry point; with the rules + repetition
  *    gates, the perplexity gate, importance weighting, and temperature
  *    resampling declarable alongside the two near-dup tiers, the FULL
  *    modern curation recipe (normalize → line dedup → quality floor →
  *    Gopher rules → repetition gate → LM-perplexity gate → exact dedup
  *    → MinHash near-dedup → semantic dedup → DSIR importance weighting
  *    → α-mixture rebalance) is a data file
  *
  * Field order inside `project`/`rename`/`keep` objects is preserved
  * (json4s keeps JObject field order), so loaded specs produce
  * byte-identical schemas to their compiled twins — pinned by
  * SpecLoaderSpec against [[HcpIntegration.spec]]. */
object SpecLoader {
  private implicit val formats: Formats = DefaultFormats

  def fromJsonFile(path: String,
      load: SparkSession => DataFrame): IntegrationSpec =
    fromJson(new String(Files.readAllBytes(Paths.get(path)),
      StandardCharsets.UTF_8), load)

  def fromJson(json: String,
      load: SparkSession => DataFrame): IntegrationSpec = {
    val root = JsonMethods.parse(json)
    val name = (root \ "name").extract[String]
    val fns = (root \ "functions") match {
      case JArray(items) => items.map(parseFunction)
      case other => sys.error(s"'functions' must be an array, got $other")
    }
    IntegrationSpec(name, load, fns)
  }

  /** A standalone transform chain — the curation-pipeline entry point:
    * parse a JSON document's `steps` array into ONE composed
    * `DataFrame => DataFrame`, no integration/sink wrapper. The same
    * vocabulary as function steps plus the curation ops (`normalize`,
    * `line_dedup`, `quality_filter`, `exact_dedup`), so a corpus
    * curation recipe is a data file:
    * {{{
    * { "name": "web_curate", "steps": [
    *   { "op": "normalize", "col": "text" },
    *   { "op": "line_dedup", "text": "text", "id": "doc_id",
    *     "width": 8, "max_doc_freq": 1 },
    *   { "op": "quality_filter", "text": "text", "min_score": 400 },
    *   { "op": "exact_dedup", "text": "text", "id": "doc_id" } ] }
    * }}} */
  def transformFromJson(json: String): DataFrame => DataFrame =
    stagesFromJson(json).map(_._2).reduceLeft(_ andThen _)

  /** Ordered (op, stage) pairs of a declared chain — the shared parse
    * behind [[transformFromJson]], [[funnelFromJson]], and the
    * streaming funnel ([[graft.streaming.StreamingFunnel]]), so batch
    * and streaming audits run the SAME declared stages. */
  def stagesFromJson(json: String): Seq[(String, DataFrame => DataFrame)] = {
    val root = JsonMethods.parse(json)
    val name = (root \ "name").extractOpt[String].getOrElse("transform")
    val items = (root \ "steps") match {
      case JArray(is) => is
      case other => sys.error(s"'$name': 'steps' must be an array, got $other")
    }
    require(items.nonEmpty, s"'$name' has no steps")
    items.map(s => ((s \ "op").extract[String], parseStep(name, s)))
  }

  /** Run a declared curation chain and return BOTH the final frame and
    * the per-stage funnel — (stage, op, rows_in, rows_out) — the audit a
    * production curation job ships next to its output (which stage ate
    * the corpus?). Each stage boundary is one `count()` action against a
    * `localCheckpoint`ed intermediate, so no stage recomputes its
    * predecessors and the chain's lineage stays flat; for a 100 TB run
    * the same shape holds with reliable checkpoints. */
  def funnelFromJson(json: String, df: DataFrame)
      : (DataFrame, Seq[(Int, String, Long, Long)]) = {
    val parsed = stagesFromJson(json)
    val ops = parsed.map(_._1)
    val stages = parsed.map(_._2)
    val funnel = Seq.newBuilder[(Int, String, Long, Long)]
    var cur = df
    var (ckpt, n) = org.apache.spark.sql.GraftSqlBridge
      .localCheckpointFreshStatsCounted(cur)
    cur = ckpt
    stages.zip(ops).zipWithIndex.foreach { case ((stage, op), i) =>
      val in = n
      val (out, m) = org.apache.spark.sql.GraftSqlBridge
        .localCheckpointFreshStatsCounted(stage(cur))
      funnel += ((i + 1, op, in, m))
      cur = out
      n = m
    }
    (cur, funnel.result())
  }

  private def parseFunction(v: JValue): FunctionSpec = {
    val name = (v \ "name").extract[String]
    val kind = (v \ "kind").extract[String] match {
      case "node" => CreateNode((v \ "label").extract[String])
      case "relation" => CreateRelation(
        (v \ "rel_type").extract[String],
        (v \ "label_a").extract[String],
        (v \ "label_b").extract[String],
        (v \ "reconcile").extractOpt[Boolean].getOrElse(false))
      case other => sys.error(s"function '$name': unknown kind '$other'")
    }
    val steps = (v \ "steps") match {
      case JArray(items) => items.map(s => parseStep(name, s))
      case other => sys.error(s"function '$name': 'steps' must be an array")
    }
    require(steps.nonEmpty, s"function '$name' has no steps")
    FunctionSpec(name, kind, steps.reduceLeft(_ andThen _))
  }

  /** Ordered (name, expression) pairs of a JSON object field. */
  private def orderedFields(v: JValue, ctx: String): List[(String, String)] =
    v match {
      case JObject(fs) => fs.map {
        case JField(n, JString(e)) => (n, e)
        case JField(n, other) =>
          sys.error(s"$ctx: field '$n' must be a string expression, got $other")
      }
      case JNothing => Nil
      case other => sys.error(s"$ctx: expected an object, got $other")
    }

  /** The frozen model a model stage (`lm_apply`, `lang_gate`,
    * `margin_gate`, `ann_gate`) serves: `model_dir` is a
    * [[graft.state.ModelRegistry]] root and `model` (default `dflt`) the
    * model's name in it. The returned reader pins the CURRENT promoted
    * version each time the stage is applied, so a chain scores one
    * consistent version under concurrent refresh and a rollback takes
    * effect on the next run. `store` may only be absent or
    * `"registry"`: spec files are outside input, so any other value
    * fails here, at parse time, not mid-chain. */
  private def modelPin(fn: String, op: String, v: JValue, dflt: String)
      : SparkSession => graft.state.ModelRegistry#Pinned = {
    val store = (v \ "store").extractOpt[String]
    require(store.forall(_ == "registry"),
      s"function '$fn': $op serves registry-versioned models only; " +
        s"unknown model store '${store.get}' (expected 'registry')")
    val dir = (v \ "model_dir").extract[String]
    val model = (v \ "model").extractOpt[String].getOrElse(dflt)
    s => new graft.state.ModelRegistry(s, dir).snapshot(model)
  }

  private def parseStep(fn: String, v: JValue): DataFrame => DataFrame =
    (v \ "op").extract[String] match {
      case "explode" =>
        val arr = (v \ "array").extract[String]
        val as = (v \ "as").extract[String]
        val keep = orderedFields(v \ "keep", s"$fn.explode.keep")
        df => df.select(keep.map { case (n, e) => expr(e).as(n) } :+
          explode(expr(arr)).as(as): _*)
      case "project" =>
        val fields = orderedFields(v \ "fields", s"$fn.project.fields")
        require(fields.nonEmpty, s"$fn: project needs fields")
        df => df.select(fields.map { case (n, e) => expr(e).as(n) }: _*)
      case "rename" =>
        val pairs = orderedFields(v \ "fields", s"$fn.rename.fields")
        df => graft.operators.Transforms.projectRename(df,
          pairs.map { case (from, to) => (from, to) }: _*)
      case "filter" =>
        val e = (v \ "expr").extract[String]
        df => df.filter(expr(e))
      case "dedup" =>
        (v \ "by").extractOpt[List[String]] match {
          case Some(cols) => df => df.dropDuplicates(cols)
          case None => df => df.dropDuplicates()
        }
      case "edge_pairs" =>
        val a = (v \ "a").extract[String]
        val b = (v \ "b").extract[String]
        df => graft.operators.Transforms.edgePairs(df, expr(a), expr(b))

      // ---- curation vocabulary: the LLM-data steps, declarable in the
      // same files as the reference-shaped transform steps, so a data
      // engineer re-orders a curation pipeline without recompiling ----
      case "normalize" =>
        // canonicalize `col` in place (dedup pre-pass)
        val c = (v \ "col").extract[String]
        df => df.withColumn(c,
          graft.operators.TextAnalysis.normalizeText(col(c)))
      case "quality_filter" =>
        // keep rows whose quality score clears the permille floor
        val c = (v \ "text").extract[String]
        val min = (v \ "min_score").extract[Int]
        df => df.filter(
          graft.operators.TextAnalysis.qualityScore(col(c)) >= min)
      case "exact_dedup" =>
        // first-id-wins exact dedup: semi-join the survivor id set
        val c = (v \ "text").extract[String]
        val id = (v \ "id").extract[String]
        df => df.join(graft.operators.Dedup.exactSurvivors(df, c, id),
          Seq(id), "left_semi")
      case "line_dedup" =>
        // CCNet boilerplate pass: rebuild `text` from the lines that
        // clear the cross-document frequency cap, preserving every other
        // column; docs whose every line is boilerplate drop out when
        // `drop_empty` (default true)
        val c = (v \ "text").extract[String]
        val id = (v \ "id").extract[String]
        val width = (v \ "width").extractOpt[Int].getOrElse(8)
        val maxDf = (v \ "max_doc_freq").extractOpt[Int].getOrElse(1)
        val dropEmpty = (v \ "drop_empty").extractOpt[Boolean]
          .getOrElse(true)
        df => {
          val ld = graft.operators.TextAnalysis
            .lineDedup(df, c, id, width, maxDf)
          val kept = if (dropEmpty) ld.filter(col("n_kept") > 0) else ld
          df.drop(c).join(
            kept.select(col("id").as(id), col("kept_text").as(c)),
            Seq(id))
        }
      case "substring_excise" =>
        // exact-substring excision (Lee et al. 2022's dedup ACTION step,
        // fixed-k window relaxation): rebuild `text` with every
        // duplicated-span token removed, other columns untouched; docs
        // fully covered by duplicated spans drop out when `drop_empty`
        // (default true) — the line_dedup stage contract at span
        // granularity
        val c = (v \ "text").extract[String]
        val id = (v \ "id").extract[String]
        val k = (v \ "k").extractOpt[Int].getOrElse(8)
        val dropEmpty = (v \ "drop_empty").extractOpt[Boolean]
          .getOrElse(true)
        df => {
          val ex = graft.operators.TextAnalysis
            .substringExcise(df, c, id, k)
          val kept = if (dropEmpty) ex.filter(col("n_kept") > 0) else ex
          df.drop(c).join(
            kept.select(col("id").as(id), col("kept_text").as(c)),
            Seq(id))
        }
      case "mixture_resample" =>
        // whitelist target-mixture resampling: derive per-stratum keep
        // rates so the kept corpus hits the given permille mixture
        // (the scarcest stratum is kept whole); strata absent from the
        // weights map are DROPPED — a mixture spec is a whitelist
        // ([[graft.operators.TextAnalysis.mixtureResample]]). With
        // `rate_ppm` instead of `target_permille` the rates are FROZEN
        // in the spec (derived offline) and the stage is a stateless
        // keep-by-hash filter — the form a streaming chain can run,
        // since a stream cannot know its own final stratum counts
        // ([[graft.operators.TextAnalysis.mixtureApplyRatesPpm]])
        val id = (v \ "id").extract[String]
        val strata = (v \ "strata").extract[String]
        // explicit JNothing test: json4s "extracts" a missing field as
        // an EMPTY map, which would shadow the derive mode
        (v \ "rate_ppm") match {
          case JNothing =>
            val weights =
              (v \ "target_permille").extract[Map[String, Int]]
            df => graft.operators.TextAnalysis
              .mixtureResample(df, col(strata), col(id), weights)
          case jv =>
            val rates = jv.extract[Map[String, Long]]
            df => graft.operators.TextAnalysis
              .mixtureApplyRatesPpm(df, col(strata), col(id), rates)
        }
      case "minhash_dedup" =>
        // MinHash-LSH near-dedup: LSH proposes candidate pairs, exact
        // Jaccard verifies, connected components cluster, and the min-id
        // member of each cluster survives (plus every unclustered doc) —
        // the full 100 TB near-dedup recipe as ONE declarable stage
        val c = (v \ "text").extract[String]
        val id = (v \ "id").extract[String]
        val n = (v \ "ngram").extractOpt[Int].getOrElse(5)
        val k = (v \ "hashes").extractOpt[Int].getOrElse(64)
        val r = (v \ "band_rows").extractOpt[Int].getOrElse(4)
        val thr = (v \ "threshold_permille").extractOpt[Int].getOrElse(700)
        df => {
          val sigs = graft.operators.Dedup
            .minhashSignature(df, c, id, k = k, n = n)
          val cands = graft.operators.Dedup.minhashLshCandidates(sigs, k, r)
          val verified = graft.operators.Dedup
            .verifyCandidates(df, cands, c, id, n, thr)
          val pruned = graft.operators.Dedup.connectedComponents(verified)
            .filter(col("id") =!= col("cluster_id"))
            .select(col("id").as(id))
          df.join(pruned, Seq(id), "left_anti")
        }
      case "winnow_dedup" =>
        // MOSS-style near-dedup tier (Schleimer et al. 2003): winnowing
        // fingerprints propose pairs (common fingerprints df-capped —
        // the paper's scalability rule and the bucket bound at 100 TB),
        // overlap >= min_shared confirms, connected components cluster,
        // min-id survives — the local/positional sibling of the
        // minhash_dedup tier (catches contiguous shared PASSAGES that
        // token-set MinHash dilutes away on long documents)
        val c = (v \ "text").extract[String]
        val id = (v \ "id").extract[String]
        val k = (v \ "k").extractOpt[Int]
          .getOrElse(graft.operators.TextAnalysis.WinnowK)
        val w = (v \ "window").extractOpt[Int]
          .getOrElse(graft.operators.TextAnalysis.WinnowW)
        val maxDf = (v \ "max_df").extractOpt[Int]
          .getOrElse(graft.operators.TextAnalysis.WinnowMaxDf)
        val minShared = (v \ "min_shared").extractOpt[Int]
          .getOrElse(graft.operators.TextAnalysis.WinnowMinShared)
        df => {
          val fp = graft.operators.TextAnalysis
            .winnowFingerprints(df, c, id, k, w)
            .select(col("id"), col("fp")).distinct().localCheckpoint()
          val rare = fp.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
            .filter(col("__df") <= maxDf).select(col("fp"))
          val kept = fp.join(rare, Seq("fp"), "left_semi")
          val pairs = kept.as("a").join(kept.as("b"),
              col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
            .groupBy(col("a.id").as("a"), col("b.id").as("b"))
            .agg(count(lit(1)).as("__n"))
            .filter(col("__n") >= minShared)
          val pruned = graft.operators.Dedup.connectedComponents(pairs)
            .filter(col("id") =!= col("cluster_id"))
            .select(col("id").as(id))
          df.join(pruned, Seq(id), "left_anti")
        }
      case "semdedup" =>
        // SemDeDup embedding-space near-dedup: keep the first (lowest-id)
        // member of every in-cell cosine neighborhood; cell count derives
        // from the corpus unless pinned ([[Similarity.semDedup]])
        val vecCol = (v \ "vec").extract[String]
        val id = (v \ "id").extract[String]
        val thr = (v \ "threshold_permille").extractOpt[Int].getOrElse(550)
        val cells = (v \ "n_cells").extractOpt[Int].getOrElse(0)
        val target = (v \ "target_mean_cell").extractOpt[Int].getOrElse(1024)
        df => {
          val pruned = graft.operators.Similarity.semDedup(
              df.select(col(id).as("id"), col(vecCol).as("vec")),
              nCells = cells, thresholdPermille = thr,
              targetMeanCell = target)
            .filter(col("pruned") === 1L).select(col("id").as(id))
          df.join(pruned, Seq(id), "left_anti")
        }
      case "gopher_rules" =>
        // Gopher rule gate (Rae et al. 2021): keep rows that clear every
        // rule in [[graft.operators.TextAnalysis.gopherRules]]; the
        // word-count bounds default to the engine's shared constants
        val c = (v \ "text").extract[String]
        val id = (v \ "id").extract[String]
        val min = (v \ "min_words").extractOpt[Int]
          .getOrElse(graft.operators.TextAnalysis.GopherMinWords)
        val max = (v \ "max_words").extractOpt[Int]
          .getOrElse(graft.operators.TextAnalysis.GopherMaxWords)
        df => df.join(
          graft.operators.TextAnalysis.gopherRules(df, c, id, min, max)
            .filter(col("pass") === 1L).select(col("id").as(id)),
          Seq(id), "left_semi")
      case "gopher_repetition" =>
        // Gopher repetition gate (Rae et al. 2021 A1.2): keep rows whose
        // top/dup n-gram character concentrations clear every cap in
        // [[graft.operators.TextAnalysis.gopherRepetition]] — the
        // within-document companion to the gopher_rules battery
        val c = (v \ "text").extract[String]
        val id = (v \ "id").extract[String]
        df => df.join(
          graft.operators.TextAnalysis.gopherRepetition(df, c, id)
            .filter(col("pass") === 1L).select(col("id").as(id)),
          Seq(id), "left_semi")
      case "lm_apply" =>
        // frozen-model perplexity gate: keep rows whose pruned-trigram-KN
        // mean token log-prob AGAINST A STORED MODEL clears the floor —
        // the production form of lm_perplexity (the gate LM is trained
        // once and frozen, never re-fit on the stage input; Wenzek et
        // al. 2020). `model_dir`/`model` locate the artifact in a
        // [[graft.state.ModelRegistry]] ([[modelPin]]). Unscorable docs
        // drop. The streaming twin is
        // [[graft.streaming.StreamingLmGate]] over the same artifact.
        val c = (v \ "text").extract[String]
        val id = (v \ "id").extract[String]
        val model = modelPin(fn, "lm_apply", v, "lm")
        val floor = (v \ "min_lp_permille").extractOpt[Long].getOrElse(
          graft.operators.TextAnalysis.LmPerplexityFloorPermille)
        df => {
          val m = graft.operators.TextAnalysis.kn3FromRegistry(
            model(df.sparkSession))
          df.join(
            graft.operators.TextAnalysis.kn3Score(df, c, id, m)
              .filter(col("lp_permille") >= floor)
              .select(col(id)),
            Seq(id), "left_semi")
        }
      case "lang_gate" =>
        // frozen-classifier language gate: keep rows whose PREDICTED
        // class (trained Naive-Bayes char-trigram model AGAINST A
        // STORED ARTIFACT, [[graft.operators.NaiveBayes]]) is in the
        // declared keep-list — the CCNet front door (a pretrained
        // fastText-style lang-id model routes every crawl doc before
        // the LM gate; Wenzek et al. 2020). `model_dir`/`model` locate
        // the registry artifact ([[NaiveBayes.nbcPublishModel]],
        // [[modelPin]]). The streaming twin is
        // [[graft.streaming.StreamingClassifierGate]] over the same
        // artifact.
        val c = (v \ "text").extract[String]
        val id = (v \ "id").extract[String]
        val model = modelPin(fn, "lang_gate", v, "nbc")
        val keep = (v \ "keep").extract[Seq[String]]
        df => graft.operators.NaiveBayes.nbcGate(df, c, id,
          graft.operators.NaiveBayes.nbcFromRegistry(model(df.sparkSession)),
          keep)
      case "margin_gate" =>
        // classifier-confidence selection (the GPT-3 quality-filter cut,
        // Brown et al. 2020 App. A): keep rows the STORED binary
        // classifier assigns to `keep_class` with a decision margin of
        // at least `min_margin_micros`
        // ([[graft.operators.NaiveBayes.nbcMarginGate]]). The streaming
        // twin is [[graft.streaming.StreamingClassifierGate.marginGate]]
        // over the same artifact.
        val c = (v \ "text").extract[String]
        val id = (v \ "id").extract[String]
        val model = modelPin(fn, "margin_gate", v, "nbc")
        val keepClass = (v \ "keep_class").extract[String]
        val minMargin = (v \ "min_margin_micros").extractOpt[Long]
          .getOrElse(0L)
        df => graft.operators.NaiveBayes.nbcMarginGate(df, c, id,
          graft.operators.NaiveBayes.nbcFromRegistry(model(df.sparkSession)),
          keepClass, minMargin)
      case "lm_perplexity" =>
        // CCNet-style perplexity gate (Wenzek et al. 2020): keep rows
        // whose Kneser-Ney mean token log-prob — the LM trained on the
        // stage's own input — clears the floor; unscorable (<2 token)
        // docs are dropped. The default floor is the engine's shared
        // constant (one-definition discipline).
        val c = (v \ "text").extract[String]
        val id = (v \ "id").extract[String]
        val floor = (v \ "min_lp_permille").extractOpt[Long].getOrElse(
          graft.operators.TextAnalysis.LmPerplexityFloorPermille)
        df => graft.operators.TextAnalysis
          .lmPerplexityGate(df, c, id, floor)
      case "alpha_mixture" =>
        // temperature-based mixture resampling (Conneau & Lample 2019):
        // keep rates derived from the observed stratum distribution
        // flattened by p^alpha; the kept rows ride through with rate_ppm
        // dropped (stage output schema == stage input schema)
        val id = (v \ "id").extract[String]
        val strata = (v \ "strata").extract[String]
        val alpha = (v \ "alpha").extractOpt[Double].getOrElse(0.3)
        df => graft.operators.TextAnalysis
          .alphaMixture(df, col(strata), col(id), alpha)
          .drop("rate_ppm")
      case "cluster_mixture" =>
        // cluster-balanced (topic) resampling: assign each row's
        // embedding (read from `vec_dir`, joined on `id`) to its
        // nearest deterministic IVF cell and α-flatten the OBSERVED
        // cell distribution into keep rates
        // ([[graft.operators.Similarity.clusterMixture]]) — the
        // alpha_mixture temperature math over embedding-space strata
        // instead of a declared label column. The streaming twin is
        // [[graft.streaming.StreamingClusterGate]] over frozen
        // centroids + frozen rates.
        val id = (v \ "id").extract[String]
        val vecDir = (v \ "vec_dir").extract[String]
        val vecId = (v \ "vec_id").extractOpt[String].getOrElse("vec_id")
        val vecCol = (v \ "vec_col").extractOpt[String]
          .getOrElse("embedding")
        val nCells = (v \ "n_cells").extractOpt[Int].getOrElse(16)
        val alpha = (v \ "alpha").extractOpt[Double].getOrElse(0.3)
        df => graft.operators.Similarity.clusterMixture(df, id,
          df.sparkSession.read.parquet(vecDir)
            .select(col(vecId).as("id"), col(vecCol).as("vec")),
          nCells, alpha)
      case "ann_gate" =>
        // retrieval-augmented filtering against a STORED ANN index: each
        // row's embedding (read from `vec_dir`, joined on `id` — rows
        // without one drop, the cluster_mixture contract) retrieves its
        // top-k neighbors from the registry-versioned index tier
        // (`tier`: ivf | ivfpq | sq8 — the ann_apply serve paths,
        // pinned when the stage runs ([[modelPin]]) so a chain keeps a
        // consistent index under concurrent refresh), and the row is
        // kept by its TOP-1
        // cosine: `min_top_permille` keeps rows at least that similar
        // to the indexed corpus (domain/topic selection — the
        // retrieval form of margin_gate), `max_top_permille` keeps rows
        // BELOW the ceiling (dedup/decontamination against an indexed
        // reference set; rows with no retrieved candidate keep — nothing
        // similar exists). `corpus_dir` locates the indexed corpus's
        // full vectors (defaults to `vec_dir`): the compressed tiers
        // fetch only the rerank shortlist from it by id.
        val id = (v \ "id").extract[String]
        val vecDir = (v \ "vec_dir").extract[String]
        val vecId = (v \ "vec_id").extractOpt[String].getOrElse("vec_id")
        val vecCol = (v \ "vec_col").extractOpt[String]
          .getOrElse("embedding")
        val corpusDir = (v \ "corpus_dir").extractOpt[String]
          .getOrElse(vecDir)
        val corpusId = (v \ "corpus_id").extractOpt[String]
          .getOrElse(vecId)
        val corpusCol = (v \ "corpus_col").extractOpt[String]
          .getOrElse(vecCol)
        val model = modelPin(fn, "ann_gate", v, "ann")
        val tier = (v \ "tier").extractOpt[String].getOrElse("ivf")
        require(Set("ivf", "ivfpq", "sq8").contains(tier),
          s"function '$fn': unknown ann_gate tier '$tier' " +
            "(expected 'ivf', 'ivfpq' or 'sq8')")
        val k = (v \ "k").extractOpt[Int].getOrElse(5)
        val minTop = (v \ "min_top_permille").extractOpt[Long]
        val maxTop = (v \ "max_top_permille").extractOpt[Long]
        require(minTop.nonEmpty || maxTop.nonEmpty,
          s"function '$fn': ann_gate needs min_top_permille and/or " +
            "max_top_permille")
        df => {
          val s = df.sparkSession
          val pin = model(s)
          val queries = s.read.parquet(vecDir)
            .select(col(vecId).as("id"), col(vecCol).as("vec"))
            .join(df.select(col(id).as("id")), Seq("id"), "left_semi")
          val corpus = s.read.parquet(corpusDir)
            .select(col(corpusId).as("id"), col(corpusCol).as("vec"))
          val served = tier match {
            case "ivf" => graft.operators.Similarity
              .annTopKIvfStored(queries, corpus, k, pin)
            case "ivfpq" => graft.operators.Similarity
              .annTopKIvfPqStored(queries, corpus, k, pin,
                rerank = graft.operators.Similarity.Sq8Rerank)
            case _ => graft.operators.Similarity
              .annTopKSq8Stored(queries, corpus, k, pin)
          }
          val top1 = served.groupBy(col("qid"))
            .agg(max(col("cos_permille")).as("__top1"))
          val kept = (minTop, maxTop) match {
            case (Some(m), None) =>
              top1.filter(col("__top1") >= m).select(col("qid").as(id))
            case (None, Some(x)) =>
              queries.select(col("id").as("qid"))
                .join(top1, Seq("qid"), "left")
                .filter(col("__top1").isNull || col("__top1") < x)
                .select(col("qid").as(id))
            case _ =>
              top1.filter(col("__top1") >= minTop.get &&
                  col("__top1") < maxTop.get)
                .select(col("qid").as(id))
          }
          df.join(kept, Seq(id), "left_semi")
        }
      case "dsir_weight" =>
        // DSIR importance weighting (Xie et al. 2023): attach each doc's
        // hashed-bigram target/corpus rate-ratio score as a column
        // (`as`, default dsir_w_avg; docs with <2 tokens score 0), and
        // optionally resample by dropping rows under `min_w_avg` — the
        // rules-gate + importance-resampling tail of the modern recipe
        val c = (v \ "text").extract[String]
        val id = (v \ "id").extract[String]
        val target = (v \ "target").extract[String]
        val buckets = (v \ "buckets").extractOpt[Int].getOrElse(4096)
        val as = (v \ "as").extractOpt[String].getOrElse("dsir_w_avg")
        val floor = (v \ "min_w_avg").extractOpt[Long]
        df => {
          val w = graft.operators.TextAnalysis
            .dsirWeights(df, c, id, expr(target), buckets)
            .select(col("id").as(id), col("w_avg").as(as))
          val joined = df.join(w, Seq(id), "left")
            .withColumn(as, coalesce(col(as), lit(0L)))
          floor.fold(joined)(f => joined.filter(col(as) >= f))
        }
      case other => sys.error(s"function '$fn': unknown op '$other'")
    }
}
