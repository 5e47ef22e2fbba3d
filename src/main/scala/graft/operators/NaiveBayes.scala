package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trained multinomial Naive Bayes over character trigrams — the
  * statistical ancestor of the fastText language-ID model CCNet's
  * curation gate actually ships (Wenzek et al. 2020 routes every crawl
  * document through a FROZEN pretrained lang-id classifier before the LM
  * perplexity gate; reference behavior this generalizes: the per-record
  * classify-then-route shape of the templates' field-conditional emits —
  * `data/transform/transform_bucket.json.tmpl:11`'s guarded field and
  * `main.go:158-171`'s per-function routing). Unlike the engine's heuristic tiers
  * (`chargram_langid`'s top-k profile overlap, `langId`'s stopword
  * scan), this is a TRAINED posterior model with the production
  * train/apply split: fit on labeled history, publish a version through
  * [[graft.state.ModelRegistry]], score new batches against the pinned
  * artifact.
  *
  * Math (add-1 / Laplace smoothing, all exact integer rationals until
  * one ln per TYPE):
  *   score(lang | doc) = ln P(lang) + Σ_g ln P(g | lang)
  *   P(lang)     = n_docs(lang) / D
  *   P(g | lang) = (c(g, lang) + 1) / (n_tok(lang) + V)
  * with V = |joint trigram vocabulary| and D = |train docs|. Every
  * probability is a ratio of exact integers, so each distinct
  * (lang, gram) TYPE quantizes its ln ONCE to integer micro-nats
  * (the kn/source_kl discipline) and all downstream arithmetic — the
  * per-doc sums, the argmax — is pure integer, hence order-independent
  * and bit-identical cross-engine.
  *
  * Scale shape (the fastText-scoring-on-a-cluster layout): the scoring
  * join is an inverted-index join — the batch's per-doc DISTINCT-gram
  * counts join the model's gram table on the gram key (model rows are
  * vocab×|langs|-bounded, never corpus-sized), and grams ABSENT from a
  * class never materialize: absent grams all share the class's c = 0
  * smoothing floor, so the doc×class score decomposes as
  *   prior(lang) + T·floor(lang) + Σ_matched tc·(lp(g,lang) − floor(lang))
  * with T = the doc's total gram count. Only the |langs|-row class table
  * (priors + floors) broadcasts; the corpus stream is never fanned out
  * by |langs| before the matched-sum aggregate, and the argmax window is
  * partitioned by doc (≤ |langs| rows per partition — never global).
  *
  * ASCII caveat shared with the char-gram family: `substring` counts
  * Java chars while DuckDB's `substr` counts its own character rule —
  * provably aligned on the fixture's ASCII text only
  * (XxhOracleInvariantsSpec pins max code point ≤ 127). */
object NaiveBayes {

  /** The trained artifact as three tables (the persistable form):
    *   grams   (lang, g, c)        — per-class trigram counts
    *   classes (lang, n_docs, n_tok) — per-class doc and token totals
    *   corpus  (v, d)              — 1 row: joint vocab size, train docs */
  case class NbcModel(grams: DataFrame, classes: DataFrame,
      corpus: DataFrame)

  /** Lower-cased character-trigram stream with multiplicity: one row per
    * gram occurrence, `keep` columns carried through. Documents shorter
    * than 3 chars emit nothing (same contract as the chargram family).
    *
    * Deliberately NOT the array-lambda formulation
    * (`transform(sequence, i -> substring)`): higher-order-function
    * lambdas run interpreted (outside whole-stage codegen — the measured
    * 60× case in [[Dedup.shingleInv]]'s scaladoc). Exploding the bare
    * POSITION sequence and slicing with a plain `substring(tx, p, 3)`
    * projection keeps the per-gram work codegen'd, and the exploded
    * array holds ints, not string copies. */
  private def gramStream(df: DataFrame, textCol: String,
      keep: Seq[String]): DataFrame =
    // input-split rebalance BEFORE the explode (the shingleStream
    // lesson): a single-row-group corpus file would serialize the whole
    // explode into one task. Keyed on the text itself — always
    // high-cardinality, where a label/class key would collapse to
    // |classes| partitions.
    Transforms.rebalanceIfNarrow(
        df.select(keep.map(col) :+ lower(col(textCol)).as("__tx"): _*),
        col("__tx"))
      .select(keep.map(col) :+ col("__tx") :+ explode(expr(
        "CASE WHEN length(__tx) < 3 THEN array() " +
          "ELSE sequence(1, length(__tx) - 2) END")).as("__p"): _*)
      .select(keep.map(col) :+
        expr("substring(__tx, __p, 3)").as("g"): _*)

  /** Fit the model on a labeled corpus — three aggregates over one gram
    * stream (per-(class, gram) counts; class totals and the joint vocab
    * are aggregates OF that vocab-sized table, never corpus re-scans;
    * the doc prior reads the raw frame so gram-less short docs still
    * count toward their class). */
  def nbcTrain(train: DataFrame, textCol: String,
      labelCol: String): NbcModel =
    nbcModelFromCounts(trainGramCounts(train, textCol, labelCol),
      train.groupBy(col(labelCol).as("lang"))
        .agg(count(lit(1)).as("n_docs")))

  /** The raw per-class gram-count table (lang, g, c) — [[nbcTrain]]'s
    * first input and the IVM state [[maintainGramCounts]] maintains. */
  def trainGramCounts(train: DataFrame, textCol: String,
      labelCol: String): DataFrame =
    gramStream(train.select(col(labelCol).as("lang"), col(textCol)),
        textCol, Seq("lang"))
      .groupBy(col("lang"), col("g")).agg(count(lit(1)).as("c"))

  /** Derive the model from ALREADY-COUNTED tables — the refresh-loop
    * entry point ([[maintainGramCounts]] feeds it maintained counts):
    * everything is an aggregate of the vocab-sized gram-count table or
    * the |langs|-row doc-count table, never a corpus re-scan. The
    * checkpoint barrier mirrors kn3ModelFromCounts: three derived
    * tables read the counts, and exchange reuse does not dedupe across
    * the differing aggregates above them. */
  def nbcModelFromCounts(gramCounts: DataFrame,
      classDocCounts: DataFrame): NbcModel =
    modelFromGc(Dedup.ckptLight(
      gramCounts.select(col("lang"), col("g"), col("c"))), classDocCounts)

  /** [[nbcModelFromCounts]] for a count table that is ALREADY
    * materialized (e.g. the maintained-counts memo, checkpointed by its
    * builder): re-checkpointing it would copy the vocab-sized table and
    * pay one more driver job for a barrier that already exists — the
    * three model aggregates below re-read the materialized rows either
    * way (r17, guide §5 driver round-trips). */
  def nbcModelFromPreppedCounts(gramCounts: DataFrame,
      classDocCounts: DataFrame): NbcModel =
    modelFromGc(gramCounts.select(col("lang"), col("g"), col("c")),
      classDocCounts)

  private def modelFromGc(gc: DataFrame,
      classDocCounts: DataFrame): NbcModel = {
    val nt = gc.groupBy(col("lang")).agg(sum(col("c")).as("n_tok"))
    val classes = classDocCounts.join(nt, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"))
    val corpus = gc.agg(count_distinct(col("g")).as("v"))
      .crossJoin(classDocCounts.agg(sum(col("n_docs")).as("d")))
    NbcModel(gc, classes, corpus)
  }

  /** Maintain the per-class gram-count table under a LABELED document
    * delta — adds (`opCol` = +1) and retractions (−1) — in one
    * partial-combined hash aggregate: the `ivm_agg` contract (bit-equal
    * to a full recount over the post-delta corpus; retract-to-zero rows
    * drop). Char grams never cross documents, so unlike the trigram
    * maintainer no composite tokenize key is needed — an add and a
    * retract of the same doc explode independently and cancel in the
    * aggregate. */
  def maintainGramCounts(state: DataFrame, delta: DataFrame,
      textCol: String, labelCol: String, opCol: String): DataFrame =
    state.select(col("lang"), col("g"), col("c").as("__c"))
      .unionByName(
        gramStream(delta.select(col(labelCol).as("lang"), col(textCol),
            col(opCol)), textCol, Seq("lang", opCol))
          .select(col("lang"), col("g"),
            col(opCol).cast("long").as("__c")))
      .groupBy(col("lang"), col("g")).agg(sum(col("__c")).as("c"))
      .filter(col("c") =!= 0L)

  /** The companion doc-count maintainer (the class PRIOR's numerator is
    * a per-class doc count, additive like the gram counts). */
  def maintainClassDocCounts(state: DataFrame, delta: DataFrame,
      labelCol: String, opCol: String): DataFrame =
    state.select(col("lang"), col("n_docs").as("__c"))
      .unionByName(delta.select(col(labelCol).as("lang"),
        col(opCol).cast("long").as("__c")))
      .groupBy(col("lang")).agg(sum(col("__c")).as("n_docs"))
      .filter(col("n_docs") =!= 0L)

  /** The |langs|-row scoring side: class priors and smoothing floors in
    * integer micro-nats, each ln of an exact integer rational quantized
    * ONCE (floor = the score every gram the class never saw shares). */
  private def classSide(m: NbcModel): DataFrame =
    m.classes.crossJoin(broadcast(m.corpus))
      .select(col("lang"), col("n_tok"), col("v"),
        round(log(col("n_docs").cast("double") /
          col("d").cast("double")) * lit(1000000)).cast("long")
          .as("prior_micro"),
        round(log(lit(1.0) /
          (col("n_tok") + col("v")).cast("double")) * lit(1000000))
          .cast("long").as("floor_micro"))

  /** Classify a batch against a (possibly frozen/reloaded) model.
    * Returns one row per batch doc:
    * (idCol, carry..., pred_lang, score_micros) with the argmax
    * tie-broken on (score DESC, lang ASC). Docs with no grams (short or
    * null text) classify on the prior alone — they still emit a row. */
  def nbcClassify(batch: DataFrame, textCol: String, idCol: String,
      m: NbcModel, carry: Seq[String] = Nil): DataFrame = {
    val cs = carry.zipWithIndex.map { case (c, i) => (c, s"__carry_$i") }
    val grid = scoreGrid(batch, textCol, idCol, m, carry)
    grid.withColumn("rk", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("lang").asc)))
      .filter(col("rk") === 1)
      .select(col("doc_id").as(idCol) +:
        cs.map { case (c, a) => col(a).as(c) } :+
        col("lang").as("pred_lang") :+
        col("score").cast("long").as("score_micros"): _*)
  }

  /** Size cap of the measured-size model-broadcast policy (r17, guide
    * §3.1): the per-(lang, gram) delta table is vocab×|langs|-bounded
    * but its SIZE is data-dependent, so the broadcast decision is made
    * from the MATERIALIZED row count, never from an optimizer estimate
    * (a checkpoint-backed relation has no stats, which is exactly why
    * AQE planned these joins as SortMergeJoin before this policy). 32
    * MiB estimated ≈ one small executor-memory bite per holder; a real
    * 100 TB-corpus char-trigram vocabulary (≈10⁶ grams × many classes)
    * blows the cap and falls back to the shuffle join — the policy is
    * scale-safe by measurement, not a local-mode constant. */
  private val ModelBroadcastMaxBytes = 32L << 20

  /** Conservative UnsafeRow-ish estimate for one (lang, g, dlp_micro)
    * row (two short strings + one long + row overhead). */
  private val LpRowBytes = 64L

  /** The doc × class score grid (doc_id, __carry_i..., lang, score) —
    * the shared core of [[nbcClassify]] (argmax) and [[nbcMargins]]
    * (top-2 pivot).
    *
    * Shape (r17, guide §2.4/§3): the grid is ONE hash aggregate over a
    * union of two integer part-streams —
    *   matched parts: tc·dlp per (doc, matched lang), from the
    *     inverted-index join of the per-doc gram counts with the
    *     (possibly broadcast) model delta table;
    *   base parts: prior + T·floor per (doc, lang), one row per batch
    *     doc × class from the broadcast |langs|-row class side —
    * summed per (doc, lang). Σ of exact longs is order-independent, so
    * the scores are bit-identical to the former join-assembled grid
    * (prior + T·floor + Σ matched), which paid two more corpus-keyed
    * exchanges: the batch⋈totals⋈matched join chain collapsed into the
    * union aggregate. Carry columns ride the base-part stream (exactly
    * one base row per (doc, lang)) and are recovered with
    * `first(ignoreNulls)` — deterministic because the matched stream
    * carries only nulls.
    *
    * Requires `idCol` unique within `batch`. The aggregate keys on
    * (doc_id, lang), so rows sharing an id merge into one score: their
    * grams pool into one per-doc count, and each row still adds its own
    * base part (prior + T·floor over the pooled total T), so the base
    * terms are double-counted; `first(ignoreNulls)` may also carry
    * either row's columns. Every caller scores a batch keyed by doc_id,
    * so this is documented, not checked: a check would cost one more
    * job per scoring call. */
  private def scoreGrid(batch: DataFrame, textCol: String, idCol: String,
      m: NbcModel, carry: Seq[String]): DataFrame = {
    val cl = classSide(m)
    // per-(lang, gram) matched-vs-floor delta, ln quantized per TYPE
    val lp = m.grams.join(broadcast(cl), Seq("lang"))
      .select(col("lang"), col("g"),
        (round(log((col("c") + 1).cast("double") /
          (col("n_tok") + col("v")).cast("double")) * lit(1000000))
          .cast("long") - col("floor_micro")).as("dlp_micro"))
    // measured-size broadcast decision: count the model's gram rows
    // (|lp| ≡ |grams| up to classes-join pruning) — one cheap count job
    // over the already-materialized gram table (ckptLight'd by the model
    // builders, or a parquet scan for registry-read models), NOT a
    // second materialization of the delta table: lp is a per-row
    // projection over that table, cheap to compute once more inside the
    // broadcast build, and on the fallback path it stays lazy inside
    // the shuffle join exactly as before
    val lpRows = m.grams.count()
    val lpSide =
      if (lpRows * LpRowBytes <= ModelBroadcastMaxBytes) broadcast(lp)
      else lp
    // carry columns ride under reserved names so a carried column may
    // share its name with the class side's `lang` (e.g. a true label)
    val cs = carry.zipWithIndex.map { case (c, i) => (c, s"__carry_$i") }
    val b = batch.select(col(idCol).as("doc_id") +:
      col(textCol).as("__text") +:
      cs.map { case (c, a) => col(c).as(a) }: _*)
    // checkpointed: BOTH the per-doc totals and the matched-sum read the
    // per-doc gram counts — without the barrier each would re-run the
    // corpus-width gram explode below it (the rangedRank checkpoint
    // discipline; table is Σ per-doc distinct grams, corpus-bounded)
    val atc = Dedup.ckptLight(
      gramStream(b.select(col("doc_id"), col("__text")),
          "__text", Seq("doc_id"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("tc")))
    val carryNulls = cs.map { case (_, a) =>
      lit(null).cast(b.schema(a).dataType).as(a)
    }
    val matchedParts = atc.join(lpSide, Seq("g"))
      .select(col("doc_id") +: carryNulls :+ col("lang") :+
        (col("tc") * col("dlp_micro")).as("__part"): _*)
    val baseParts = b.drop("__text")
      .join(atc.groupBy(col("doc_id")).agg(sum(col("tc")).as("__t")),
        Seq("doc_id"), "left")
      .crossJoin(broadcast(
        cl.select(col("lang"), col("prior_micro"), col("floor_micro"))))
      .select(col("doc_id") +: cs.map(p => col(p._2)) :+ col("lang") :+
        (col("prior_micro") +
          coalesce(col("__t"), lit(0L)) * col("floor_micro"))
          .as("__part"): _*)
    matchedParts.unionByName(baseParts)
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("__part")).as("score"),
        cs.map { case (_, a) =>
          first(col(a), ignoreNulls = true).as(a)
        }: _*)
      .select(col("doc_id") +: cs.map(p => col(p._2)) :+ col("lang") :+
        col("score"): _*)
  }

  /** Per-doc decision MARGIN over a model: the top class and its lead
    * over the runner-up in integer micro-nats —
    * (idCol, pred_lang, margin_micros). The margin is the selection
    * signal the classifier-based quality filter thresholds (the GPT-3
    * recipe scores crawl docs with a curated-vs-crawl classifier and
    * keeps by score, Brown et al. 2020 App. A; fastText ships the same
    * posterior gap). Same grid as [[nbcClassify]] closed with a rank ≤ 2
    * window (doc-partitioned, ≤|langs| rows per frame) and a per-doc
    * integer pivot; single-class models emit margin 0. */
  def nbcMargins(batch: DataFrame, textCol: String, idCol: String,
      m: NbcModel): DataFrame = {
    val grid = scoreGrid(batch, textCol, idCol, m, Nil)
    grid.withColumn("rk", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("lang").asc)))
      .filter(col("rk") <= 2)
      .groupBy(col("doc_id"))
      .agg(min(when(col("rk") === 1, col("lang"))).as("pred_lang"),
        (max(when(col("rk") === 1, col("score")))
          - coalesce(max(when(col("rk") === 2, col("score"))),
            max(when(col("rk") === 1, col("score")))))
          .cast("long").as("margin_micros"))
      .select(col("doc_id").as(idCol), col("pred_lang"),
        col("margin_micros"))
  }

  /** [[nbcClassify]] carrying the true label through — the evaluation
    * shape (idCol, labelCol, pred_lang, score_micros). */
  def nbcScore(batch: DataFrame, textCol: String, idCol: String,
      labelCol: String, m: NbcModel): DataFrame =
    nbcClassify(batch, textCol, idCol, m, carry = Seq(labelCol))
      .select(col(idCol), col(labelCol), col("pred_lang"),
        col("score_micros"))

  /** Margin-threshold selection gate: keep the rows of `df` whose
    * predicted class IS `keepClass` with a decision margin of at least
    * `minMarginMicros` — the GPT-3 quality filter as a declarable cut
    * (the recipe keeps crawl docs the curated-vs-crawl classifier
    * scores CONFIDENTLY curated; a bare argmax keeps half the noise
    * floor). One [[nbcMargins]] pass + a left-semi join back on the
    * id. */
  def nbcMarginGate(df: DataFrame, textCol: String, idCol: String,
      m: NbcModel, keepClass: String,
      minMarginMicros: Long): DataFrame =
    df.join(
      nbcMargins(df, textCol, idCol, m)
        .filter(col("pred_lang") === keepClass &&
          col("margin_micros") >= minMarginMicros)
        .select(col(idCol)),
      Seq(idCol), "left_semi")

  /** Frozen-classifier gate: keep the rows of `df` whose PREDICTED
    * class is in `keep` — the production CCNet shape (a pretrained
    * fastText-style lang-id model routes every crawl doc before the LM
    * gate; Wenzek et al. 2020). One classify pass + a left-semi join
    * back on the id. */
  def nbcGate(df: DataFrame, textCol: String, idCol: String,
      m: NbcModel, keep: Seq[String]): DataFrame = {
    require(keep.nonEmpty, "lang_gate keep-list must be non-empty")
    df.join(
      nbcClassify(df, textCol, idCol, m)
        .filter(col("pred_lang").isin(keep: _*))
        .select(col(idCol)),
      Seq(idCol), "left_semi")
  }

  /** Executor-resident form of the trained classifier — the
    * ship-the-fastText-binary-to-every-worker analog (same rationale as
    * [[TextAnalysis]]'s Kn3FrozenModel: a STREAMING gate must classify
    * each arriving document locally; per-doc classification is an
    * aggregate over the doc's grams, which an append-mode stream cannot
    * express as joins + groupBy). The collect is MODEL-sized
    * (vocab×|langs| quantized deltas + |langs| class rows), never
    * corpus-sized. `classes` is kept lang-ascending so the local argmax
    * walks the tie-break order directly. */
  final case class NbcFrozenModel(
      dlp: Map[(String, String), Long],
      classes: Seq[(String, Long, Long)]) extends Serializable

  /** Freeze a model into lookup maps, quantizing each (lang, gram)
    * TYPE's ln ONCE with the same HALF_UP micro rounding the
    * distributed scorer uses — bit-identical scores by construction
    * (pinned as a property in NaiveBayesSpec). */
  def nbcFreeze(m: NbcModel): NbcFrozenModel = {
    val Seq(v, d) = m.corpus.collect()(0).toSeq.map(_.toString.toLong)
    val classes = m.classes.collect().map { r =>
      val (lang, nDocs, nTok) =
        (r.getString(0), r.getLong(1), r.getLong(2))
      (lang, qMicro(math.log(nDocs.toDouble / d.toDouble)),
        (nTok, qMicro(math.log(1.0 / (nTok + v).toDouble))))
    }
    val byLang = classes.map { case (l, _, (nt, fl)) => l -> (nt, fl) }
      .toMap
    val dlp = m.grams.collect().map { r =>
      val (lang, g, c) = (r.getString(0), r.getString(1), r.getLong(2))
      // A gram row whose class is absent from `classes` means the model
      // tables are mutually inconsistent (e.g. maintained counts drifted
      // — doc count retracted to zero with gram residue left behind).
      // The distributed scorer would silently drop such rows at its
      // classes join; fail loudly here instead of a bare key miss so the
      // two paths never diverge silently on the same broken model.
      val (nt, fl) = byLang.getOrElse(lang, throw new
        IllegalArgumentException(
          s"nbcFreeze: grams table references class '$lang' absent " +
          s"from the classes table (inconsistent model artifact)"))
      (lang, g) ->
        (qMicro(math.log((c + 1).toDouble / (nt + v).toDouble)) - fl)
    }.toMap
    NbcFrozenModel(dlp,
      classes.map { case (l, pr, (_, fl)) => (l, pr, fl) }
        .sortBy(_._1).toSeq)
  }

  /** Spark `round()` semantics: HALF_UP — half away from zero, where
    * `math.round`'s floor(x+0.5) disagrees on negative ties. */
  private def qMicro(v: Double): Long = java.math.BigDecimal
    .valueOf(v * 1000000.0)
    .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** Single-document local classifier over a frozen model —
    * BIT-IDENTICAL to [[nbcClassify]]'s distributed result: same
    * lower-cased char trigrams (Java-char substring — the family's
    * ASCII caveat applies), same quantized integers, same
    * (score DESC, lang ASC) argmax. Null/short text classifies on the
    * prior alone, exactly like the distributed path. */
  def nbcClassifyLocal(text: String,
      m: NbcFrozenModel): (String, Long) =
    localTop2(text, m) match { case (top, _) => top }

  /** Single-document local MARGIN — bit-identical to [[nbcMargins]]:
    * (top class, its lead over the runner-up in micro-nats; 0 for a
    * single-class model). */
  def nbcMarginLocal(text: String,
      m: NbcFrozenModel): (String, Long) =
    localTop2(text, m) match {
      case ((top, s1), second) =>
        (top, second.map(s1 - _._2).getOrElse(0L))
    }

  /** The shared lang-ascending best/second walk (the argmax tie-break
    * is (score DESC, lang ASC), so strictly-greater replacement over
    * the sorted class list reproduces it exactly). */
  private def localTop2(text: String, m: NbcFrozenModel)
      : ((String, Long), Option[(String, Long)]) = {
    require(m.classes.nonEmpty, "frozen model has no classes")
    val tx = if (text == null) ""
      else text.toLowerCase(java.util.Locale.ROOT)
    val n = math.max(tx.length - 2, 0)
    var best: (String, Long) = null
    var second: (String, Long) = null
    m.classes.foreach { case (lang, prior, floor) =>
      var s = prior + n.toLong * floor
      var i = 0
      while (i < n) {
        s += m.dlp.getOrElse((lang, tx.substring(i, i + 3)), 0L)
        i += 1
      }
      if (best == null || s > best._2) {
        second = best; best = (lang, s)
      } else if (second == null || s > second._2) {
        second = (lang, s)
      }
    }
    (best, Option(second))
  }

  private val NbcTableNames = Seq("grams", "classes", "corpus")

  /** Train and publish a model VERSION through the versioned registry —
    * the three tables land in one immutable version dir, promoted with a
    * single manifest swap (no torn grams-vN+1/classes-vN mix under
    * concurrent refresh). Returns the promoted version. */
  def nbcPublishModel(train: DataFrame, textCol: String,
      labelCol: String, reg: graft.state.ModelRegistry,
      model: String): Long = {
    val m = nbcTrain(train, textCol, labelCol)
    reg.publish(model,
      NbcTableNames.zip(Seq(m.grams, m.classes, m.corpus)))
  }

  /** Read a PINNED model version — all tables from the same immutable
    * version dir; `pin.version` is the scorer's model_version
    * provenance. */
  def nbcFromRegistry(pin: graft.state.ModelRegistry#Pinned): NbcModel = {
    val Seq(grams, classes, corpus) = NbcTableNames.map(pin.table)
    NbcModel(grams, classes, corpus)
  }
}
