package graft

object Bench {

  /** Fixed single-thread CPU spin (~2-4 ms nominal): xorshift64* over a
    * constant iteration count, timed by wall clock. It runs BETWEEN
    * queries, when the session is idle, so its wall time inflates ONLY
    * when the HOST deschedules the thread — the single-thread-stall
    * starvation signature documented in BASELINE.md since round 5,
    * which corrupted the round-14 driver gate artifact 16×. Returning
    * the mixed state defeats dead-code elimination. */
  private def cpuProbeNanos(): (Long, Long) = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 2000000) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      x *= 0x2545F4914F6CDD1DL
      i += 1
    }
    (System.nanoTime() - t0, x)
  }

  /** Solo-warm per-query floors (seconds) recorded from a clean solo
    * run at the driver's gate scale — `tools/bench_floor.tsv`, lines of
    * `name<TAB>seconds`, plus the special `__probe_nominal_ms` row: the
    * probe's healthy duration on this machine. The nominal is what
    * catches UNIFORM starvation — every probe of a uniformly-contended
    * run inflates together, so the run's own minimum stays 1.0x and
    * only an absolute reference exposes it. Query floors apply only at
    * the recorded scale (sf0.1), matched on the fixture dir's BASENAME
    * (a trailing slash must not disable them, an unrelated `foo-sf0.1`
    * must not enable them); the nominal is scale-independent. Absent
    * file disables the floor checks, never the within-run probe
    * check. */
  private def isGateScale(sfDir: String): Boolean =
    new java.io.File(sfDir).getName == "sf0.1"

  private def loadFloors(sfDir: String): (Map[String, Double], Option[Double]) = {
    val f = new java.io.File("tools/bench_floor.tsv")
    if (!f.isFile) return (Map.empty, None)
    val src = scala.io.Source.fromFile(f)
    val all = try src.getLines().flatMap { line =>
      line.split('\t') match {
        case Array(n, s) => scala.util.Try(n -> s.toDouble).toOption
        case _ => None
      }
    }.toMap
    finally src.close()
    val nominal = all.get("__probe_nominal_ms")
    (if (isGateScale(sfDir)) all - "__probe_nominal_ms"
     else Map.empty, nominal)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // shared builder: shuffle partitions derived from the fixture's
    // input bytes (floored at the core count) — the same sizing Verify
    // runs, so bench numbers carry the engine's real shape
    val spark = GraftSession.build(sfDir, cpus.toInt)
    // per-slot profile (planning, jobs, stages, tasks, shuffle, spill,
    // GC, JIT), attributed by job tag — the "profile" map below
    val profile = Profile.install(spark)
    FixtureProbe.check(spark, sfDir) // names drifted columns up front
    // Warm the session (job machinery, codegen, file index) so the first
    // timed query doesn't absorb startup cost. Building every query's
    // DataFrame eagerly resolves each table's file listing + parquet footer
    // schema ONCE into SparkEntry's plan cache — the 65 queries would
    // otherwise each re-pay ~0.1-0.2 s of identical driver-side metadata
    // work inside the timed loop (measurement overhead, not query cost).
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // Deterministic run order: Scala Map hash order reshuffles whenever the
    // query set changes, confounding per-query cross-round comparisons (the
    // protocol BASELINE.md prescribes). Sorted-by-name is stable under
    // additions.
    // optional arg: comma-separated query subset (dev / scale-rung runs;
    // the driver always invokes the no-arg full battery)
    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args(0).split(",").toSet) else None
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Memo-build accounting (round-17, VERDICT r16 task 2): in the full
    // battery the warm loop runs PLANNING-ONLY — a query whose family
    // memo is unbuilt raises MemoDeferred and skips its warm analysis
    // (its input tables are shared and resolve through the other
    // queries' warm passes) — and every cross-query memoized derivation
    // is then built INSIDE the timed region as its own `__memo:<name>`
    // slot, before the query loop. Per-query slots keep their pre-r17
    // meaning (consumers read the built memo, exactly as when the warm
    // loop built it), but the shared-derivation cost is now a named,
    // probe-bracketed, floor-ratcheted row in the artifact instead of
    // uncharged warm-phase work. Subset runs (dev / scale rungs) keep
    // the old warm-builds behavior so their slot numbers stay
    // comparable to prior subset receipts.
    val fullBattery = only.isEmpty
    if (fullBattery) SparkEntry.planningOnly = true
    ordered.foreach { case (name, fn) =>
      try fn(spark, sfDir).schema
      catch {
        case _: SparkEntry.MemoDeferred => () // built in its __memo slot
        case e: Throwable =>
          System.err.println(s"[bench] $name failed to plan: ${e.getMessage}")
      }
    }
    if (fullBattery) SparkEntry.planningOnly = false
    // Timed slots: memo builds first (dependency order), then the
    // queries (sorted). Each memo thunk invokes the family accessor —
    // exactly the eager work the warm phase used to do. A query slot
    // returns its row count for the profile; a memo slot has none.
    val slots: Seq[(String, () => Option[Long])] =
      (if (fullBattery) SparkEntry.memoBuilders.map { case (n, b) =>
        (s"__memo:$n", () => { b(spark, sfDir); None })
      } else Seq.empty) ++
        ordered.map { case (n, fn) =>
          (n, () => Some(fn(spark, sfDir).count()))
        }
    // JIT the probe before any reading matters
    (0 until 20).foreach(_ => cpuProbeNanos())
    // A failing query must fail the bench LOUDLY: it contributes its time
    // like any other query, is listed by name, and forces a nonzero exit —
    // never a near-zero "improvement".
    var failed = List.empty[String]
    // probes(i) brackets query i as its pre-probe and query i-1 as its
    // post-probe; one extra probe after the loop closes the last slot
    val probes = new Array[Long](slots.size + 1)
    probes(0) = cpuProbeNanos()._1
    val results = slots.zipWithIndex.map { case ((name, run), i) =>
      val t0 = System.nanoTime()
      try profile.slot(name)(run()) catch {
        case e: Throwable =>
          failed ::= name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      probes(i + 1) = cpuProbeNanos()._1
      name -> dt
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // drain once, after the loop, so every slot's events are counted
    profile.drain()
    val profiled = results.map { case (k, _) => k -> profile.record(k) }
    val profileJson = profiled.map { case (k, r) => s"\"" + k + "\":" + r.json }
      .mkString("{", ",", "}")
    val records = profiled.map(_._2)
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val failedJson = failed.reverse.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Locale-pinned formatting: the f interpolator uses the JVM default
    // locale, which under a comma-decimal locale (de_DE) emits invalid
    // JSON ("1,234"). ROOT keeps the dot everywhere.
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // ---- host-stall forensics (round-15, VERDICT task 1) ------------
    // The artifact self-diagnoses environment corruption WITHOUT
    // changing what is timed: a slot is suspect when the idle-host CPU
    // probe bracketing it ran >= 4x the run's own fastest probe (the
    // thread was descheduled around the measurement), or when its time
    // exceeds 4x its recorded solo-warm floor. A starved run therefore
    // NAMES its corrupted slots instead of reading as a regression.
    val (floors, probeNominalMs) = loadFloors(sfDir)
    // stall reference = the SMALLER of the run's own fastest probe
    // (catches intermittent stalls with no floor file) and the recorded
    // machine nominal (catches uniform contention, where every probe of
    // the run inflates together)
    val runMinNs = if (probes.nonEmpty) probes.min.toDouble else 1.0
    val floorNs = probeNominalMs match {
      case Some(ms) => math.min(runMinNs, ms * 1e6)
      case None => runMinNs
    }
    val suspects = results.zipWithIndex.flatMap { case ((name, sec), i) =>
      val stallX = math.max(probes(i), probes(i + 1)) / floorNs
      val floorX = floors.get(name).filter(_ > 0).map(sec / _)
      val probeSuspect = stallX >= 4.0 && sec >= 0.5
      val floorSuspect = floorX.exists(_ >= 4.0) && sec >= 1.0
      if (probeSuspect || floorSuspect)
        Some(s"""\"$name\":{\"sec\":${f3(sec)},\"stall_x\":${f3(stallX)}""" +
          floorX.map(x => s""",\"floor_x\":${f3(x)}""").getOrElse("") + "}")
      else None
    }
    val stallMax = if (probes.isEmpty) 1.0 else probes.max / floorNs
    val forensics =
      s"""{"probe_floor_ms":${f3(floorNs / 1e6)},""" +
        s""""probe_max_x":${f3(stallMax)},""" +
        s""""floor_ref":${if (floors.isEmpty && probeNominalMs.isEmpty) "null"
          else "\"tools/bench_floor.tsv\""},""" +
        s""""suspect_slots":${suspects.mkString("{", ",", "}")}}"""
    // memo_sec = the Σ of the __memo:* build slots — subtract it from
    // `value` to compare against pre-r17 totals, whose warm phase ran
    // the same builds uncharged (OPTIMIZATION_r17.md "Memo accounting").
    val memoSec = results.filter(_._1.startsWith("__memo:")).map(_._2).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","memo_sec":${f3(memoSec)},"queries":$qs,"profile":$profileJson,"failed":$failedJson,"forensics":$forensics,"sf":"$sfDir"}"""
    println(line)
    // The per-query line is one stdout-tail truncation away from being
    // lost to the driver's archiving (it cost round 16 its PERF table) —
    // persist it to a file as well (round-17, VERDICT r16 task 8).
    try {
      val out = new java.io.PrintWriter("tools/bench_last.json", "UTF-8")
      try out.println(line) finally out.close()
    } catch { case e: java.io.IOException =>
      System.err.println(s"[bench] bench_last.json not written: $e")
    }
    // The driver archives only the tail of stdout, which truncates the
    // per-query line above once the battery is large. Emit a compact
    // self-sufficient summary AFTER it so the headline numbers (total,
    // count, failures, worst offenders, forensics) always survive
    // truncation.
    val top5 = results.sortBy(-_._2).take(5)
      .map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val top5Jobs = profiled.sortBy(-_._2.jobs).take(5)
      .map { case (k, r) => s"\"" + k + "\":" + r.jobs }
      .mkString("{", ",", "}")
    val profileSummary =
      s""""jobs":${records.map(_.jobs).sum},""" +
        s""""tasks":${records.map(_.tasks).sum},""" +
        s""""shuffle_write_bytes":${records.map(_.shuffleWriteBytes).sum},""" +
        s""""unattributed_jobs":${profile.unattributedJobs},""" +
        s""""top5_jobs":$top5Jobs"""
    println(s"""{"metric":"summary","total":${f3(total)},"memo_sec":${f3(memoSec)},"n":${results.size},"failed":$failedJson,"top5":$top5,$profileSummary,"forensics":$forensics,"sf":"$sfDir"}""")
    // ---- floor ratchet (round-16, VERDICT task 7) --------------------
    // At the gate scale, emit the NEXT floor file as a candidate: per
    // query the min of this run's time and the existing floor (so floors
    // only ratchet DOWN — a stalled run can't raise them), existing
    // entries for queries outside this run carried over (subset runs
    // can't erase the battery's floors), and the probe nominal likewise
    // min'd against this run's fastest probe. Closing a round becomes
    // `cp tools/bench_floor.candidate.tsv tools/bench_floor.tsv` after a
    // clean solo run, instead of a hand-run script — and a stale floor
    // (from a since-optimized query) self-heals on the next clean copy.
    if (isGateScale(sfDir) && failed.isEmpty) {
      val prior = {
        val f = new java.io.File("tools/bench_floor.tsv")
        if (!f.isFile) Map.empty[String, Double]
        else {
          val src = scala.io.Source.fromFile(f)
          try src.getLines().flatMap(_.split('\t') match {
            case Array(n, s) => scala.util.Try(n -> s.toDouble).toOption
            case _ => None
          }).toMap finally src.close()
        }
      }
      val runFloors = results.toMap
      val probeMinMs = probes.min / 1e6
      val merged = (prior - "__probe_nominal_ms") ++ runFloors.map {
        case (n, sec) => n -> math.min(sec,
          prior.getOrElse(n, Double.MaxValue))
      } + ("__probe_nominal_ms" -> math.min(probeMinMs,
        prior.getOrElse("__probe_nominal_ms", Double.MaxValue)))
      val out = new java.io.PrintWriter(
        "tools/bench_floor.candidate.tsv", "UTF-8")
      try merged.toSeq.sortBy(_._1).foreach { case (n, v) =>
        out.println(s"$n\t${f3(v)}")
      } finally out.close()
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries failed: " +
        failed.reverse.mkString(", "))
      sys.exit(1)
    }
  }
}
