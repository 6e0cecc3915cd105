package graft
import org.json4s.{JArray, JDouble, JInt, JNothing, JNull, JObject, JString, JValue}
import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

object Bench {

  /** (name, (cold, warm, warm-run gc ms)) — None = the run threw. */
  private[graft] type Res = (String, (Option[Double], Option[Double], Long))

  /** A drop-ledger row: (name, engagement count, last detail). */
  private[graft] type LedgerRow = (String, Long, String)

  def main(args: Array[String]): Unit = {
    val fork = Harness.positive(sys.env.get("SPARK_GRAFT_BENCH_FORK"), 0)
    // SPARK_GRAFT_BENCH_FORK=K batches the bench across FRESH JVMs of
    // K queries each — the structural fix for position contamination:
    // the r10/r11 measurements showed per-query times inflating 2-4x
    // with session position (ambient JVM state — code cache, metaspace,
    // app-status stores — that per-query hygiene cannot reclaim), and a
    // default-vs-seeded order comparison put 59/219 queries past a
    // 1.3x ratio in single-session mode. A child never runs more than
    // K-1 queries before any measurement. Children run with FORK
    // cleared from their environment, so they take the inline path;
    // SPARK_GRAFT_ONLY composes (the parent subsets, then batches).
    if (fork > 0) runForked(fork)
    else runInline()
  }

  /** The SPARK_GRAFT_ONLY subset in registration order, or shuffled
    * deterministically by SPARK_GRAFT_BENCH_SEED=N: re-running with
    * different seeds separates operator regressions from position
    * artifacts. Unset = stable order, comparable across rounds. Fork
    * children get the order through SPARK_GRAFT_ONLY, without the seed. */
  private def queryNames(): Seq[String] = {
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => Harness.only.forall(_.contains(n)))
    sys.env.get("SPARK_GRAFT_BENCH_SEED").fold(names) { seed =>
      new scala.util.Random(scala.util.Try(seed.trim.toLong).getOrElse(0L)).shuffle(names)
    }
  }

  // ------------------------------------------------------------- inline

  private def runInline(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // a subset run (fork children, scripts/bench_only.sh) skips the
    // calibration probe — the forked parent measured it once for the
    // committed artifact; a full run pays it once here (before the
    // main session exists: the probe owns its own short-lived session)
    val calib = if (Harness.only.isDefined) None else Some(calibrationProbe())
    val spark = Harness.session(hygiene = true)
    var failed = List.empty[String]
    // a warmup failure is a real regression, not ignorable noise
    try Harness.warmup(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println("[bench] warmup FAILED")
      e.printStackTrace()
      failed ::= "warmup"
    }
    val warmRuns = Harness.warmRuns
    // Each query runs 1 cold + N warm times. The cold run carries the
    // one-time whole-stage-codegen/Janino compile + classload cost
    // (~0.3-2.5s per novel plan — measured to dwarf actual sf0.1
    // execution for fast queries); warm = MIN over N runs is the
    // steady-state number that predicts 100 TB throughput where compile
    // time amortizes to zero (min, not mean: any GC/cleanup contamination
    // is strictly additive noise, so the min is the cleanest observation).
    val results: Seq[Res] = queryNames().map { name =>
      val fn = SparkEntry.queries(name)
      def once(): (Option[Double], Long) =
        try {
          val (sec, gc) = Harness.noopRun(spark)(fn(spark, sfDir))
          (Some(sec), gc)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED:")
          e.printStackTrace()
          (None, 0L)
        }
      val (cold, coldGc) = once()
      val warms = if (cold.isDefined) Seq.fill(warmRuns)(once()) else Seq.empty
      val warm = if (warms.nonEmpty && warms.forall(_._1.isDefined)) Some(warms.flatMap(_._1).min) else None
      // gc_ms of the MIN warm run — contamination indicator for the
      // number actually reported
      val warmGc = if (warm.isDefined) warms.minBy(_._1.get)._2 else 0L
      if (warm.isEmpty) failed ::= name
      else System.err.println(f"[bench] $name%-28s cold ${cold.get}%8.2fs  warm ${warm.get}%8.2fs  (warm gc ${warmGc}ms, cold gc ${coldGc}ms)")
      // stdout-parseable per-query row (r16 verdict item 2): the driver's
      // stdout capture is a bounded TAIL, so one compact line per query
      // as it finishes means ANY tail length carries the most recent
      // queries, and a full capture carries all of them
      println(Harness.json(queryLine(name, cold, warm, warmGc)))
      name -> ((cold, warm, warmGc))
    }
    writeArtifact(artifact(results, failed.reverse, graft.ops.Ledger.summary(),
      sfDir, warmRuns, forked = None, calibration = calib))
    spark.stop()
    // the one-JSON-line summary contract: printed AFTER spark.stop() so
    // no shutdown logging can land between it and process exit — with
    // the build's StdoutOutput strategy this line reaches a tail-capture
    // of the log verbatim as the final line of output
    println(Harness.json(summaryLine(results, failed.reverse, sfDir, warmRuns)))
    System.out.flush()
    // a query that throws must fail the bench loudly, never report a
    // healthy-looking near-zero time
    if (failed.nonEmpty) sys.exit(1)
  }

  // ------------------------------------------------------------- forked

  /** Quiet-machine guard for the COMMITTED-pair protocol (r13 verdict
    * item 7): r12's +9.1% pair drift cost a round of doubt and
    * root-caused to ambient machine load, so the forked bench now
    * refuses to commit an artifact measured on a busy machine — the
    * same self-consistency discipline as Scale's gate. The 1-min load
    * average is sampled BEFORE the run (fail fast: don't spend 20
    * minutes measuring junk); any sample above SPARK_GRAFT_LOAD_MAX (absolute
    * 1-min loadavg, default 4.0 — near-idle on this 32-core class of
    * machine given the bench itself is not yet running; 0 disables)
    * aborts the run with rc 3 before any measurement. Mid-run samples
    * would be self-contaminated (loadavg cannot separate our own
    * just-exited fork batches from intruders), so the guard is a
    * pre-flight check; the sampled ambient load is recorded in the
    * artifact (`ambient_load`) so a reviewer can see the conditions
    * the pair was measured under. */
  private def loadMax: Double = scala.util.Try(
    sys.env.getOrElse("SPARK_GRAFT_LOAD_MAX", "4.0").trim.toDouble)
    .getOrElse(4.0)

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Cross-day CALIBRATION PROBE (r15 verdict item 5): two fixed
    * deterministic workloads measured immediately before the bench —
    * a single-thread scalar loop (xorshift64* mix, no allocation:
    * pins raw per-core speed) and a canonical tiny Spark job at
    * fixed parallelism (local[8], 8 shuffle partitions over
    * spark.range: pins the JVM + shuffle machinery floor). Cross-day
    * pair comparisons divide the per-query ratio by the probe ratio,
    * turning machine-day drift (the r12/r15 1.1-1.2x uniform shifts)
    * from argument-by-precedent into arithmetic — BASELINE.md
    * records the protocol. ~4s per run, once per artifact (children
    * skip it). Returns (scalar_s, spark_s). */
  private def calibrationProbe(): (Double, Double) = {
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    val t0 = System.nanoTime()
    var i = 0L
    while (i < 1500000000L) { // ~1-2s single-thread
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      acc += x * 0x2545F4914F6CDD1DL
      i += 1
    }
    val scalarS = (System.nanoTime() - t0) / 1e9
    if (acc == 42L) System.err.println("[bench] calibration sentinel") // defeat DCE
    val spark = Harness.session(cpus = 8)
    // min of two runs: the first carries the one-time codegen compile
    // (variable), the min is the steady-state machinery floor
    val sparkS = (0 until 2).map { _ =>
      val t1 = System.nanoTime()
      Harness.noop(spark.range(0, 20000000L, 1, 8)
        .selectExpr("id % 97 AS k", "id AS v")
        .groupBy("k").count().orderBy("k"))
      (System.nanoTime() - t1) / 1e9
    }.min
    spark.stop()
    System.err.println(f"[bench] calibration: scalar $scalarS%.2fs  spark $sparkS%.2fs")
    (scalarS, sparkS)
  }

  /** Orchestrate the bench as fresh-JVM children of `k` queries each:
    * same classpath and JVM flags as this process (Java 17 needs the
    * --add-opens set), SPARK_GRAFT_ONLY carries each batch, each child
    * reports through its JSON artifact (SPARK_GRAFT_BENCH_OUT), child
    * stdout is swallowed (the parent owns the one-JSON-line contract;
    * child stderr — the per-query progress — inherits). */
  private def runForked(k: Int): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmRuns = Harness.warmRuns
    val ambient = loadAvg()
    val threshold = loadMax
    if (threshold > 0 && ambient > threshold) {
      System.err.println(f"[bench] REFUSING to start committed-pair run: " +
        f"ambient 1-min load $ambient%.1f > ${threshold}%.1f " +
        "(SPARK_GRAFT_LOAD_MAX; quiet the machine or raise/disable)")
      sys.exit(3)
    }
    val calib = calibrationProbe()
    val names = queryNames()
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cp = System.getProperty("java.class.path")
    val batches = names.grouped(k).toSeq
    val children = for ((batch, i) <- batches.zipWithIndex) yield {
      val log = File.createTempFile(s"graft_bench_$i", ".log")
      val out = new File(log.getPath + ".json")
      val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")).asJava
      val pb = new ProcessBuilder(cmd)
      val env = pb.environment()
      env.put("SPARK_GRAFT_ONLY", batch.mkString(","))
      env.put("SPARK_GRAFT_BENCH_OUT", out.getPath)
      env.remove("SPARK_GRAFT_BENCH_FORK")
      env.remove("SPARK_GRAFT_BENCH_SEED") // order already applied here
      pb.redirectOutput(log) // child's own JSON lines must not reach stdout
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      System.err.println(s"[bench] fork ${i + 1}/${batches.size}: ${batch.size} queries")
      val rc = pb.start().waitFor()
      // a child that died before writing its artifact (OOM, JVM crash)
      // reports every query of its batch as an error, never silently
      val art = scala.util.Try(Harness.parseJson(Files.readString(out.toPath)))
        .getOrElse(JNothing)
      val rows = childResults(batch, art)
      rows.foreach { case (n, (c, w, g)) => println(Harness.json(queryLine(n, c, w, g))) }
      if (rc == 0) { log.delete(); out.delete() }
      else System.err.println(s"[bench] fork ${i + 1} exited rc=$rc; kept $log and $out")
      (rows, art)
    }
    val results = children.flatMap(_._1)
    val failed = results.collect { case (n, (_, None, _)) => n }
    // post-run ambient sample: the pre-flight guard cannot see an
    // intruder arriving MID-run (the §17.7 drift rerun measured 1.11×
    // uniform with a clean pre-flight), so the artifact records the
    // loadavg bracket [start, end]. Not a gate — end-of-run loadavg
    // includes our own just-exited fork batches, so it is recorded
    // for attribution, never compared against the threshold.
    writeArtifact(artifact(results, failed, mergedLedger(children.map(_._2)),
      sfDir, warmRuns, forked = Some(k), ambientLoad = Some(ambient),
      ambientLoadEnd = Some(loadAvg()), calibration = Some(calib)))
    println(Harness.json(summaryLine(results, failed, sfDir, warmRuns)))
    System.out.flush()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** One fork child's rows, in batch order, read back from its
    * artifact; a query the artifact does not report is an error. */
  private[graft] def childResults(batch: Seq[String], art: JValue): Seq[Res] = {
    def sec(section: String, name: String) =
      Some(art \ section \ name).collect { case JDouble(v) => v }
    batch.map { name =>
      val gc = Some(art \ "gc_ms" \ name).collect { case JInt(v) => v.toLong }
      name -> ((sec("cold_queries", name), sec("queries", name), gc.getOrElse(0L)))
    }
  }

  /** The fork children's ledgers merged by name: counts summed, the
    * last detail taken from the latest child that reported the name. */
  private[graft] def mergedLedger(arts: Seq[JValue]): Seq[LedgerRow] = {
    val merged = scala.collection.mutable.LinkedHashMap[String, (Long, String)]()
    for {
      art <- arts
      row <- (art \ "ledger").children
      (JString(name), JInt(count), JString(last)) <-
        Seq((row \ "name", row \ "count", row \ "last"))
    } merged(name) = (merged.get(name).fold(0L)(_._1) + count.toLong, last)
    merged.map { case (n, (c, d)) => (n, c, d) }.toSeq
  }

  // --------------------------------------------------------------- emit

  private def summaryLine(results: Seq[Res], failed: Seq[String],
      sfDir: String, warmRuns: Int): JObject = {
    val warmTotal = results.flatMap(_._2._2).sum
    JObject("metric" -> JString("summary"), "value" -> JDouble(warmTotal),
      "warm_total" -> JDouble(warmTotal), "cold_total" -> JDouble(results.flatMap(_._2._1).sum),
      "unit" -> JString("sec"), "n_queries" -> JInt(results.size), "warm_runs" -> JInt(warmRuns),
      "errors" -> JArray(failed.map(JString(_)).toList), "sf" -> JString(sfDir))
  }

  /** Compact single-query stdout row — 3-decimal seconds keep 264 of
    * these lines cheap while preserving millisecond resolution. */
  private[graft] def queryLine(name: String, cold: Option[Double],
      warm: Option[Double], gcMs: Long): JObject = {
    def n(o: Option[Double]) = o.fold[JValue](JString("error"))(Harness.num(_, 3))
    JObject("metric" -> JString("query"), "name" -> JString(name),
      "cold" -> n(cold), "warm" -> n(warm), "gc_ms" -> JInt(gcMs))
  }

  /** The full run record: the summary, the run conditions, the order
    * the queries ran in (seeded runs shuffle it; position effects are
    * measurable only if the artifact records position), full-precision
    * warm/cold seconds, gc ms and the drop ledger. */
  private[graft] def artifact(results: Seq[Res], failed: Seq[String],
      ledger: Seq[LedgerRow], sfDir: String, warmRuns: Int,
      forked: Option[Int], ambientLoad: Option[Double] = None,
      ambientLoadEnd: Option[Double] = None,
      calibration: Option[(Double, Double)] = None): JObject = {
    def secs(sel: ((Option[Double], Option[Double], Long)) => Option[Double]) =
      JObject(results.map { case (k, t) =>
        k -> sel(t).fold[JValue](JString("error"))(JDouble(_)) }.toList)
    def load(l: Option[Double]) = l.filter(_ >= 0).fold[JValue](JNull)(Harness.num(_, 2))
    JObject("summary" -> summaryLine(results, failed, sfDir, warmRuns),
      "seed" -> sys.env.get("SPARK_GRAFT_BENCH_SEED").fold[JValue](JNull)(s => JString(s.trim)),
      "fork" -> forked.fold[JValue](JNull)(JInt(_)),
      "ambient_load" -> load(ambientLoad), "ambient_load_end" -> load(ambientLoadEnd),
      "calibration" -> calibration.fold[JValue](JNull) { case (sc, sp) =>
        JObject("scalar_s" -> Harness.num(sc, 2), "spark_s" -> Harness.num(sp, 2)) },
      "order" -> JArray(results.map(r => JString(r._1)).toList),
      "queries" -> secs(_._2), "cold_queries" -> secs(_._1),
      "gc_ms" -> JObject(results.map { case (k, t) => k -> JInt(t._3) }.toList),
      // engaged-cap summary: every df-cap / bucket-cap / scrub / budget
      // engagement across the whole bench, by name with exact counts —
      // the committed artifact records WHAT was bounded, so a capped
      // run can never silently read as a full run
      "ledger" -> Harness.ledgerSummaryJson(ledger))
  }

  /** Writes [[artifact]] to SPARK_GRAFT_BENCH_OUT (default
    * `BENCH_QUERIES.json`): the per-query record the stdout tail cannot
    * hold. Every run writes the requested path — git history protects
    * the committed fork-pair artifacts (restore with `git checkout`
    * after debug runs); the "fork" tag distinguishes the protocols. */
  private def writeArtifact(art: JObject): Unit = {
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_QUERIES.json")
    val p = Paths.get(outPath)
    val existingForked =
      try Files.exists(p) &&
        """"fork"\s*:\s*\d""".r.findFirstIn(Files.readString(p)).isDefined
      catch { case _: Exception => false }
    if (existingForked && art \ "fork" == JNull)
      System.err.println(s"[bench] overwriting fork-tagged $outPath " +
        "with an unforked run (git restores the committed pair)")
    try Files.writeString(p, Harness.json(art) + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: $e")
    }
  }
}
