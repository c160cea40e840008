package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.checks._
import graft.engine.{CacheTracker, Runner}
import graft.queries.Flagship
import graft.sources.Pages
import graft.store.TableIO
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** graft's benchmark: one JVM at local[cpus], one caller thread, closed
  * loop (each run starts when the previous one has finished). Prints a
  * record line (host stamp, sample counts, gate failures) and then the
  * result line whose metrics are the end-to-end figures (untraced run) or
  * the per-layer figures (traced run).
  *
  *   --workload full_suite|incremental  --seed N  --seconds S
  *   --trace 0|1  --cpus N  --work DIR  --build ID  [--pages N]  [--selfcheck]
  *
  * `--build` names the source state the harness was compiled from; output
  * references are kept per build, so a program change starts new ones.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cpus: Int, work: String, build: String, pages: Option[Long], selfcheck: Boolean)

  /** Input size per workload (rows kept after the seed's subset). */
  val DefaultPages: Map[String, Long] = Map(
    "full_suite" -> 100000L, "incremental" -> 48000L)

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    Opts(
      workload = kv.getOrElse("workload", "full_suite"),
      seed = kv.getOrElse("seed", "1").toLong,
      seconds = kv.getOrElse("seconds", "10").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      cpus = kv.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt,
      work = kv.getOrElse("work", ".bench_build/work"),
      build = kv.getOrElse("build", "dev"),
      pages = kv.get("pages").map(_.toLong),
      selfcheck = args.contains("--selfcheck"))
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", Paths.get(o.work, "spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", Paths.get(o.work, "warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(DefaultPages.contains(o.workload), s"unknown workload ${o.workload}")
    val stamp = Host.start(o.cpus)
    val t0 = System.nanoTime()
    val spark = session(o)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val out =
      try {
        val b = new Bench(spark, o, sessionS)
        if (o.selfcheck) b.selfCheck() else if (o.trace) b.traced() else b.untraced()
      } finally spark.stop()
    println(Json.obj(Seq("record" -> Json.Raw(Json.obj(
      Seq("workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace) ++
        stamp.fields ++ out.record)))))
    println(Json.obj(Seq(
      "correct" -> (out.failed == 0 && out.attempted > 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> Json.Raw(Json.obj(out.metrics.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
      })))))
    if (o.selfcheck && out.failed > 0) sys.exit(1)
  }
}

/** One timed operation: a suite run, or one resumable unit call. */
final case class Op(wall: Double, rows: Long, cachedMb: Double, failure: Option[String])

final case class Outcome(attempted: Int, failed: Int,
    metrics: Seq[(String, Double, String)], record: Seq[(String, Any)])

/** The cached, counted input of one run. `ids` are its cached RDDs. */
final case class Input(df: DataFrame, rows: Long, ids: Set[Int], partitions: Int)

final class Bench(spark: SparkSession, o: Main.Opts, sessionS: Double) {
  import Bench._

  private val sc = spark.sparkContext
  private val storage = new Storage(sc)
  private val runId = s"${o.workload}-s${o.seed}-${System.currentTimeMillis()}"
  private val stateBase = Paths.get(o.work, "state", runId).toAbsolutePath
  private val nPages = o.pages.getOrElse(Main.DefaultPages(o.workload))
  private var tracer: Option[Tracer] = None
  private val ops = ArrayBuffer[Op]()
  private val notes = ArrayBuffer[(String, Any)]()

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def sp[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def attempt(op: => Op): Op = {
    val r = try op catch {
      case NonFatal(e) => Op(Double.NaN, 0L, Double.NaN, Some(s"threw ${e.toString.take(300)}"))
    }
    ops += r
    System.err.println(f"[perfbench] op ${ops.size}%3d wall ${r.wall}%8.3f s cached ${r.cachedMb}%8.2f MB " +
      r.failure.fold("ok")("FAILED: " + _))
    r
  }

  // ---------------------------------------------------------------- input

  /** The seed's input: the generator's table, slightly oversized, keeps the
    * rows whose url hashes under the seed into the kept share. Exact
    * duplicates share their url, so they are kept or dropped together. */
  private def generated(units: Boolean): DataFrame = {
    val df = Pages.generate(spark, math.ceil(nPages * 1000.0 / KeepPerMille).toLong, o.cpus * 4)
      .filter(pmod(xxhash64(col("url"), lit(o.seed)), lit(1000L)) < KeepPerMille)
    if (units) df.withColumn(UnitCol, UnitExpr) else df
  }

  /** Set the input up `SetupReps` times (generate, cache, count, fresh
    * state root); returns the last one and the median set-up time. */
  private def setup(units: Boolean): (Input, Double, Seq[Double]) = {
    var last: Option[Input] = None
    val times = (1 to SetupReps).map { _ =>
      last.foreach(_.df.unpersist(blocking = true))
      val before = storage.cachedRddIds
      val t0 = System.nanoTime()
      val in = sp("sources.generate") {
        val df = generated(units).cache()
        val rows = df.count()
        Files.createDirectories(stateBase)
        Input(df, rows, storage.cachedRddIds -- before, df.rdd.getNumPartitions)
      }
      last = Some(in)
      secs(t0)
    }
    (last.get, median(times), times)
  }

  /** Whether the input meets score_stats' declared bounds (missing share,
    * min, max, quantile bounds), from a plain aggregate over the input. */
  private def scoreStatsPass(in: Input): Boolean = {
    val c = Flagship.coreChecks.collectFirst { case c: ColumnStatsCheck => c }.get
    val v = col(c.column).cast("double")
    val qs = c.quantileBounds.map(_._1)
    val r = in.df.agg(count(lit(1)), count(v), min(v), max(v),
      percentile_approx(v, typedLit(qs.toArray), lit(100000))).head()
    val (n, nn) = (r.getLong(0), r.getLong(1))
    val qv = r.getSeq[Double](4)
    c.maxMissingFrac.forall(f => (n - nn).toDouble / n <= f) &&
      c.minAllowed.forall(r.getDouble(2) >= _) && c.maxAllowed.forall(r.getDouble(3) <= _) &&
      c.quantileBounds.zip(qv).forall { case ((_, lo, hi), q) => q >= lo && q <= hi }
  }

  /** Where a gate keeps the first passing figures of this build, seed,
    * input size and core count, so later runs in the checkout are held to
    * them too. */
  private def refFile(name: String): Option[java.nio.file.Path] =
    Some(Paths.get(o.work, "reference", o.build,
      s"${o.workload}-s${o.seed}-p$nPages-c${o.cpus}-$name").toAbsolutePath)

  private def gateFor(in: Input, ids: Seq[String], name: String): Gate =
    Gate.forSuite(ids, scoreStatsPass(in), refFile(name))

  // ------------------------------------------------------------ suite runs

  /** Runner.run + the unified noop write (gate observed on that action). */
  private def suiteOp(in: Input, suite: Runner.Suite, gate: Gate, label: String = "engine",
      corrupt: DataFrame => DataFrame = identity): Op = attempt {
    storage.startWindow(in.ids)
    val obs = new Observation()
    val t0 = System.nanoTime()
    val res = sp(s"$label.build")(Runner.run(in.df, suite))
    sp(s"$label.action")(noop(gate.observe(corrupt(res.unified), obs)))
    val wall = secs(t0)
    val mb = storage.peakMb
    res.release()
    val why = gate.judge(gate.figures(obs))
    storage.awaitOnly(in.ids)
    Op(wall, in.rows, mb, why.headOption)
  }

  /** Closed loop: operations run back to back, the workload's `MinOps` of
    * them and, when `untilSeconds`, more until `--seconds` have passed. The
    * extra ones are gated but not timed (see `runOps`), so how many fit in
    * the window changes no metric. */
  private def closedLoop(op: () => Op, untilSeconds: Boolean): Seq[Op] = {
    val from = ops.size
    val t0 = System.nanoTime()
    while (ops.size - from < MinOps(o.workload) || (untilSeconds && secs(t0) < o.seconds)) op()
    ops.drop(from).toList
  }

  /** The operations run_s is taken over, fixed by position among the first
    * `MinOps`: the warm ones after the cold first one, or the cold one when
    * the workload makes only that. */
  private def runOps(loop: Seq[Op]): Seq[Op] = {
    val fixed = loop.take(MinOps(o.workload))
    (if (fixed.size > 1) fixed.tail else fixed).filter(_.failure.isEmpty)
  }

  private def endToEnd(setupS: Double, loop: Seq[Op]): Seq[(String, Double, String)] = {
    val timed = runOps(loop)
    Seq(
      ("setup_s", setupS, "s"),
      ("first_run_s", loop.headOption.filter(_.failure.isEmpty).map(_.wall).getOrElse(Double.NaN), "s"),
      ("run_s", median(timed.map(_.wall)), "s"),
      ("docs_per_s", median(timed.map(op => op.rows / op.wall)), "docs/s"),
      ("cached_mb", median(timed.map(_.cachedMb)), "MB"))
  }

  private def outcome(loop: Seq[Op], metrics: Seq[(String, Double, String)],
      extra: Seq[(String, Any)]): Outcome = {
    val failed = ops.filter(_.failure.nonEmpty)
    val timed = runOps(loop).map(_.wall)
    Outcome(ops.size, failed.size, metrics,
      Seq("pages" -> nPages, "session_start_s" -> sessionS,
        "failed_frac" -> failed.size.toDouble / math.max(ops.size, 1),
        "samples" -> timed.size, "ops_in_window" -> loop.size, "tail" -> tail(timed),
        "failures" -> failed.flatMap(_.failure).distinct.take(5)) ++ extra ++ notes)
  }

  // ------------------------------------------------------------ incremental

  /** Resumable unit calls into a fresh state root, one committed unit per
    * call. Each call is gated on the manifest (exactly one new entry, one
    * check hash) and on the unit it committed, read back from the store
    * (planted core failures present, figures identical whenever that unit
    * is committed again). After the last unit the call's read-back union
    * of all units is materialized and gated too, and the next cycle starts
    * in a new root. */
  private final class Incremental(in: Input, suite: Runner.Suite, unitRows: Map[String, Long]) {
    private val ids = suite.checks.map(_.id)
    private val unitGates = unitRows.keys.map(u =>
      u -> new Gate(ids, IncrementalMustFail, Set.empty, refFile(s"unit-$u"))).toMap
    private val cycleGate = new Gate(ids, IncrementalMustFail, Set.empty, refFile("cycle"))
    private var cycle = 0
    private var done = 0
    private var cycleWall = 0.0
    val cycles = ArrayBuffer[Double]()
    def root: String = stateBase.resolve(s"c$cycle").toString
    private def restart(): Unit = { cycle += 1; done = 0; cycleWall = 0.0 }

    private def gated(gate: Gate, res: Runner.RunResult): Seq[String] = {
      val obs = new Observation()
      noop(gate.observe(res.unified, obs))
      gate.judge(gate.figures(obs))
    }

    private def manifestFailure(expected: Int): Option[String] = {
      val man = TableIO.readManifest(root)
      if (man.size != expected) Some(s"manifest holds ${man.size} entries, expected $expected")
      else if (man.map(_.checkHash).distinct.size != 1) Some("manifest mixes check hashes")
      else if (man.map(_.unit).distinct.size != expected) Some("manifest repeats a unit")
      else None
    }

    def call(): Op = {
      val r = attempt {
        val before = TableIO.readManifest(root).map(_.unit).toSet
        storage.startWindow(in.ids)
        val t0 = System.nanoTime()
        val res = sp("engine.unit_call")(Runner.runResumable(in.df, suite, root, UnitCol,
          s"$runId-c$cycle", failAfterUnits = 1))
        val wall = secs(t0)
        val mb = storage.peakMb
        storage.awaitOnly(in.ids)
        cycleWall += wall
        done += 1
        val unit = TableIO.readManifest(root).map(_.unit).filterNot(before.contains).headOption
        def readBack(name: String) = TableIO.readUnitData(spark, root, name, unit.map(Set(_))).get
        val failure = manifestFailure(done).orElse(unit match {
          case None => Some("unit call committed no unit")
          case Some(u) => gated(unitGates(u),
            Runner.RunResult(readBack("verdicts"), readBack("violations"))).headOption
        }).orElse(if (done < unitRows.size) None else {
          val t1 = System.nanoTime()
          val why = gated(cycleGate, res)
          cycleWall += secs(t1)
          if (why.isEmpty) cycles += cycleWall
          restart()
          why.headOption
        })
        Op(wall, unit.flatMap(unitRows.get).getOrElse(0L), mb, failure)
      }
      if (r.failure.nonEmpty && done != 0) restart()
      r
    }
  }

  private def unitRowsOf(in: Input): Map[String, Long] =
    in.df.groupBy(UnitCol).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  // --------------------------------------------------------------- untraced

  def untraced(): Outcome = o.workload match {
    case "incremental" =>
      val (in, setupMed, setupTimes) = setup(units = true)
      val inc = new Incremental(in, Flagship.coreSuite(spark), unitRowsOf(in))
      val loop = closedLoop(() => inc.call(), untilSeconds = true)
      deleteState()
      outcome(loop, endToEnd(sessionS + setupMed, loop), Seq(
        "input_rows" -> in.rows, "units" -> unitRowsOf(in).size, "setup_reps_s" -> setupTimes))
    case _ =>
      val (in, setupMed, setupTimes) = setup(units = false)
      val suite = Flagship.suite(spark)
      val gate = gateFor(in, suite.checks.map(_.id), "suite")
      val loop = closedLoop(() => suiteOp(in, suite, gate), untilSeconds = true)
      outcome(loop, endToEnd(sessionS + setupMed, loop), Seq(
        "input_rows" -> in.rows, "setup_reps_s" -> setupTimes))
  }

  private def deleteState(): Unit = {
    val base = stateBase.toFile
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(base)
  }

  // ----------------------------------------------------------------- traced

  /** Per-layer figures: each named public call timed from outside on the
    * cached input, Spark work attributed to its span through job groups. */
  def traced(): Outcome = {
    val t = new Tracer(sc, runId)
    tracer = Some(t)
    val m = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    def put(name: String, v: Double, unit: String): Unit = m(name) = (v, unit)
    val cores = o.cpus.toDouble
    val incremental = o.workload == "incremental"
    var loop = Seq.empty[Op]

    t.span("bench.trace") {
      val (in, _, _) = setup(units = incremental)
      put("sources.generate_s", median(t.named("sources.generate").map(_.seconds)), "s")
      put("sources.cached_input_mb", storage.mbOf(in.ids), "MB")
      def rowsRead(s: Seq[StageAgg]): Double =
        s.filter(_.rddIds.exists(in.ids.contains)).map(_.tasks.toDouble).sum * in.rows / in.partitions
      def shuffleMb(s: Seq[StageAgg]): Double = s.map(_.shuffleWriteBytes).sum / Storage.MB
      def taskS(s: Seq[StageAgg]): Double = s.map(_.runMs).sum / 1000.0

      // the untraced run's timed operations, traced: trace.run_s minus the
      // untraced run_s is the tracing overhead
      val unitRows = if (incremental) unitRowsOf(in) else Map.empty[String, Long]
      val inc = new Incremental(in, Flagship.coreSuite(spark), unitRows)
      val suite = Flagship.suite(spark)
      lazy val gate = gateFor(in, suite.checks.map(_.id), "suite")
      def op(): Op = if (incremental) inc.call() else suiteOp(in, suite, gate)
      loop = closedLoop(() => t.span("engine.run")(op()), untilSeconds = false)
      put("trace.run_s", median(runOps(loop).map(_.wall)), "s")

      // engine: Runner.run (build, eager jobs included) then the unified
      // noop write — the traced suite run above; on incremental the same
      // calls over one unit's slice
      val slice =
        if (!incremental) in
        else {
          val unit = unitRows.toSeq.sortBy(_._1).apply(unitRows.size / 2)._1
          in.copy(df = in.df.filter(col(UnitCol) === unit), rows = unitRows(unit))
        }
      val engineSuite = if (incremental) Flagship.coreSuite(spark) else suite
      val eOp =
        if (!incremental) loop.last
        else t.span("engine.slice")(suiteOp(slice, engineSuite,
          new Gate(engineSuite.checks.map(_.id), IncrementalMustFail, Set.empty, refFile("slice"))))
      val eb = t.named("engine.build").last
      val ea = t.named("engine.action").last
      val bs = t.stagesIn(eb)
      val as = t.stagesIn(ea)
      put("engine.build_s", eb.seconds, "s")
      put("engine.action_s", ea.seconds, "s")
      put("engine.build_jobs", t.jobsIn(eb).size, "count")
      put("engine.action_jobs", t.jobsIn(ea).size, "count")
      put("engine.action_stages", as.size, "count")
      put("engine.build_occupancy", taskS(bs) / (eb.seconds * cores), "ratio")
      put("engine.action_occupancy", taskS(as) / (ea.seconds * cores), "ratio")
      put("engine.cached_mb", eOp.cachedMb, "MB")
      put("engine.shuffle_write_mb", shuffleMb(bs ++ as), "MB")
      put("engine.spill_mb", (bs ++ as).map(_.spillBytes).sum / Storage.MB, "MB")

      // compile: schema validation + defaulting, repeated (no Spark job)
      t.span("compile") {
        (1 to CompileReps).foreach(_ =>
          graft.compile.CheckCompiler.compile(slice.df, engineSuite.checks, engineSuite.refTables))
      }
      put("compile.s", t.named("compile").last.seconds / CompileReps, "s")

      // per check: a single-check suite run + its action
      val checkIds = PerCheck(o.workload)
      val ssp = scoreStatsPass(in)
      var statsDriver = 0.0
      AllChecks.foreach { c =>
        val id = c.id
        if (checkIds.contains(id)) {
          t.span(s"check.$id")(suiteOp(in, Flagship.suiteOf(spark, Seq(c)),
            Gate.forSuite(Seq(id), ssp, refFile(s"check-$id")), label = s"check.$id"))
          val b = t.named(s"check.$id.build").last
          val a = t.named(s"check.$id.action").last
          val bst = t.stagesIn(b)
          put(s"check.$id.build_s", b.seconds, "s")
          put(s"check.$id.build_task_s", taskS(bst), "s")
          put(s"check.$id.action_s", a.seconds, "s")
          put(s"check.$id.shuffle_write_mb", shuffleMb(bst ++ t.stagesIn(a)), "MB")
          statsDriver += math.max(0.0, b.seconds - taskS(bst) / cores)
        } else Seq("build_s", "build_task_s", "action_s", "shuffle_write_mb").foreach(k =>
          put(s"check.$id.$k", 0.0, if (k.endsWith("_mb")) "MB" else "s"))
      }
      put("stats.driver_s", statsDriver, "s")

      // operators: each pass on the (sliced) cached input, caches released
      val core = Flagship.coreChecks
      val opsRun = Operators(o.workload)
      def pass(name: String)(body: => Unit): Unit =
        if (!opsRun.contains(name)) {
          put(s"operators.${name}_s", 0.0, "s")
          put(s"operators.$name.input_rows", 0.0, "count")
          put(s"operators.$name.shuffle_write_mb", 0.0, "MB")
        } else {
          t.span(s"operators.$name")(CacheTracker.scope(body))
          val sp = t.named(s"operators.$name").last
          val st = t.stagesIn(sp)
          put(s"operators.${name}_s", sp.seconds, "s")
          put(s"operators.$name.input_rows", rowsRead(st), "count")
          put(s"operators.$name.shuffle_write_mb", shuffleMb(st), "MB")
          storage.awaitOnly(in.ids)
        }
      val x = slice.df
      pass("column_stats") {
        val cs = core.collect { case c: ColumnStatsCheck => c }
        noop(graft.operators.ColumnStats.verdicts(graft.operators.ColumnStats.profile(x, cs), cs))
      }
      pass("keyscan") {
        val b = core.collectFirst { case c: ByteIdentityCheck => c }.get
        val p1 = graft.operators.KeyScan.phase1(x, Seq(b.keyCol), b.column)
        noop(graft.operators.KeyScan.phase2(x, Seq(b.keyCol), b.column, p1))
      }
      pass("cellscan") {
        val drs = core.collect { case c: DriftCheck => c }.zipWithIndex.map { case (c, i) =>
          (c, s"__dr${i}_mn", s"__dr${i}_w")
        }
        val base = x.crossJoin(broadcast(graft.operators.Drift.edgesMulti(x, drs)))
        val fams = core.collect {
          case c: CategoricalConsistencyCheck => graft.operators.CategoricalConsistency.cellFamily(c)
          case c: DigitPreferenceCheck => graft.operators.DigitPreference.cellFamily(c)
        } ++ drs.map { case (c, mn, w) => graft.operators.Drift.cellFamily(c, mn, w) }
        noop(graft.operators.CellScan.counts(base, fams))
      }
      pass("referential") {
        val r = core.collectFirst { case c: ReferentialCheck => c }.get
        val hosts = Pages.hosts(spark)
        noop(graft.operators.Referential.verdicts(x, hosts, r, "url"))
        noop(graft.operators.Referential.violations(x, hosts, r, "url"))
      }
      val nd = Flagship.dedupChecks.collectFirst { case c: NearDupCheck => c }.get
      // functions: the signature projection over the cached text
      if (opsRun.contains("near_dup_pairs")) {
        t.span("functions.signature")(noop(x.select(
          graft.functions.TextFunctions.fingerprint(col(nd.textCol)),
          graft.functions.SimHash64.ofText(col(nd.textCol)))))
        val fs = t.named("functions.signature").last
        put("functions.signature_s", fs.seconds, "s")
        put("functions.signature_rows", rowsRead(t.stagesIn(fs)), "count")
      } else {
        put("functions.signature_s", 0.0, "s")
        put("functions.signature_rows", 0.0, "count")
      }
      val sig = x.select(col(nd.idCol).cast("string").as("id"),
        graft.functions.SimHash64.ofText(col(nd.textCol)).as("sim"))
      if (opsRun.contains("near_dup_pairs")) { sig.cache().count() }
      pass("near_dup_pairs") {
        noop(graft.operators.Dedup.simhashPairsWithStats(sig, nd.maxHamming, nd.maxBucket)._1)
      }
      sig.unpersist(blocking = true)
      pass("near_dup_drops") {
        val (_, drops, _) = graft.operators.Dedup.nearDupSurfaces(x, nd.idCol, nd.textCol,
          nd.maxHamming, nd.maxBucket)
        noop(drops)
      }

      // store: commit writes of the traced unit calls, manifest reads and
      // the materialized read-back
      if (incremental) {
        // finish the cycle, so the last call's read-back union of all units
        // is gated and the store holds every unit
        val root = inc.root
        var extra = 0
        while (inc.cycles.isEmpty && extra < unitRows.size && ops.last.failure.isEmpty) {
          inc.call(); extra += 1
        }
        val calls = t.named("engine.unit_call")
        val writes = calls.map(c => t.stagesIn(c).filter(_.outputBytes > 0))
        put("store.write_mb", median(writes.map(_.map(_.outputBytes).sum / Storage.MB)), "MB")
        put("store.write_task_s", median(writes.map(taskS)), "s")
        val files = Files.walk(Paths.get(root)).filter(p =>
          p.toString.endsWith(".parquet")).count()
        val units = TableIO.readManifest(root).size
        put("store.write_files", files.toDouble / math.max(units, 1), "count")
        val hash = TableIO.checkHash(Flagship.coreSuite(spark).checks.map(_.toString))
        t.span("store.manifest")((1 to CompileReps).foreach { _ =>
          TableIO.completedUnits(root, hash)
          TableIO.readManifest(root)
        })
        put("store.manifest_s", t.named("store.manifest").last.seconds / CompileReps, "s")
        t.span("store.readback") {
          Seq("verdicts", "violations").foreach(n =>
            TableIO.readUnitData(spark, root, n, Some(TableIO.completedUnits(root, hash)))
              .foreach(noop))
        }
        put("store.readback_s", t.named("store.readback").last.seconds, "s")
        notes += "incremental_s" -> median(inc.cycles.toSeq)
        deleteState()
      } else Seq("write_mb" -> "MB", "write_files" -> "count", "write_task_s" -> "s",
        "manifest_s" -> "s", "readback_s" -> "s").foreach { case (k, u) => put(s"store.$k", 0.0, u) }
    }

    // layer self time: span duration minus what its child spans cover
    val self = t.all.groupBy(s => LayerOf(s.name)).map { case (l, ss) => l -> ss.map(t.selfSeconds).sum }
    Layers.foreach(l => put(s"self.${l}_s", self.getOrElse(l, 0.0), "s"))
    val a = t.attribution
    put("trace.group_jobs_frac", a.byGroup.toDouble / math.max(a.byGroup + a.byWindow, 1), "ratio")
    put("trace.spans", t.all.size, "count")
    val path = Paths.get(o.work, "traces", s"$runId.jsonl")
    t.dump(path)
    notes += "trace_file" -> path.toString
    notes += "window_attributed_jobs" -> a.byWindow
    notes += "not_exercised" -> NotExercised(o.workload)
    outcome(loop, m.toSeq.map { case (k, (v, u)) => (k, v, u) }, Nil)
  }

  // -------------------------------------------------------------- self-check

  /** The gate must accept clean runs and reject corrupted ones. Corrupted
    * runs are expected failures: they are reported in the record, and the
    * outcome counts only expectations that did not hold. */
  def selfCheck(): Outcome = {
    val (in, _, _) = setup(units = false)
    val suite = Flagship.suite(spark)
    val gate = Gate.forSuite(suite.checks.map(_.id), scoreStatsPass(in))
    val byKey = Window.partitionBy("kind", "check_id").orderBy(col("key"), col("partition"))
    val cases: Seq[(String, Boolean, DataFrame => DataFrame)] = Seq(
      ("clean", true, identity),
      ("dropped_violation_row", false, u =>
        u.withColumn("__rn", row_number().over(byKey))
          .filter(!(col("kind") === "violation" && col("check_id") === "unique_url" &&
            col("__rn") === 1)).drop("__rn")),
      ("flipped_verdict_row", false, u =>
        u.withColumn("__rn", row_number().over(byKey))
          .withColumn("pass", when(col("kind") === "verdict" && col("check_id") === "score_drift" &&
            col("__rn") === 1, !col("pass")).otherwise(col("pass"))).drop("__rn")),
      ("flipped_planted_verdict", false, u =>
        u.withColumn("pass", when(col("kind") === "verdict" && col("check_id") === "text_bytes",
          !col("pass")).otherwise(col("pass")))),
      ("clean_again", true, identity))
    val results = cases.map { case (name, accept, f) =>
      val op = suiteOp(in, suite, gate, corrupt = f)
      (name, accept, op.failure)
    }
    ops.clear()
    val wrong = results.filter { case (_, accept, why) => accept != why.isEmpty }
    // known program defect, kept visible: a resumable unit holding a single
    // warc_ts quarter (here a month) makes DriftCheck divide by zero
    val monthUnit = try {
      Runner.runResumable(in.df.withColumn("month", date_format(col("warc_ts"), "yyyy-MM")),
        Flagship.coreSuite(spark), stateBase.resolve("month").toString, "month", runId,
        failAfterUnits = 1)
      "no error: the month-unit defect is fixed; consider month units for incremental"
    } catch { case NonFatal(e) => s"still throws: ${e.toString.take(160)}" }
    deleteState()
    Outcome(results.size, wrong.size, Seq(("selfcheck_cases", results.size.toDouble, "count")),
      Seq("pages" -> nPages, "cases" -> results.map { case (n, accept, why) =>
        Json.Raw(Json.obj(Seq("case" -> n, "expect_accept" -> accept,
          "rejected_because" -> why)))
      }, "known_defect_month_unit" -> monthUnit))
  }
}

object Bench {
  /** Share of generated rows a seed keeps, per mille. */
  val KeepPerMille = 900L
  val SetupReps = 3
  val CompileReps = 50

  /** Timed operations per run, by position: full_suite times its cold run
    * (~33 s on 4 cores); incremental times a cold unit call and a warm one.
    * More do not fit the time a full set of benchmark runs may take. */
  val MinOps: Map[String, Int] = Map("full_suite" -> 1, "incremental" -> 2)

  /** Resumable units: warc_ts half-years, so each unit holds two of the
    * quarters that DriftCheck and CategoricalConsistencyCheck compare. A
    * unit holding a single quarter (e.g. a month) makes DriftCheck divide
    * by zero at this commit (Drift.tests: n2 = 0 before the n_rest filter). */
  val UnitCol = "half_year"
  def UnitExpr = concat(year(col("warc_ts")), lit("-H"),
    when(month(col("warc_ts")) <= 6, lit(1)).otherwise(lit(2)))

  /** Planted core failures every unit carries (exact duplicates,
    * unregistered hosts, the snapped digits of hosts 3 and 7). */
  val IncrementalMustFail: Set[String] = Set("unique_url", "host_registered", "score_digits")

  val AllChecks: Seq[Check] = Flagship.coreChecks ++ Flagship.modelChecks ++ Flagship.dedupChecks

  /** Which single-check runs each traced workload makes. */
  val PerCheck: Map[String, Set[String]] = Map(
    "full_suite" -> AllChecks.map(_.id).toSet,
    "incremental" -> Set.empty)

  val ScanPasses = Set("column_stats", "keyscan", "cellscan", "referential")
  val Operators: Map[String, Set[String]] = Map(
    "full_suite" -> (ScanPasses ++ Set("near_dup_pairs", "near_dup_drops")),
    "incremental" -> ScanPasses)

  val NotExercised: Map[String, String] = Map(
    "full_suite" -> "store.* read 0: the suite run writes nothing",
    "incremental" -> ("check.* read 0: the unit-slice engine figures stand for them; " +
      "functions.* and operators.near_dup_* read 0: the core suite has no near-dup check"))

  val Layers: Seq[String] = Seq("sources", "compile", "engine", "checks", "operators", "functions", "store")

  def LayerOf(span: String): String = span.takeWhile(_ != '.') match {
    case "check" => "checks"
    case l if Layers.contains(l) => l
    case _ => "bench"
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest of p90/p99/p99.9 with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[Map[String, Double]] = {
    val s = xs.sorted
    Seq(99.9 -> "p99.9", 99.0 -> "p99", 90.0 -> "p90").collectFirst {
      case (p, n) if s.size * (1 - p / 100) >= 10 =>
        Map(n -> s(math.min(s.size - 1, math.ceil(p / 100 * s.size).toInt - 1)))
    }
  }
}
