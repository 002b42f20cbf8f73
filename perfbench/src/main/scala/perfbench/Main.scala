package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.engine.TableCommit
import graft.pipeline.Medallion

/** The benchmark's JVM side. One process, one client, a closed loop: each
  * operation starts when the previous one has ended, on `local[4]`.
  *
  * {{{
  * Main <workload> <inputs> <warm-up inputs> <oracle dir> <out dir> <seed> <passes> <trace 0|1>
  * Main oracles <file>
  * }}}
  *
  * Query workloads take a table directory (and `-` for warm-up inputs);
  * `medallion_daily` takes two day lists, the loads and the warm-up (`date,
  * dir, valid, staged, facts` per line, tab-separated). The
  * oracle dir holds DuckDB's result for each checked output as
  * `<name>.parquet`; after the timed passes each output's [[Digest]] is
  * compared with the digest of DuckDB's. The run writes `result.json`
  * (metrics, per-operation ledger, spans, provenance) into the out dir. The
  * `oracles` form writes the DuckDB SQL of every checked output as JSON.
  *
  * Set-up ends with a warm-up: `table_changes` runs its operations twice
  * on the same inputs (passes -1 and 0) and `medallion_daily` loads a
  * separately generated small day set, so the timed passes 1 to `passes`
  * measure warm plans. Every figure comes from the timed passes.
  */
object Main {

  /** Row-level MERGE, a streaming upsert and a stateful stream: the commit
    * plane in its small-commit form (see perfbench/README.md). */
  val TableChanges = Seq("q_sql_merge", "q_stream_upsert", "q_streaming_state")
  val QueryWorkloads = Map("table_changes" -> TableChanges)

  /** graft.Bench's whitelist of deliberate stream teardowns. */
  val ExpectedStreamFailures = Seq("simulated crash at", "QuotaExhausted", "quota budget")

  val Cores = 4

  /** Exactly graft.Bench's session, at `local[4]`. */
  def session(): SparkSession = SparkSession.builder()
    .master(s"local[$Cores]")
    .config("spark.sql.shuffle.partitions", Cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.sources.v2.bucketing.enabled", "true")
    .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    .config("spark.sql.codegen.cache.maxEntries", "20000")
    .config("spark.ui.retainedJobs", "100")
    .config("spark.ui.retainedStages", "100")
    .config("spark.ui.retainedTasks", "2000")
    .config("spark.sql.ui.retainedExecutions", "50")
    .config("spark.sql.warehouse.dir", graft.engine.TempWarehouse.createManaged())
    .getOrCreate()

  /** What an operation body reports: its build time, the rows it delivered,
    * and, when only part of its interval is the operation (the Medallion
    * stage calls, not the checks between them), that part's wall and
    * job-free gap. */
  final case class Outcome(buildS: Double, rows: Long, wallS: Double = -1, gapS: Double = -1)

  /** One evaluation of one operation. */
  final case class Rec(op: String, pass: Int, ok: Boolean, wallS: Double,
      buildS: Double, rows: Long, error: String, layers: Map[String, Double])

  /** DuckDB SQL of every checked output; the medallion one has `{videos}`
    * and `{channels}` placeholders for the raw file lists. */
  def oracleSql: Seq[(String, String)] =
    QueryWorkloads.values.flatten.toSeq.sorted.map(n => n -> SparkEntry.oracleSql(n)) :+
      ("medallion_agg" -> MedallionOracle.sql)

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("oracles")) {
      val workloads = (QueryWorkloads.toSeq :+ ("medallion_daily" -> Seq("medallion_agg")))
        .map { case (w, ops) => w -> Json.arr(ops.map(Json.str)) }
      Files.writeString(Paths.get(args(1)), Json.obj(Seq(
        "workloads" -> Json.obj(workloads),
        "sql" -> Json.obj(oracleSql.map { case (k, v) => k -> Json.str(v) }))))
      return
    }
    val Array(workload, inputs, warmInputs, oracleDir, outDir, seedS, passesS, traceS) = args
    val seed = seedS.toLong
    val passes = passesS.toInt
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    require(workload == "medallion_daily" || QueryWorkloads.contains(workload),
      s"unknown workload $workload")

    val setup = mutable.LinkedHashMap(
      "jvm_start" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    val spark = session()
    setup("session_ready") = System.currentTimeMillis().toDouble
    spark.sparkContext.setLogLevel("ERROR")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming", org.apache.logging.log4j.Level.FATAL)
    val trace = new Trace(spark, traceS == "1")
    val run = new Runner(spark, trace, seed, out)
    run.setupEpochMs ++= setup
    val extra =
      if (workload == "medallion_daily") run.medallion(inputs, warmInputs, passes)
      else run.queries(QueryWorkloads(workload), inputs, passes)
    run.verify(oracleDir)
    run.write(workload, extra)
    spark.stop()
  }
}

final class Runner(spark: SparkSession, trace: Trace, seed: Long, out: Path) {
  import Main._

  val recs = mutable.ArrayBuffer.empty[Rec]
  val passWalls = mutable.ArrayBuffer.empty[Double]
  var firstOpEpochMs = 0L
  val setupEpochMs = mutable.LinkedHashMap.empty[String, Double]
  val digests = mutable.LinkedHashMap.empty[String, Digest.Result] // outputs left for the DuckDB compare
  val failures = mutable.ArrayBuffer.empty[String]
  var checkFailures = 0
  private val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))

  private def clearCache(): Unit =
    try spark.catalog.clearCache() catch { case NonFatal(_) => () }

  // ---- per-operation engine diff: table roots, versions, files -------------

  private val seenVersion = mutable.Map.empty[String, Long]
  private val seenFiles = mutable.Map.empty[String, Set[String]]

  /** Committed-table roots under `dir` (a `_log` directory marks one),
    * skipping Spark's own block and scratch directories. */
  private def roots(dir: Path): Seq[String] = {
    val found = mutable.ArrayBuffer.empty[String]
    Files.walkFileTree(dir, new java.nio.file.SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: java.nio.file.attribute.BasicFileAttributes) = {
        val name = d.getFileName.toString
        if (name == "_log") { found += d.getParent.toString; java.nio.file.FileVisitResult.SKIP_SUBTREE }
        else if (name.startsWith("blockmgr-") || name.startsWith("spark-")) java.nio.file.FileVisitResult.SKIP_SUBTREE
        else java.nio.file.FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException) = java.nio.file.FileVisitResult.CONTINUE
    })
    found.toSeq
  }

  /** Versions and files each root gained since it was last seen, through
    * `TableCommit.currentVersion`/`entriesAtVersion`, with the time spent
    * in `TableCommit.entries`; `named` roots also get their own
    * `engine.files_added.<name>` entry. */
  def engineDiff(rs: Seq[String], named: Boolean = false): Map[String, Double] = {
    var versions, added, removed, readS = 0.0
    val perTable = mutable.Map.empty[String, Double]
    rs.foreach { r =>
      val t0 = System.nanoTime()
      TableCommit.entries(r)
      readS += (System.nanoTime() - t0) / 1e9
      TableCommit.currentVersion(r).foreach { v =>
        val before = seenVersion.getOrElse(r, 0L)
        if (v != before) {
          val now = TableCommit.entriesAtVersion(r, v).map(_.path).toSet
          val was = seenFiles.getOrElse(r, Set.empty)
          versions += v - before
          added += (now -- was).size
          if (named) perTable(s"engine.files_added.${Paths.get(r).getFileName}") = (now -- was).size
          removed += (was -- now).size
          seenVersion(r) = v
          seenFiles(r) = now
        }
      }
    }
    perTable.toMap ++ Map("engine.versions" -> versions, "engine.files_added" -> added,
      "engine.files_removed" -> removed, "engine.manifest_read_s" -> readS)
  }

  private def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }

  private var checkMoved = Map.empty[String, Double]

  /** Runs an output check inside an operation. It is outside the
    * operation's wall, and with tracing on the counters it moves are left
    * out of the operation's record. */
  private def check[T](body: => T): T =
    if (!trace.enabled) body
    else {
      val a = trace.snapshot()
      val r = body
      checkMoved = (checkMoved.toSeq ++ delta(a, trace.snapshot()).toSeq).groupMapReduce(_._1)(_._2)(_ + _)
      r
    }

  /** Times `body` as one operation; returns its record. With tracing on, the
    * record carries the layer counters the operation moved. */
  def timed(op: String, pass: Int)(body: => Outcome): Rec = {
    if (firstOpEpochMs == 0L && pass > 0) firstOpEpochMs = System.currentTimeMillis()
    val before = trace.snapshot()
    checkMoved = Map.empty
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (o, err) =
      try (trace.span("op", op)(body), "")
      catch {
        case NonFatal(e) => (Outcome(0, 0), s"${e.getClass.getName}: ${e.getMessage}".take(300))
      }
    val wall = if (o.wallS >= 0) o.wallS else (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val ok = err.isEmpty
    val layers =
      if (!trace.enabled || !ok) Map.empty[String, Double]
      else delta(before ++ checkMoved.map { case (k, v) => k -> (before.getOrElse(k, 0.0) + v) },
        trace.snapshot()) ++ Map("driver.build_s" -> o.buildS,
        "driver.gap_s" -> (if (o.gapS >= 0) o.gapS
          else math.max(0.0, wall - trace.jobCoverMs(startMs, endMs) / 1e3)))
    if (!ok) failures += s"$op: $err"
    System.err.println(f"[perfbench] pass $pass $op%-24s ${if (ok) f"$wall%.3f s" else err}")
    val r = Rec(op, pass, ok, if (ok) wall else 0.0, o.buildS, o.rows, err, layers)
    recs += r
    r
  }

  /** Timed passes 1 to `n`, stopping after a pass in which an operation
    * failed. These walls include the harness's untimed checks. */
  private def timedPasses(n: Int)(body: Int => Unit): Unit =
    (1 to n).takeWhile(_ => failures.isEmpty).foreach { pass =>
      val ps = System.nanoTime()
      body(pass)
      passWalls += (System.nanoTime() - ps) / 1e9
    }

  // ---- query workloads -----------------------------------------------------

  def queries(ops: Seq[String], dataDir: String, passes: Int): Map[String, Double] = {
    val fns = ops.map(n => n -> SparkEntry.queries(n)).toMap
    val expected = mutable.Map.empty[String, (Long, Long)]
    def runPass(pass: Int): Unit =
      new scala.util.Random(seed * 1000003L + pass).shuffle(ops).foreach { n =>
        var d: Digest.Result = null
        val rec = timed(n, pass) {
          val b0 = System.nanoTime()
          val df = trace.span("build", n)(fns(n)(spark, dataDir))
          val b = (System.nanoTime() - b0) / 1e9
          d = trace.span("action", n)(Digest.of(df))
          Outcome(b, d.rows)
        }
        clearCache()
        if (rec.ok) expected.get(n) match {
          case None =>
            expected(n) = (d.rows, d.sum)
            digests(n) = d
          case Some(e) if e != ((d.rows, d.sum)) =>
            failures += s"$n: result digest differs from the warm-up pass"
            recs(recs.size - 1) = rec.copy(ok = false, error = "digest mismatch")
          case _ => ()
        }
        if (trace.enabled) {
          val e = engineDiff(roots(tmpRoot))
          recs(recs.size - 1) = recs.last.copy(layers = recs.last.layers ++ e)
        }
      }
    Seq(-1, 0).foreach(runPass) // warm-up: the second pass still ran about 1.3x slower than later ones
    timedPasses(passes)(runPass)
    Map.empty
  }

  // ---- medallion_daily -----------------------------------------------------

  final case class Day(date: String, dir: String, valid: Long, staged: Long, facts: Long)

  private def days(manifest: String): Seq[Day] =
    Files.readAllLines(Paths.get(manifest)).asScala.filter(_.nonEmpty).map { l =>
      val Array(d, dir, v, s, f) = l.split("\t")
      Day(d, dir, v.toLong, s.toLong, f.toLong)
    }.toSeq

  val Stages = Seq("staging", "channels", "facts", "agg", "cleanup")
  /** The committed Medallion tables: dim, facts, daily aggregate. */
  val Tables = Seq("core/dim_channels", "core/fact_videos", "analytics/agg_daily_by_region")

  /** One daily load: the five Medallion stage calls, each timed and
    * checked. The operation's wall is the sum of the stage calls; the
    * checks between them are not timed. */
  private def load(day: Day, n: Int, wh: String, stageWalls: mutable.Map[String, mutable.ArrayBuffer[Double]],
      rewrite: mutable.ArrayBuffer[Double]): Outcome = {
    var wall, gap = 0.0
    val tables = Tables.map(t => s"$wh/$t")
    def version(r: String) = TableCommit.currentVersion(r).getOrElse(0L) // the first commit is version 1
    def stage(name: String, expectCommit: Option[String])(body: => Unit): Unit = {
      val before = expectCommit.map(version)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      trace.span("medallion", name)(body)
      val w = (System.nanoTime() - t0) / 1e9
      wall += w
      if (trace.enabled) {
        trace.snapshot()
        gap += math.max(0.0, w - trace.jobCoverMs(startMs, System.currentTimeMillis()) / 1e3)
      }
      stageWalls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += w
      expectCommit.foreach { r =>
        val v = version(r)
        if (v != before.get + 1) throw new IllegalStateException(
          s"$name on ${day.date}: $r at version $v, expected ${before.get + 1}")
      }
    }
    stage("staging", None)(Medallion.loadStaging(spark, day.dir, wh))
    val staged = check(spark.read.parquet(s"$wh/staging/videos").count())
    if (staged != day.staged) throw new IllegalStateException(
      s"staging on ${day.date}: $staged rows, expected ${day.staged}")
    stage("channels", Some(tables(0)))(Medallion.loadChannels(spark, day.dir, wh))
    stage("facts", Some(tables(1)))(Medallion.loadFacts(spark, wh))
    val facts = check(Medallion.readFact(spark, wh).count())
    if (facts != day.facts) throw new IllegalStateException(
      s"facts after ${day.date}: $facts rows, expected ${day.facts}")
    val aggBefore = TableCommit.entries(tables(2)).map(_.path).toSet
    stage("agg", Some(tables(2)))(Medallion.refreshAgg(spark, wh))
    val aggNow = TableCommit.entries(tables(2))
    val slices = aggNow.map(_.part).distinct.size
    if (slices != n + 1) throw new IllegalStateException(
      s"agg after ${day.date}: $slices slices, expected ${n + 1}")
    // each day's load ingests one day directory, so exactly one slice's
    // input changed; every slice whose files were replaced was rewritten
    rewrite += aggNow.filterNot(e => aggBefore(e.path)).flatMap(_.part).distinct.size.toDouble
    stage("cleanup", None)(Medallion.cleanupStaging(spark, wh))
    Outcome(0.0, day.valid, wall, gap)
  }

  def medallion(manifest: String, warmManifest: String, passes: Int): Map[String, Double] = {
    val warmWh = Files.createTempDirectory("perfbench_warm_wh_").toString
    days(warmManifest).zipWithIndex.foreach { case (d, i) =>
      load(d, i, warmWh, mutable.Map.empty, mutable.ArrayBuffer.empty)
    }
    val ds = days(manifest)
    val stageWalls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val rewrite = mutable.ArrayBuffer.empty[Double]
    var wh = ""
    timedPasses(passes) { pass =>
      wh = Files.createTempDirectory(s"perfbench_wh${pass}_").toString
      val tables = Tables.map(t => s"$wh/$t")
      // a failed day leaves every later day of the pass meaningless
      ds.zipWithIndex.takeWhile(_ => failures.isEmpty).foreach { case (d, i) =>
        timed(s"day${i + 1}", pass)(load(d, i, wh, stageWalls, rewrite))
        if (trace.enabled) {
          val e = engineDiff(tables, named = true)
          recs(recs.size - 1) = recs.last.copy(layers = recs.last.layers ++ e)
        }
      }
    }
    // Final output: the analytics layer, for the DuckDB read_json compare.
    digests("medallion_agg") = Digest.of(Medallion.readAgg(spark, wh))
    // live warehouse files after the last day: each table's committed files
    // and the (truncated) staging directory
    val liveBytes = Tables.flatMap { t =>
      val root = Paths.get(wh, t)
      TableCommit.entries(root.toString).map(e => Files.size(root.resolve(e.path)))
    }.sum + dirBytes(Paths.get(wh, "staging"))
    val rawBytes = ds.map(d => dirBytes(Paths.get(d.dir))).sum
    Stages.map(s => s"pipeline.${s}_s" -> median(stageWalls.getOrElse(s, mutable.ArrayBuffer(0.0)).toSeq)).toMap ++
      Map("engine.rewrite_ratio" -> (if (rewrite.isEmpty) 0.0 else rewrite.sum / rewrite.size),
        "engine.stored_bytes_per_raw_byte" -> liveBytes.toDouble / rawBytes)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      finally s.close()
    }

  /** Compares each output's digest with the digest of DuckDB's result for
    * it; a missing or differing oracle result is a failed operation. */
  def verify(oracleDir: String): Unit = digests.foreach { case (name, d) =>
    val f = Paths.get(oracleDir, s"$name.parquet")
    val why =
      try {
        val o = Digest.of(spark.read.parquet(f.toString))
        if (o == d) "" else s"${d.rows} rows vs DuckDB's ${o.rows}, digest differs"
      } catch { case NonFatal(e) => s"no DuckDB result: ${e.getMessage}".take(200) }
    if (why.nonEmpty) {
      failures += s"$name: $why"
      checkFailures += 1
    }
  }

  // ---- output --------------------------------------------------------------

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def rssPeakMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def write(workload: String, extra: Map[String, Double]): Unit = {
    import Json._
    val streams = trace.streamFailures.asScala.toSeq
    val (expectedF, unexpectedF) = streams.partition(ex => ExpectedStreamFailures.exists(ex.contains))
    unexpectedF.foreach(ex => failures += "unexpected stream failure: " + ex.linesIterator.take(2).mkString(" | "))
    // Every figure comes from the timed passes: a pass's wall is the sum of
    // its operations' walls, and per-layer figures are totals per pass;
    // both are medians across passes.
    val timedOk = recs.filter(r => r.pass > 0 && r.ok)
    val byPass = timedOk.groupBy(_.pass).values.toSeq
    val passS = median(byPass.map(_.map(_.wallS).sum))
    val opWall = timedOk.map(_.wallS).sum
    val e2e = Map(
      "pass_s" -> passS,
      "op_p50_s" -> median(timedOk.map(_.wallS).toSeq),
      "rows_per_s" -> (if (opWall > 0) timedOk.map(_.rows).sum / opWall else 0.0),
      "rss_peak_mb" -> rssPeakMb)
    val perPass = byPass.map(_.flatMap(_.layers).groupMapReduce(_._1)(_._2)(_ + _))
    val layers = mutable.Map(perPass.flatMap(_.keys).distinct
      .map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)))): _*)
    if (trace.enabled) {
      layers("sched.tasks_per_stage") =
        if (layers.getOrElse("sched.stages", 0.0) > 0) layers("sched.tasks") / layers("sched.stages") else 0.0
      layers("sched.core_busy") = if (passS > 0) layers.getOrElse("exec.run_s", 0.0) / (passS * Main.Cores) else 0.0
      layers("trace.pass_s") = passS
    }
    layers ++= extra
    val spans = trace.finish()
    val ledger = recs.groupBy(_.op).toSeq.sortBy(_._1).map { case (op, rs) =>
      op -> arr(rs.toSeq.map(r => obj(Seq(
        "pass" -> num(r.pass), "ok" -> bool(r.ok), "wall_s" -> num(r.wallS),
        "rows" -> num(r.rows.toDouble), "error" -> str(r.error)) ++
        r.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })))
    }
    val conf = spark.conf.getAll.toSeq.sortBy(_._1).map { case (k, v) => k -> str(v) }
    val doc = obj(Seq(
      "workload" -> str(workload), "seed" -> num(seed.toDouble),
      "traced" -> bool(trace.enabled), "first_op_epoch_ms" -> num(firstOpEpochMs.toDouble),
      "setup_epoch_ms" -> obj(setupEpochMs.toSeq.map { case (k, v) => k -> num(v) }),
      "attempted" -> num(recs.size.toDouble), "failed" -> num((recs.count(!_.ok) + checkFailures).toDouble),
      "failures" -> arr(failures.toSeq.map(str)),
      "stream_failures_expected" -> num(expectedF.size.toDouble),
      "pass_walls_s" -> arr(passWalls.toSeq.map(num)),
      "end_to_end" -> obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "per_layer" -> obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "checked" -> obj(digests.toSeq.map { case (k, d) => k -> num(d.rows.toDouble) }),
      "provenance" -> obj(Seq(
        "cores" -> num(Main.Cores), "max_heap_bytes" -> num(Runtime.getRuntime.maxMemory.toDouble),
        "spark_version" -> str(spark.version), "java_version" -> str(System.getProperty("java.version")),
        "conf" -> obj(conf))),
      "ledger" -> obj(ledger),
      "spans" -> arr(spans.map { case (s, self) => obj(Seq(
        "id" -> num(s.id), "parent" -> num(s.parent), "op" -> num(s.op), "kind" -> str(s.kind),
        "name" -> str(s.name), "start_ms" -> num(s.start.toDouble), "end_ms" -> num(s.end.toDouble),
        "self_ms" -> num(self.toDouble))) })))
    Files.writeString(out.resolve("result.json"), doc)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

object MedallionOracle {
  /** DuckDB recomputation of the whole multi-day load from the raw files
    * (`{videos}`/`{channels}` are the well-formed file lists). */
  def sql: String = {
    import graft.functions.Sentiment
    val lex = Sentiment.Default
    val pos = Sentiment.keywordCountSql("txt", lex.positive)
    val neg = Sentiment.keywordCountSql("txt", lex.negative)
    s"""WITH v AS (
       |  SELECT regexp_extract(filename, '[^/]+$$') AS file_name,
       |    replace(regexp_extract(filename, 'raw/(\\d{4}/\\d{2}/\\d{2})/', 1), '/', '-') AS collected_date,
       |    id AS video_id, snippet.channelId AS channel_id,
       |    CAST(snippet.categoryId AS INT) AS category_id,
       |    snippet.title AS title, snippet.description AS description, snippet.tags AS tags,
       |    statistics.viewCount AS views_s, statistics.likeCount AS likes_s,
       |    statistics.commentCount AS comments_s
       |  FROM read_json({videos}, format = 'array', filename = true, columns = {
       |    id: 'VARCHAR',
       |    snippet: 'STRUCT(channelId VARCHAR, categoryId VARCHAR, title VARCHAR, description VARCHAR, tags VARCHAR[], publishedAt VARCHAR)',
       |    statistics: 'STRUCT(viewCount VARCHAR, likeCount VARCHAR, commentCount VARCHAR)'})),
       |c AS (
       |  SELECT regexp_extract(filename, '[^/]+$$') AS file_name, channel_id, channel_country
       |  FROM read_json({channels}, format = 'array', filename = true, columns = {
       |    channel_id: 'VARCHAR', channel_title: 'VARCHAR', channel_country: 'VARCHAR',
       |    subscriber_count: 'BIGINT', video_count: 'BIGINT'})),
       |enriched AS (
       |  SELECT file_name, collected_date, video_id, channel_id, category_id,
       |    COALESCE(CAST(views_s AS BIGINT), 0) AS view_count,
       |    COALESCE(CAST(likes_s AS BIGINT), 0) AS like_count,
       |    COALESCE(CAST(comments_s AS BIGINT), 0) AS comment_count,
       |    lower(concat_ws(' ', title, COALESCE(description, ''),
       |      array_to_string(COALESCE(tags, CAST([] AS VARCHAR[])), ' '))) AS txt
       |  FROM v WHERE video_id IS NOT NULL),
       |classified AS (
       |  SELECT file_name, collected_date, video_id, channel_id, category_id,
       |    view_count, like_count, comment_count,
       |    ${Sentiment.finalSentimentSql("category_id", pos, neg, lex)} AS final_sentiment,
       |    CASE WHEN view_count = 0 THEN 0.0
       |         ELSE round_even(((like_count + comment_count) / view_count) * 100, 4)
       |    END AS engagement_rate
       |  FROM enriched),
       |facts AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY video_id ORDER BY file_name ASC) AS rn
       |    FROM (SELECT DISTINCT * FROM classified) d) t
       |  WHERE rn = 1),
       |dim AS (
       |  SELECT channel_id, COALESCE(channel_country, 'UNKNOWN') AS channel_country
       |  FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY channel_id ORDER BY file_name DESC) AS rn
       |    FROM c WHERE channel_id IS NOT NULL) t
       |  WHERE rn = 1)
       |SELECT f.collected_date AS analysis_date, d.channel_country, f.final_sentiment,
       |  COUNT(*) AS video_count,
       |  CAST(SUM(f.view_count) AS BIGINT) AS total_views,
       |  CAST(SUM(f.like_count) AS BIGINT) AS total_likes,
       |  CAST(SUM(f.comment_count) AS BIGINT) AS total_comments,
       |  CAST(SUM(CAST(f.engagement_rate AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_engagement_rate
       |FROM facts f JOIN dim d USING (channel_id)
       |GROUP BY 1, 2, 3""".stripMargin
  }
}
