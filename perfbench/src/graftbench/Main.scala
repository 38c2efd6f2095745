package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.CdcPipeline
import graft.apply.CdcApplier
import graft.codec.ConcatJson
import graft.core.Model
import graft.lake.LakeTable
import graft.repair.Repair
import graft.validate.Validate

/** One benchmark run in a fresh JVM: set up (several times, for a median
  * set-up time), warm up, run the timed loop of one workload, check the
  * lake against the oracle, and write the raw measurements as JSON for
  * `run.py`, which derives the metrics.
  *
  * Usage: `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cores K --scratch DIR --out FILE [--scale full|toy]` */
object Main {

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("cores").toInt, Paths.get(kv("scratch")),
      Paths.get(kv("out")), kv.getOrElse("scale", "full") == "toy",
      kv.get("plant-mismatch").contains("1"))
    val code =
      try { new Run(o).execute(); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 3 }
    sys.exit(code)
  }
}

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    cores: Int, scratch: Path, out: Path, toy: Boolean, plantMismatch: Boolean = false)

/** Workload sizes. A toy scale exists only for the benchmark's own tests. */
final case class Sizes(
    // backfill_wire: a standing backlog of closed-loop batches of
    // `segsPerBatch` segments (one split each at least)
    wireSegEvents: Long = 25000L, segsPerBatch: Int = 4, blobDocs: Int = 200,
    // the closed loops do a fixed amount of work, so that every run of a
    // seed ends in the same lake state: --seconds / wireBatchSeconds
    // batches on backfill_wire, --seconds / serveRoundSeconds rounds on
    // serve_mor (4 and 6 at 15 s)
    wireBatchSeconds: Double = 3.75, serveRoundSeconds: Double = 2.5,
    // tail_mor / serve_mor: canonical preload, then the tail log. Each
    // preload keeps the table's live rows well over 8x a batch of its
    // workload, so the sparse-batch semi-join path runs
    tailPreload: Long = 300000L, servePreload: Long = 100000L, tailSegEvents: Long = 500L,
    // open-loop arrival rate of tail_mor, events/s: its batches then stay
    // under an eighth of the 300k-event preload's live rows
    rate: Double = 1000.0,
    // serve_mor: fixed batch per round and the read mix
    serveBatch: Long = 750L, lookupCalls: Int = 2,
    keysPerLookup: Int = 3, pollWindow: Long = 750L,
    setupReps: Int = 3, warmSeconds: Double = 2.0, finalReadReps: Int = 4)

object Sizes {
  val full = Sizes()
  val toy = Sizes(wireSegEvents = 2000L, segsPerBatch = 2, blobDocs = 50,
    tailPreload = 8000L, servePreload = 8000L, tailSegEvents = 200L, rate = 400.0,
    serveBatch = 200L, pollWindow = 200L,
    setupReps = 2, warmSeconds = 0.5, finalReadReps = 1)

  /** backfill_wire only: range-partitioned writes start above this many
    * rows instead of the library's default 262144. Batches above the
    * default would take 7 s or more each on 4 cores, leaving two or three
    * batches per run; at 100k events a run measures four, and each one's
    * merge output stays well above this threshold, so the bulk write path
    * is the range-partitioned one, as it is for bulk batches above the
    * default. */
  val wireSmallWriteRows = 32768L
}

final class Run(o: Opts) {
  private val sz = if (o.toy) Sizes.toy else Sizes.full
  private val out = mutable.LinkedHashMap.empty[String, Any]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  private val wire = o.workload == "backfill_wire"
  private val tSession0 = System.nanoTime()
  private val spark: SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"graftbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.default.parallelism", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sources.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", o.scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.scratch.resolve("warehouse").toString)
    if (wire) b.config("spark.graft.smallWriteRows", Sizes.wireSmallWriteRows.toString)
    b.getOrCreate()
  }
  spark.sparkContext.setLogLevel("ERROR")
  private val sessionS = (System.nanoTime() - tSession0) / 1e9
  private val tracer = new Tracer(o.trace, spark.sparkContext)

  import spark.implicits._

  private val promote = Seq("stars")

  /** One operation of the workload: counted, failures recorded, and a
    * span when tracing. */
  private def op[T](name: String, round: Int)(f: => T): Option[T] = {
    attempted += 1
    try Some(tracer.span(name, round)(f))
    catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$name#$round: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        None
    }
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  // ---- inputs -----------------------------------------------------------

  /** Everything one set-up produces: the segment directories and the lake. */
  final case class Inputs(dir: Path, lake: LakeTable, log: Path, logEnd: Long)

  /** Batches (backfill_wire) or rounds (serve_mor) of the timed loop. */
  private val rounds = math.max(2, math.round(o.seconds /
    (if (wire) sz.wireBatchSeconds else sz.serveRoundSeconds)).toInt)

  private def wireEvents = sz.wireSegEvents * sz.segsPerBatch * rounds

  /** Events preloaded into the table of a merge-on-read workload. */
  private val preload = if (o.workload == "tail_mor") sz.tailPreload else sz.servePreload

  /** The key space scales with the events the table is built from. */
  private val nRepos = Gen.repos(if (wire) wireEvents else preload)

  private def tailEvents: Long = o.workload match {
    case "tail_mor" => (sz.rate * (o.seconds + sz.warmSeconds) * 1.6).toLong + 4 * sz.tailSegEvents
    case _ => sz.serveBatch * rounds
  }

  private def setUp(rep: Int): Inputs = {
    val dir = o.scratch.resolve(s"rep$rep")
    val lake = new LakeTable(dir.resolve("lake").toString, spark)
    if (wire) {
      Gen.writeWire(spark, o.seed, nRepos, 0L, wireEvents, sz.wireSegEvents, sz.blobDocs, dir.resolve("log"))
      Inputs(dir, lake, dir.resolve("log"), wireEvents)
    } else {
      val pre = dir.resolve("pre")
      Gen.writeCanonical(spark, o.seed, nRepos, 0L, preload, preload / 4, pre)
      Gen.writeCanonical(spark, o.seed, nRepos, preload, preload + tailEvents,
        sz.tailSegEvents, dir.resolve("log"))
      new CdcApplier(lake, spark).applyBatch(
        spark.read.parquet(Gen.segments(pre, 0, 4): _*), "preload")
      Inputs(dir, lake, dir.resolve("log"), preload + tailEvents)
    }
  }

  /** Canonical events with seq in [lo, hi), read from their segments only. */
  private def canonicalBatch(in: Inputs, lo: Long, hi: Long): DataFrame =
    spark.read.parquet(Gen.segments(in.log, lo / sz.tailSegEvents,
      (hi + sz.tailSegEvents - 1) / sz.tailSegEvents): _*)
      .filter(col("seq") >= lo && col("seq") < hi)

  private def wireBlobs(in: Inputs, segFrom: Long, segUntil: Long): Dataset[String] =
    spark.read.text(Gen.segments(in.log, segFrom, segUntil): _*).as[String]

  // ---- per-round records ------------------------------------------------

  private val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val maintains = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val reads = Map("lookup" -> mutable.ArrayBuffer.empty[Double],
    "poll" -> mutable.ArrayBuffer.empty[Double], "scan" -> mutable.ArrayBuffer.empty[Double])
  private val readFiles = Map("lookup" -> Array(0L, 0L), "poll" -> Array(0L, 0L))
  private val scanStats = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val roundStats = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val probes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val phases = mutable.LinkedHashMap.empty[String, Double]
  private var backlogMax = 0L
  private var loopStartNs = 0L
  private def loopMs: Double = (System.nanoTime() - loopStartNs) / 1e6

  /** The last read mix's results, checked against the oracle at the end. */
  private var lastLookups: Seq[(Seq[(String, String)], Seq[Row])] = Nil
  private var lastPoll: Option[(Long, Seq[Row])] = None
  private var lastScanRows: Option[Long] = None

  /** Apply one batch (timed); in a traced run also the forced layer
    * probes before it and the lake's filesystem delta around it. */
  private def applyOne(in: Inputs, round: Int, lo: Long, hi: Long, record: Boolean,
      segs: Option[(Long, Long)] = None): Unit = {
    if (record && tracer.enabled && wire) probeLayers(in, round, segs.get)
    val dataBefore = if (record && tracer.enabled) Gen.du(Paths.get(in.lake.root, "data")) else 0L
    val metaBefore = if (record && tracer.enabled) Gen.du(Paths.get(in.lake.root, "meta")) else 0L
    val start = loopMs
    val t0 = System.nanoTime()
    val id = s"r$round"
    val ok = if (wire) op("batch", round) {
      val (s0, s1) = segs.get
      CdcPipeline.processBlobs(spark, wireBlobs(in, s0, s1), in.lake, id, promote = promote)
    } else op("batch", round) {
      new CdcApplier(in.lake, spark, mergeOnRead = true).applyBatch(canonicalBatch(in, lo, hi), id)
    }
    val wall = ms(t0)
    if (record) {
      val fs = if (tracer.enabled) Map(
        "data_bytes" -> (Gen.du(Paths.get(in.lake.root, "data")) - dataBefore),
        "meta_bytes" -> (Gen.du(Paths.get(in.lake.root, "meta")) - metaBefore)) else Map.empty
      batches += Map("round" -> round, "lo" -> lo, "hi" -> hi, "events" -> (hi - lo),
        "start_ms" -> start, "end_ms" -> (start + wall), "ms" -> wall,
        "ok" -> ok.isDefined, "batch_id" -> id) ++ fs
    }
  }

  /** Forced layer probes on a wire batch's own segments, each into a
    * noop sink: decode alone, decode + validate, decode + validate +
    * payload parse + repair. Self times are differences of these. */
  private def probeLayers(in: Inputs, round: Int, segs: (Long, Long)): Unit = {
    def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val blobs = wireBlobs(in, segs._1, segs._2)
    val obs = Observation(s"decoded-$round-${java.util.UUID.randomUUID()}")
    val t0 = System.nanoTime()
    tracer.span("probe.decode", round) {
      sink(ConcatJson.decodeTyped(blobs).toDF()
        .observe(obs, sum(when(!col("corrupt"), 1L).otherwise(0L)).as("docs")))
    }
    val decodeMs = ms(t0)
    def routed = {
      val raw = ConcatJson.decodeTyped(blobs).toDF()
        .withColumn("_corrupt", when(col("corrupt"), col("raw")))
        .withColumn("commit", coalesce(col("commit"), when(col("commit_lang").contains("#"),
          substring_index(col("commit_lang"), "#", 1))))
        .withColumn("lang", coalesce(col("lang"), when(col("commit_lang").contains("#"),
          element_at(split(col("commit_lang"), "#"), -1))))
      Validate.routeObserved(raw, name = s"probe-$round-${java.util.UUID.randomUUID()}")._1
    }
    val t1 = System.nanoTime()
    tracer.span("probe.route", round)(sink(routed))
    val routeMs = ms(t1)
    val t2 = System.nanoTime()
    tracer.span("probe.repair", round) {
      val repaired = Repair.all(routed.withColumn("payload", from_json(col("payload_json"),
        Model.changeEventSchema("payload").dataType)))
      sink(repaired.select((Gen.canonicalCols.map(col) ++ promote.map(f => col(s"payload.$f"))): _*))
    }
    val repairMs = ms(t2)
    val docs = scala.util.Try(obs.get("docs").asInstanceOf[Long]).getOrElse(-1L)
    probes += Map("round" -> round, "decode_ms" -> decodeMs, "route_ms" -> routeMs,
      "repair_ms" -> repairMs, "decoded_docs" -> docs,
      "generated_docs" -> (segs._2 - segs._1) * sz.wireSegEvents)
  }

  /** `lake.maintain()` after a commit, as an operator would run it. */
  private def maintainOne(in: Inputs, round: Int, record: Boolean): Unit = {
    val t0 = System.nanoTime()
    val commits = op("maintain", round)(in.lake.maintain()).map(_.size).getOrElse(0)
    if (record) maintains += Map("round" -> round, "ms" -> ms(t0), "commits" -> commits)
  }

  /** Snapshot load and file counts after a round (traced runs only). */
  private def lakeStats(in: Inputs, round: Int): Unit = if (tracer.enabled) {
    val t0 = System.nanoTime()
    val counts = tracer.span("snapshot_load", round) {
      in.lake.currentSnapshot.map(s => (s.files.count(_.kind == "data"), s.deleteFiles.size))
    }
    roundStats += Map("round" -> round, "snapshot_load_ms" -> ms(t0),
      "live_files" -> counts.map(_._1).getOrElse(0), "delete_files" -> counts.map(_._2).getOrElse(0))
  }

  // ---- reads --------------------------------------------------------------

  /** One key on the hot repo, the others on cold repos (the least
    * popular tenth). Every call mixes both, so the lookup latencies form
    * one population and their median is not a pick between two. */
  private def lookupKeys(round: Int, call: Int): Seq[(String, String)] = {
    val r = new scala.util.Random(o.seed * 1000003L + round * 101L + call)
    (0 until sz.keysPerLookup).map { k =>
      val repo = if (k == 0) Gen.HotRepo else f"repo-${nRepos - 1 - r.nextInt(nRepos / 10)}%04d"
      (repo, s"src/f${r.nextInt(Gen.PathsPerRepo)}.scala")
    }
  }

  /** Point lookups on hot and cold repos, one incremental poll, one full
    * `format("graft")` scan aggregated to one row; all collected. */
  private def readMix(in: Inputs, round: Int, watermark: Long, record: Boolean): Unit = {
    val looked = (0 until sz.lookupCalls).flatMap { c =>
      val keys = lookupKeys(round, c)
      val t0 = System.nanoTime()
      op("lookup", round) {
        val (df, scanned, total) = in.lake.lookupKeys(keys)
        val rows = df.collect().toSeq
        if (record) {
          reads("lookup") += ms(t0)
          readFiles("lookup")(0) += scanned; readFiles("lookup")(1) += total
        }
        (keys, rows)
      }
    }
    val t1 = System.nanoTime()
    val polled = op("poll", round) {
      val (df, scanned, total) = in.lake.readSince(watermark)
      val rows = df.collect().toSeq
      if (record) {
        reads("poll") += ms(t1)
        readFiles("poll")(0) += scanned; readFiles("poll")(1) += total
      }
      (watermark, rows)
    }
    val t2 = System.nanoTime()
    val scanned = op("scan", round) {
      val df = spark.read.format("graft").load(in.lake.root)
        .agg(count(lit(1)).as("n"), sum(length(col("content"))).as("chars"))
      val planMs = tracer.span("scan.plan", round) { df.queryExecution.executedPlan; ms(t2) }
      val n = df.collect().head.getLong(0)
      if (record) {
        reads("scan") += ms(t2)
        if (tracer.enabled)
          scanStats += Map("round" -> round, "plan_ms" -> planMs,
            "files_scanned" -> scanFiles(df.queryExecution.executedPlan))
      }
      n
    }
    if (record) {
      lastLookups = looked
      lastPoll = polled
      lastScanRows = scanned
    }
  }

  /** Files read by the executed plan's file scans (AQE stages included). */
  private def scanFiles(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
    case q: QueryStageExec => scanFiles(q.plan)
    case other =>
      other.metrics.get("numFiles").map(_.value).getOrElse(0L) + other.children.map(scanFiles).sum
  }

  // ---- workloads ----------------------------------------------------------

  /** backfill_wire: closed loop over a standing wire backlog; the next
    * batch is sent when the previous one commits, and `maintain()` runs
    * after each commit as an operator would run it. */
  private def backfill(in: Inputs, record: Boolean): Long = {
    var b = 0
    var applied = 0L
    // warmup: two one-segment batches; the second one's merge output
    // (touched rows + upserts) is above smallWriteRows, so the
    // range-partitioned write path is warm too
    val batchCount = if (record) rounds else 2
    val segs = if (record) sz.segsPerBatch.toLong else 1L
    while (b < batchCount) {
      val (s0, s1) = (b * segs, (b + 1) * segs)
      if (record) backlogMax = math.max(backlogMax, in.logEnd - applied)
      applyOne(in, b, s0 * sz.wireSegEvents, s1 * sz.wireSegEvents, record, Some((s0, s1)))
      applied = s1 * sz.wireSegEvents
      maintainOne(in, b, record)
      if (record) lakeStats(in, b)
      b += 1
    }
    applied
  }

  /** tail_mor: open loop. Event i (counted from the end of the preload)
    * is created at t0 + i/R on a clock that never waits for the applier;
    * each iteration applies every event created and not yet applied. */
  private def tail(in: Inputs, record: Boolean, seconds: Double): Long = {
    var applied = preload
    var round = 0
    while (loopMs < seconds * 1000 && applied < in.logEnd) {
      val created = math.min(in.logEnd, preload + (loopMs / 1000 * sz.rate).toLong)
      if (created <= applied) {
        val dueMs = (applied + 1 - preload) * 1000 / sz.rate
        Thread.sleep(math.max(1L, math.ceil(dueMs - loopMs).toLong))
      } else {
        if (record) backlogMax = math.max(backlogMax, created - applied)
        applyOne(in, round, applied, created, record)
        maintainOne(in, round, record)
        if (record) lakeStats(in, round)
        applied = created
        round += 1
      }
    }
    applied
  }

  /** serve_mor: closed loop, one client. Each round commits a fixed-size
    * MoR batch, runs maintain, then the read mix against the fresh
    * snapshot. The warmup runs one round. */
  private def serve(in: Inputs, record: Boolean): Long = {
    var applied = preload
    var round = 0
    while (round < (if (record) rounds else 1)) {
      val hi = applied + sz.serveBatch
      if (record) backlogMax = math.max(backlogMax, sz.serveBatch)
      applyOne(in, round, applied, hi, record)
      maintainOne(in, round, record)
      if (record) lakeStats(in, round)
      readMix(in, round, applied - 1, record)
      applied = hi
      round += 1
    }
    applied
  }

  private def loop(in: Inputs, record: Boolean, seconds: Double): Long = {
    loopStartNs = System.nanoTime()
    o.workload match {
      case "backfill_wire" => backfill(in, record)
      case "tail_mor" => tail(in, record, seconds)
      case "serve_mor" => serve(in, record)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally w.close()
  }

  def execute(): Unit = {
    // set-up, several times: the median is the reported set-up time; the
    // first set-up's inputs and lake serve the warmup, the last the timed loop
    val reps = (1 to sz.setupReps).map { rep =>
      val t0 = System.nanoTime()
      val in = setUp(rep)
      (in, (System.nanoTime() - t0) / 1e9)
    }
    val warmIn = reps.head._1
    val in = reps.last._1
    val tWarm = System.nanoTime()
    val warmApplied = loop(warmIn, record = false, sz.warmSeconds)
    // the read-back's first mixes ran measurably slower (JIT): warm it three times
    if (o.workload != "serve_mor")
      (0 until 3).foreach(r => readMix(warmIn, r, warmApplied - 1 - sz.pollWindow, record = false))
    reps.init.foreach(r => deleteTree(r._1.dir))
    phases("warmup_s") = ms(tWarm) / 1000

    val startVersion = in.lake.currentVersion.getOrElse(-1L)
    // rows the merge-on-read applier weighs a batch against (the sparse
    // semi-join path runs while 8x a batch's events stay below it)
    val tableRows = in.lake.currentSnapshot.map(_.dataFiles.map(_.rows).sum).getOrElse(0L)
    val gc0 = gcMs
    tracer.start()
    val applied = loop(in, record = true, o.seconds)
    val loopS = loopMs / 1000
    val gc1 = gcMs
    // full GCs with pauses between, so that Spark's cleaner thread can drop
    // the blocks and broadcasts the first collection made unreachable
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val tPost = System.nanoTime()

    // read-back of the final lake: the read metrics of the workloads that
    // do no reads in their loop, and the lookups and poll the oracle checks
    if (o.workload != "serve_mor") {
      val wm = applied - 1 - sz.pollWindow
      loopStartNs = System.nanoTime()
      (0 until sz.finalReadReps).foreach(r => readMix(in, 10000 + r, wm, record = true))
    }

    phases("final_reads_s") = ms(tPost) / 1000
    // test hook: one update the oracle never sees
    if (o.plantMismatch)
      new CdcApplier(in.lake, spark).applyBatch(Seq(("UPDATE", "0", Gen.HotRepo, "src/f0.scala",
        "planted", "md", "planted", Long.MaxValue / 2)).toDF(Gen.canonicalCols: _*), "planted")
    val tOracle = System.nanoTime()

    // ---- oracle -----------------------------------------------------------
    val events = Gen.events(spark, o.seed, nRepos, 0L, applied)
    val state = Oracle.state(events).select(Oracle.valueCols(wire).map(col): _*).cache()
    val cols = Oracle.valueCols(wire)
    attempted += 1
    val res = Oracle.compare(in.lake.read(), state, wire)
    val mismatches = mutable.ArrayBuffer.empty[String]
    res.error.foreach(mismatches += _)
    val allKeys = lastLookups.flatMap(_._1).distinct
    val wantAll = if (allKeys.isEmpty) Seq.empty[Row] else state.filter(allKeys.map {
      case (r, p) => col("repo") === r && col("path") === p }.reduce(_ || _)).collect().toSeq
    lastLookups.foreach { case (keys, got) =>
      attempted += 1
      val want = wantAll.filter(r => keys.contains((r.getAs[String]("repo"), r.getAs[String]("path"))))
      if (!Oracle.sameRows(got, want, cols))
        mismatches += s"OracleMismatch: lookup of $keys returned ${got.size} rows, oracle ${want.size}"
    }
    lastPoll.foreach { case (wm, got) =>
      attempted += 1
      val want = state.filter(col("seq") > wm).collect().toSeq
      if (!Oracle.sameRows(got, want, cols))
        mismatches += s"OracleMismatch: poll after seq $wm returned ${got.size} rows, oracle ${want.size}"
    }
    lastScanRows.foreach { n =>
      attempted += 1
      if (n != res.oracleRows)
        mismatches += s"OracleMismatch: format(graft) scan counted $n rows, oracle ${res.oracleRows}"
    }
    failed += mismatches.size
    val snap = in.lake.currentSnapshot.get
    val storedBytes = snap.files.map(f =>
      if (f.bytes > 0) f.bytes else Files.size(Paths.get(in.lake.root, f.path))).sum

    // ---- traced-only: commit diffs and lineage counters ------------------
    if (tracer.enabled) {
      val ids = batches.map(_("batch_id").toString).toSet
      val commits = (startVersion + 1 to snap.version).map(in.lake.snapshot).sliding(2).collect {
        case Seq(a, b) if ids(b.batchId) =>
          val pa = a.files.map(_.path).toSet
          val pb = b.files.map(_.path).toSet
          Map("version" -> b.version, "added" -> (pb -- pa).size, "removed" -> (pa -- pb).size)
      }.toSeq
      out("commits") = commits
      val lin = in.lake.lineageTable().filter(col("batch_id").isin(ids.toSeq: _*))
        .agg(sum(greatest(col("parsed"), lit(0L))), sum(greatest(col("quarantined"), lit(0L))))
        .head()
      out("lineage") = Map("parsed" -> Option(lin.get(0)).getOrElse(0L),
        "quarantined" -> Option(lin.get(1)).getOrElse(0L))
    }

    phases("oracle_s") = ms(tOracle) / 1000
    out("phases") = phases
    out("workload") = o.workload
    out("seed") = o.seed
    out("cores") = o.cores
    out("session_s") = sessionS
    out("setup_reps_s") = reps.map(_._2)
    out("loop_s") = loopS
    out("table_rows") = tableRows
    out("repos") = nRepos
    // open-loop creation times: only tail_mor has a freshness
    out("created") = if (o.workload == "tail_mor")
      Map("rate" -> sz.rate, "base" -> preload) else null
    out("batches") = batches.toSeq
    out("maintain") = maintains.toSeq
    out("reads") = reads.map { case (k, v) => k -> v.toSeq }
    out("read_files") = readFiles.map { case (k, v) => k -> v.toSeq }
    out("backlog_max") = backlogMax
    out("gc_ms") = gc1 - gc0
    out("live_heap_mb") = heapMb
    out("stored_bytes") = storedBytes
    out("live_bytes") = res.liveBytes
    out("lake_rows") = res.lakeRows
    out("oracle_rows") = res.oracleRows
    out("mismatches") = mismatches.toSeq
    out("errors") = errors.toSeq
    out("attempted") = attempted
    out("failed") = failed
    if (tracer.enabled) {
      out("probes") = probes.toSeq
      out("round_stats") = roundStats.toSeq
      out("scan_stats") = scanStats.toSeq
      out("spans") = tracer.spanRows ++ tracer.sparkSpans()
    }
    state.unpersist()
    val tStop = System.nanoTime()
    spark.stop()
    phases("stop_s") = ms(tStop) / 1000
    Json.write(o.out, out)
  }
}

/** Minimal JSON writer over Scala maps, sequences and scalars. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double => java.lang.Double.valueOf(if (d.isNaN || d.isInfinite) -1.0 else d)
    case null => null
    case x => x.asInstanceOf[AnyRef]
  }

  def write(p: Path, v: Any): Unit = mapper.writeValue(p.toFile, toJava(v))
}
