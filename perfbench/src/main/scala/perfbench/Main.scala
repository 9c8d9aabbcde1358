package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{SparkEntry, Tables}
import graft.envelope.Envelope
import graft.operators.FirehoseTransform
import graft.streaming.FirehoseDelivery

/** One benchmark segment in one JVM: sets the workload up, then runs
  * one measured phase per name in `--phases`, each for `--seconds`:
  * `plain`, `traced` with the [[Recorder]] listening, and `single` at
  * `local[1]` (the churn drains only, on delivery). Writes the
  * raw timings as JSON; `run.py` turns them into metrics and checks
  * the outputs.
  *
  *   --workload delivery|llm_batch
  *   --work <dir holding plan.txt and the generated inputs>
  *   --cores <n> --seconds <s> --phases plain[,traced,single] --tag <segment>
  *   --out <result json>
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = opt("work")
    val plan = Files.readAllLines(Paths.get(work, "plan.txt")).asScala
      .filter(_.contains("=")).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    // this segment's own directories; the generated inputs stay in `work`
    val segDir = s"$work/${opt("tag")}"
    def session(cores: Int) = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      // the same plans at every core count, so 4-vs-1 compares like with like
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", s"$segDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$segDir/warehouse")
      .getOrCreate()
    def workload(spark: SparkSession): Workload = opt("workload") match {
      case "delivery" => new Delivery(spark, work, segDir, plan)
      case "llm_batch" => new LlmBatch(spark, work, segDir, plan)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var spark = session(opt("cores").toInt)
    // after the session: creating it re-initialises logging
    WindowWarnings.install()
    var w = workload(spark)
    val seconds = opt("seconds").toDouble
    val res = mutable.LinkedHashMap[String, Any]()
    try {
      res("setup_s") = w.setup()
      res("phases") = opt("phases").split(",").toSeq.map { name =>
        if (name == "single") {
          // the 1-core baseline: a fresh 1-core session in the same JVM,
          // which the earlier phases have warmed up
          spark.stop()
          spark = session(1)
          w = workload(spark)
        }
        val rec = if (name == "traced") Some(Recorder.install(spark)) else None
        val r = mutable.LinkedHashMap[String, Any]("cores" -> spark.sparkContext.defaultParallelism)
        val warnings0 = WindowWarnings.count.get()
        w.measure(name, seconds, rec, r)
        r("window_no_partition_warnings") = WindowWarnings.count.get() - warnings0
        rec.foreach { x => x.stop(); x.dump(r); w.replay(name, r) }
        name -> r
      }.toMap
      Files.write(Paths.get(opt("out")), Json(res).getBytes("UTF-8"))
    } finally spark.stop()
  }

  def now: Long = System.currentTimeMillis()

  def copyDir(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    new File(from).listFiles().map(_.getName).sorted.foreach { n =>
      Files.copy(Paths.get(from, n), Paths.get(to, n), StandardCopyOption.REPLACE_EXISTING)
    }
  }
}

trait Workload {
  /** Set the workload up several times; one duration (s) per round. */
  def setup(): Seq[Double]
  /** One measured phase; raw figures go into `res`. */
  def measure(phase: String, seconds: Double, rec: Option[Recorder],
      res: mutable.Map[String, Any]): Unit
  /** Traced phase only: per-layer calls made after the measurement. */
  def replay(phase: String, res: mutable.Map[String, Any]): Unit = ()
}

/** The delivery workload: the file-source delivery query of
  * [[FirehoseDelivery]], fed with pre-built JSON-lines record files.
  * Each measured phase drains a fixed backlog with the governor
  * dropping (`churn`), then runs an open loop (`paced`). Plan keys are
  * prefixed with the part they configure: `paced.`, `churn.`, `setup.`.
  */
final class Delivery(spark: SparkSession, work: String, segDir: String,
    plan: Map[String, String]) extends Workload {
  import Main.now

  private def conf(dir: String, part: String) = FirehoseDelivery.Config(
    inputDir = s"$dir/input",
    outputDir = s"$dir/output",
    checkpointDir = s"$dir/checkpoint",
    triggerMs = plan(s"$part.trigger_ms").toLong,
    sizeCap = plan(s"$part.size_cap").toLong,
    maxFilesPerTrigger = plan.get(s"$part.max_files_per_trigger").map(_.toInt))

  /** Untraced: `FirehoseDelivery.start` as shipped. Traced: the same
    * source options around a foreachBatch that opens one span per
    * micro-batch over the public `processBatch`.
    */
  private def start(c: FirehoseDelivery.Config, rec: Option[Recorder]): StreamingQuery =
    rec match {
      case None => FirehoseDelivery.start(spark, c)
      case Some(r) =>
        val reader = spark.readStream.schema(Envelope.RECORD_SCHEMA)
          .option("recursiveFileLookup", "true")
        c.maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
        reader.json(c.inputDir).writeStream
          .foreachBatch((batch: DataFrame, batchId: Long) =>
            r.span(s"batch $batchId")(FirehoseDelivery.processBatch(batch, batchId, c)))
          .option("checkpointLocation", c.checkpointDir)
          .trigger(Trigger.ProcessingTime(c.triggerMs))
          .start()
    }

  /** Micro-batches that read input: batchId, start, and the engine's
    * own phase durations (ms). */
  private def progress(q: StreamingQuery): Seq[Seq[Any]] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      Seq(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        d.getOrElse("triggerExecution", 0L), d.getOrElse("latestOffset", 0L),
        d.getOrElse("queryPlanning", 0L), d.getOrElse("walCommit", 0L),
        d.getOrElse("addBatch", 0L), d.getOrElse("getBatch", 0L))
    }

  /** Drain a pre-filled input directory: start, wait until the source
    * (self-loop included) has nothing left, stop. */
  private def drain(dir: String, files: String, part: String,
      rec: Option[Recorder]): Map[String, Any] = {
    Main.copyDir(files, s"$dir/input")
    val t0 = now
    val q = start(conf(dir, part), rec)
    try q.processAllAvailable() finally q.stop()
    Map("dir" -> dir, "start" -> t0, "end" -> now, "batches" -> progress(q))
  }

  /** Set-up: three cold starts of the delivery query over the small
    * priming backlog; each is start -> every record delivered -> stop. */
  def setup(): Seq[Double] = (0 until 3).map { k =>
    val r = drain(s"$segDir/setup$k", s"$work/prime", "setup", None)
    (r("end").asInstanceOf[Long] - r("start").asInstanceOf[Long]) / 1000.0
  }

  def measure(phase: String, seconds: Double, rec: Option[Recorder],
      res: mutable.Map[String, Any]): Unit = {
    // the drains first: they also warm the pipeline up for the open loop.
    // The traced and 1-core phases drain once, so a traced run fits its
    // time limit.
    val drains = if (phase == "plain") plan("churn.drains").toInt else 1
    res("drains") = (0 until drains).map(k =>
      drain(s"$segDir/$phase-drain$k", s"$work/backlog", "churn", rec))
    if (phase != "single") res("paced") = paced(s"$segDir/$phase-paced", rec)
  }

  /** Open loop: one publisher moves each pre-built file into the input
    * directory at its due time, whatever the pipeline is doing. The
    * first file is a warm-up, delivered before the schedule starts. */
  private def paced(dir: String, rec: Option[Recorder]): Map[String, Any] = {
    val c = conf(dir, "paced")
    Files.createDirectories(Paths.get(c.inputDir))
    val staged = s"$dir/staged"
    Main.copyDir(s"$work/staged", staged)
    val names = new File(staged).listFiles().map(_.getName).sorted
    val periodMs = plan("paced.file_period_ms").toDouble
    val q = start(c, rec)
    val published = mutable.ArrayBuffer[Seq[Any]]()
    def publish(name: String, due: Long): Unit = {
      // an atomic rename: the source never lists a partial file
      Files.move(Paths.get(staged, name), Paths.get(c.inputDir, name),
        StandardCopyOption.ATOMIC_MOVE)
      published += Seq(name, due, now)
    }
    var t0, offeredEnd, warmupBatch = 0L
    try {
      // a new query's first micro-batch is a cold start, which setup_s
      // measures: deliver the first file before the offered period
      publish(names.head, now)
      q.processAllAvailable()
      warmupBatch = q.lastProgress.batchId
      t0 = now + 200L
      names.tail.zipWithIndex.foreach { case (name, i) =>
        val due = t0 + math.round(i * periodMs)
        val wait = due - now
        if (wait > 0) Thread.sleep(wait)
        publish(name, due)
      }
      offeredEnd = now
      q.processAllAvailable()
    } finally q.stop()
    Map("dir" -> dir, "t0" -> t0, "offered_end" -> offeredEnd, "warmup_batch" -> warmupBatch,
      "published" -> published.toSeq, "batches" -> progress(q))
  }

  /** Per-layer cost of the transform and the governor: direct timed
    * calls over every batch the backup sink captured in the phase's
    * first drain and in its open loop. */
  override def replay(phase: String, res: mutable.Map[String, Any]): Unit = {
    import Envelope.Result._
    def replayDir(dir: String, cap: Long) = new File(s"$dir/output/backup").listFiles()
      .filter(_.getName.startsWith("batchId=")).map(_.getPath).sorted.toSeq.map { path =>
        val b = spark.read.schema(Envelope.RECORD_SCHEMA).json(path).persist()
        val n = b.count()
        val t0 = System.nanoTime()
        FirehoseTransform.transform(b).write.format("noop").mode("overwrite").save()
        val t1 = System.nanoTime()
        val tf = FirehoseTransform.transform(b).persist()
        val byResult = tf.groupBy("result").count().collect()
          .map(row => row.getString(0) -> row.getLong(1)).toMap
        val t2 = System.nanoTime()
        FirehoseTransform.sizeGovernor(tf, cap).write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        val dropped = FirehoseTransform.sizeGovernor(tf, cap)
          .filter(col("result") === Dropped).count()
        tf.unpersist(); b.unpersist()
        Seq(n, (t1 - t0) / 1e6, byResult.getOrElse(Ok, 0L),
          byResult.getOrElse(ProcessingFailed, 0L), (t3 - t2) / 1e6, dropped)
      }
    res("replay_paced") = replayDir(s"$segDir/$phase-paced", plan("paced.size_cap").toLong)
    res("replay_churn") = replayDir(s"$segDir/$phase-drain0", plan("churn.size_cap").toLong)
  }
}

/** The LLM-pipeline batch workload: composed queries from
  * `SparkEntry.queries`, each run into the `noop` sink. */
final class LlmBatch(spark: SparkSession, work: String, segDir: String,
    plan: Map[String, String]) extends Workload {
  import Main.now

  private val qs = plan("queries").split(",").toSeq
  private val errors = mutable.ArrayBuffer[String]()

  private def runOne(q: String, dir: String, group: String): Double = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, q)
    val t0 = System.nanoTime()
    try SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
    catch { case e: Exception => errors += s"$q: ${e.getMessage.take(300)}" }
    finally sc.clearJobGroup()
    (System.nanoTime() - t0) / 1e6
  }

  /** Set-up: load and count both tables, five times. Then one pass
    * kept for the oracle check, which is also the warm-up: each query
    * over the measured tables, except the `check.small` ones, whose
    * oracle is too slow there, over the small copy. The oracle queries
    * go to `oracle.json` first, so the caller can evaluate them while
    * this pass runs; measuring waits until it says `oracle.done`. */
  def setup(): Seq[Double] = {
    val rounds = (0 until 5).map { _ =>
      val t0 = now
      Seq("documents", "embeddings").foreach(t => Tables.load(spark, s"$work/tables", t).count())
      (now - t0) / 1000.0
    }
    val oracle = qs.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    val tmp = Paths.get(segDir, "oracle.json.tmp")
    Files.write(tmp, Json(oracle).getBytes("UTF-8"))
    Files.move(tmp, Paths.get(segDir, "oracle.json"), StandardCopyOption.ATOMIC_MOVE)
    val small = plan.getOrElse("check.small", "").split(",").toSet
    // one query at a time, as measured: run side by side, the pass is
    // shorter but leaves the first measured pass about 18% slower than
    // the second, against 8% this way
    qs.foreach { q =>
      val tables = if (small(q)) s"$work/tables_small" else s"$work/tables"
      try SparkEntry.queries(q)(spark, tables).write.mode("overwrite").parquet(s"$segDir/check/$q")
      catch { case e: Exception => errors += s"$q (check): ${e.getMessage.take(300)}" }
    }
    val done = Paths.get(segDir, "oracle.done")
    val giveUp = now + 120000L
    while (!Files.exists(done) && now < giveUp) Thread.sleep(100)
    rounds
  }

  def measure(phase: String, seconds: Double, rec: Option[Recorder],
      res: mutable.Map[String, Any]): Unit = {
    val deadline = now + (seconds * 1000).toLong
    val passes = mutable.ArrayBuffer[Seq[Any]]()
    while (passes.isEmpty || now < deadline) {
      val p = passes.size
      passes += qs.map { q =>
        val t0 = now
        val ms = runOne(q, s"$work/tables", s"$phase$p:$q")
        Seq(q, p, t0, ms)
      }
    }
    res("passes") = passes.toSeq.flatten
    res("check_dir") = s"$segDir/check"
    res("errors") = errors.toSeq
  }
}
