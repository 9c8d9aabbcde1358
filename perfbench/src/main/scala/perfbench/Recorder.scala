package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Everything is observed from outside the
  * program: a SparkListener for jobs, stages and tasks, a
  * QueryExecutionListener for actions and their output paths, and
  * spans the benchmark opens around its own calls into the program.
  * Records stay in memory until [[dump]]; nothing is installed in the
  * untraced phases.
  */
final class Recorder private (spark: SparkSession) extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[Array[Any]]()
  private val jobEnds = new ConcurrentHashMap[Int, Long]()
  private val stageOf = new ConcurrentHashMap[Int, Int]()
  // stageId -> tasks, cpu ns, sum task ms, max task ms, shuffle write,
  // shuffle read, spill bytes, result bytes
  private val stages = new ConcurrentHashMap[Int, Array[Long]]()
  private val spans = new ConcurrentLinkedQueue[Array[Any]]()
  private val actions = new ConcurrentLinkedQueue[Array[Any]]()
  @volatile private var on = true

  /** One record per completed action: function name, the file path a
    * write targets, duration, plan-phase time, and when the listener
    * heard of it. */
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) {
        val path = qe.analyzed.collectFirst {
          case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
        }.getOrElse("")
        val planMs = qe.tracker.phases.values.map(_.durationMs).sum
        actions.add(Array(funcName, path, durationNs / 1e6, planMs, System.currentTimeMillis()))
      }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def span[A](name: String)(body: => A): A = {
    val t0 = System.currentTimeMillis()
    try body finally if (on) spans.add(Array(name, t0, System.currentTimeMillis()))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // a stage runs in the first job that lists it; later jobs skip it
    e.stageIds.foreach(s => stageOf.putIfAbsent(s, e.jobId))
    jobs.add(Array(e.jobId, e.time, prop("spark.jobGroup.id"), prop("spark.job.description")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
    val m = e.taskMetrics
    val a = stages.computeIfAbsent(e.stageId, _ => new Array[Long](8))
    a.synchronized {
      val ms = e.taskInfo.duration
      a(0) += 1; a(2) += ms; a(3) = math.max(a(3), ms)
      if (m != null) {
        a(1) += m.executorCpuTime
        a(4) += m.shuffleWriteMetrics.bytesWritten
        a(5) += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a(6) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(7) += m.resultSize
      }
    }
  }

  /** Let the asynchronous listener bus catch up, then detach. */
  def stop(): Unit = {
    Thread.sleep(1000)
    on = false
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
  }

  def dump(res: mutable.Map[String, Any]): Unit = {
    res("jobs") = jobs.asScala.toSeq.map { j =>
      j.toSeq :+ jobEnds.getOrDefault(j(0).asInstanceOf[Int], -1L)
    }
    res("stages") = stages.asScala.toSeq.map { case (s, a) =>
      Seq[Any](s, stageOf.getOrDefault(s, -1)) ++ a.toSeq
    }
    res("spans") = spans.asScala.toSeq.map(_.toSeq)
    res("actions") = actions.asScala.toSeq.map(_.toSeq)
  }
}

object Recorder {
  def install(spark: SparkSession): Recorder = {
    val r = new Recorder(spark)
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r.queryListener)
    r
  }
}

/** Counts the planner's "No Partition Defined for Window operation"
  * warnings (ROADMAP A.6) instead of silencing them. */
object WindowWarnings extends AbstractAppender("perfbench-window", null, null, true,
    Property.EMPTY_ARRAY) {
  val count = new AtomicLong()

  override def append(e: LogEvent): Unit =
    if (e.getMessage.getFormattedMessage.contains("No Partition Defined")) count.incrementAndGet()

  def install(): Unit = {
    start()
    LogManager.getRootLogger.asInstanceOf[CoreLogger].addAppender(this)
  }
}

/** JSON rendering of the result file, with the Jackson that Spark ships. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
