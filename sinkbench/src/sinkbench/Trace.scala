package sinkbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark listener for the traced run: records every job's group and
  * every completed stage's interval, issuing function and task
  * counters. Registered only in the traced run.
  *
  * Adaptive execution submits shuffle stages from helper threads whose
  * call site holds no program frame; such a stage takes the issuer of
  * its SQL execution (one Dataset action), whose start event carries the
  * call site of the thread that ran the action. */
final class Trace extends SparkListener {
  import Trace._

  private val groupOfStage = mutable.Map.empty[Int, String]
  private val executionOfStage = mutable.Map.empty[Int, String]
  private val executionIssuer = mutable.Map.empty[String, String]
  private val jobGroups = mutable.ArrayBuffer.empty[String]
  private val acc = mutable.Map.empty[(Int, Int), Counters]
  private val done = mutable.ArrayBuffer.empty[Stage]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(executionIssuer(x.executionId.toString) = issuer(x.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroups += group
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    e.stageIds.foreach { id =>
      if (!groupOfStage.contains(id)) groupOfStage(id) = group
      execution.foreach(x => if (!executionOfStage.contains(id)) executionOfStage(id) = x)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val k = (e.stageId, e.stageAttemptId)
      val c = acc.getOrElse(k, Counters())
      acc(k) = c + Counters(
        cpuNs = m.executorCpuTime,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        output = m.outputMetrics.bytesWritten,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled,
        input = m.inputMetrics.bytesRead)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) {
        done += Stage(i.stageId, groupOfStage.getOrElse(i.stageId, ""),
          executionOfStage.getOrElse(i.stageId, ""), issuer(i.details), s, c, i.numTasks,
          acc.remove((i.stageId, i.attemptNumber())).getOrElse(Counters()))
      }
    }

  def stages(group: String): Seq[Stage] = synchronized {
    done.filter(_.group == group).toSeq.map(s =>
      if (s.issuer != "other") s
      else s.copy(issuer = executionIssuer.getOrElse(s.execution, "other")))
  }

  def jobCount(group: String): Int = synchronized(jobGroups.count(_ == group))
}

object Trace {
  final case class Counters(cpuNs: Long = 0, shuffleWrite: Long = 0,
                            output: Long = 0, spill: Long = 0, input: Long = 0) {
    def +(o: Counters): Counters = Counters(cpuNs + o.cpuNs,
      shuffleWrite + o.shuffleWrite, output + o.output, spill + o.spill,
      input + o.input)
  }

  final case class Stage(id: Int, group: String, execution: String, issuer: String,
                         startMs: Long, endMs: Long, tasks: Int,
                         c: Counters)

  /** The functions inside `Ingest.run` whose stages the trace splits
    * out, keyed by the program class that issues them. */
  val IngestFunctions: Seq[String] = Seq(
    "ingest.IngestWriter.write", "ingest.IngestWriter.promote",
    "ingest.AvroGroupWriter.write", "ingest.RotationStats.causes",
    "ingest.CommitManifest.write")

  private val Frame = """(graft\.[\w.$]+?)\$?\.([\w$]+)\(.*""".r

  /** The issuing function of a stage: the innermost program frame of its
    * call site (Spark keeps the user part of the stack in
    * `StageInfo.details`). Outside a StreamingQuery this resolves per
    * function; lambdas (`$anonfun$promote$1`) name their enclosing
    * method. */
  def issuer(details: String): String =
    Option(details).getOrElse("").linesIterator.map(_.trim).collectFirst {
      case Frame(cls, method) => label(cls, method)
    }.getOrElse("other")

  def label(cls: String, method: String): String = {
    val m = method.stripPrefix("$anonfun$").takeWhile(_ != '$')
    (cls, m) match {
      case ("graft.ingest.IngestWriter", "promote") => "ingest.IngestWriter.promote"
      case ("graft.ingest.IngestWriter", _) => "ingest.IngestWriter.write"
      case ("graft.ingest.AvroGroupWriter", _) => "ingest.AvroGroupWriter.write"
      case ("graft.ingest.RotationStats", _) => "ingest.RotationStats.causes"
      case ("graft.ingest.CommitManifest", _) => "ingest.CommitManifest.write"
      case _ => s"other:${cls.stripPrefix("graft.")}.$m"
    }
  }
}
