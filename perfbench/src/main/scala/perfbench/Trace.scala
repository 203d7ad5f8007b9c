package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Task-level counters summed over a set of tasks. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
  }

  def json: String =
    s"""{"jobs":$jobs,"tasks":$tasks,"run_ms":$runMs,"cpu_ms":${cpuNs / 1000000},"gc_ms":$gcMs,"shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes}"""
}

/** Attributes every task to the job group that was set when its job
  * started. The tracer sets one job group per open span, so the groups
  * map tasks to spans. Stage records keep the call site Spark gives each
  * stage, for the trace file.
  */
final class SpanListener extends SparkListener {
  private val groupOfStage = new ConcurrentHashMap[Int, String]()
  val byGroup = new ConcurrentHashMap[String, Counters]()
  val stages = new ConcurrentHashMap[Int, (String, String, Counters)]()

  private def counters(g: String): Counters =
    byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    e.stageInfos.foreach { s =>
      groupOfStage.put(s.stageId, g)
      stages.putIfAbsent(s.stageId, (g, s.name, new Counters))
    }
    counters(g).synchronized { counters(g).jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val g = groupOfStage.getOrDefault(e.stageId, "-")
      val targets = Seq(counters(g)) ++
        Option(stages.get(e.stageId)).map(_._3).toSeq
      targets.foreach { c =>
        c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
}

/** One timed call into a layer. Its self time is its own time minus the
  * time of its children.
  */
final case class Span(id: Int, name: String, parent: Int,
    var startNs: Long = 0L, var endNs: Long = 0L, var childNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
  def selfSeconds: Double = (endNs - startNs - childNs) / 1e9
}

/** Spans from the benchmark's own code, around each call into a layer.
  * They stay in memory and are written out once, at the end of the run.
  * With tracing off `span` only runs its body: no job groups, no
  * listener, no bus drains.
  */
final class Tracer(spark: SparkSession, val runId: String,
    val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  val listener: Option[SpanListener] =
    if (enabled) { val l = new SpanListener; sc.addSparkListener(l); Some(l) }
    else None
  /** Time spent in the tracer's own bookkeeping (mostly bus drains). */
  var overheadNs = 0L

  private def group(s: Span) = s"$runId-span-${s.id}"

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val o0 = System.nanoTime()
      val parent = stack.headOption
      val s1 = Span(spans.size, name, parent.map(_.id).getOrElse(-1))
      spans += s1
      stack = s1 :: stack
      sc.setJobGroup(group(s1), name, interruptOnCancel = false)
      overheadNs += System.nanoTime() - o0
      s1.startNs = System.nanoTime()
      try body
      finally {
        s1.endNs = System.nanoTime()
        val o1 = System.nanoTime()
        Bridge.drainListenerBus(spark)
        stack = stack.tail
        stack.headOption match {
          case Some(p) =>
            p.childNs += s1.endNs - s1.startNs
            sc.setJobGroup(group(p), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        overheadNs += System.nanoTime() - o1
      }
    }

  def children(id: Int): Seq[Span] = spans.toSeq.filter(_.parent == id)

  /** Counters of a span and all its descendants. */
  def inclusive(id: Int): Counters = {
    val out = new Counters
    listener.foreach { l =>
      def go(s: Span): Unit = {
        Option(l.byGroup.get(group(s))).foreach(out.add)
        children(s.id).foreach(go)
      }
      go(spans(id))
    }
    out
  }

  def find(name: String): Option[Span] = spans.find(_.name == name)

  def json(env: String): String = {
    def esc(s: String) = Json.str(s)
    val ss = spans.map { s =>
      val own = listener.flatMap(l => Option(l.byGroup.get(group(s))))
        .map(_.json).getOrElse("null")
      s"""{"id":${s.id},"name":${esc(s.name)},"parent":${s.parent},"run":${esc(runId)},"start_s":${Json.num(s.startNs / 1e9)},"end_s":${Json.num(s.endNs / 1e9)},"self_s":${Json.num(s.selfSeconds)},"tasks":$own}"""
    }.mkString("[\n", ",\n", "\n]")
    val stageRecs = listener.map { l =>
      import scala.jdk.CollectionConverters._
      l.stages.asScala.toSeq.sortBy(_._1).map { case (id, (g, site, c)) =>
        s"""{"stage":$id,"group":${esc(g)},"call_site":${esc(site)},"tasks":${c.json}}"""
      }.mkString("[\n", ",\n", "\n]")
    }.getOrElse("[]")
    s"""{"run":${esc(runId)},"env":$env,"spans":$ss,"stages":$stageRecs}"""
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
