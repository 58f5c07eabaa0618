package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions.{array_sort, col, count, lit, map_entries, sum, xxhash64}
import org.apache.spark.sql.types.MapType
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM side of the benchmark. Builds one local session the documented way
  * (`spark.sql.extensions=graft.GraftExtensions`), runs declared queries in
  * a closed loop through public entry points only, and writes raw timings,
  * spans and listener counters as one JSON file. `run.py` turns that file
  * into metrics; no metric arithmetic happens here.
  *
  * Modes:
  *  - `setup`: build and warm the session, record the set-up time, exit.
  *  - `warm`: set up; an untimed full-output pass that checks every
  *    query's output and warms the session, then `--warm-passes` more
  *    untimed passes; then timed passes until `--seconds` have passed, at
  *    least `--min-passes` of them.
  *  - `check`: set up; the check pass only (used to make references).
  *
  * With `--trace 1` a `SparkListener` records Spark job, stage and task
  * telemetry and a `QueryExecutionListener` hands over each write's own
  * `QueryExecution`, whose planning phases and final plan give the plan
  * span and the plan shape; with `--trace 0` nothing is registered.
  */
object Harness {
  private def nowMs: Double = System.currentTimeMillis().toDouble

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String, d: String): String = m.getOrElse(k, d)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val out = new Json
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cpus = a("cpus").toInt
    val sfDir = a("sf")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("work") + "/spark")
      .config("spark.sql.warehouse.dir", a("work") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Warm-up: the first job, which pays the scheduler's one-time start.
    spark.range(0, 1000, 1, cpus).selectExpr("sum(id)").collect()
    out.num("setup_s", (nowMs - jvmStartMs) / 1e3)
    out.num("load_start", loadAvg())

    val mode = a("mode")
    if (mode != "setup") {
      val names = a("queries").split(",").toSeq.filter(_.nonEmpty)
      val seed = a("seed").toLong
      val seconds = a.get("seconds", "0").toDouble
      val tracer = if (a.get("trace", "0") == "1") Some(new Tracer(spark)) else None
      val runner = new Runner(spark, sfDir, tracer)
      def order(pass: Int): Seq[String] = new Random(seed * 7919L + pass).shuffle(names)
      if (mode == "warm") {
        runner.checkPass(order(-1))
        for (w <- 1 to a("warm-passes").toInt) runner.timedPass(-w, order(-1 - w))
        runner.records.clear()
        val minPasses = a("min-passes").toInt
        val t0 = nowMs
        var pass = 0
        while (pass < minPasses || nowMs - t0 < seconds * 1e3) {
          runner.timedPass(pass, order(pass))
          pass += 1
        }
      } else {
        runner.checkPass(order(-1))
      }
      tracer.foreach(_.drain())
      out.raw("queries", runner.records.mkString("[", ",", "]"))
      out.raw("checks", runner.checks.mkString("[", ",", "]"))
      tracer.foreach(t => out.raw("trace", t.toJson))
      val storage = spark.sparkContext.getRDDStorageInfo
      out.num("cache_mb", storage.map(r => r.memSize + r.diskSize).sum / 1e6)
      out.num("memo_build_s", graft.ops.LlmOps.memoBuildSeconds)
      out.num("load_end", loadAvg())
    }
    spark.stop()
    Files.writeString(Paths.get(a("out")), out.result)
  }

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Runs queries and keeps one JSON record per execution. */
  final class Runner(spark: SparkSession, sfDir: String, tracer: Option[Tracer]) {
    val records = mutable.ArrayBuffer[String]()
    val checks = mutable.ArrayBuffer[String]()
    private var seq = 0

    private def build(name: String): DataFrame = graft.SparkEntry.queries(name)(spark, sfDir)

    /** Build one query and run it to full output through the noop sink.
      * The write plans the query itself; a traced run reads where that
      * planning ended from the write's `QueryExecution` (t2) and the plan
      * shape from its final plan, both outside the timed window.
      */
    def timedPass(pass: Int, names: Seq[String]): Unit = names.foreach { name =>
      seq += 1
      val group = s"pb$seq"
      tracer.foreach(_ => spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false))
      val r = new Json
      r.str("name", name).num("pass", pass).str("group", group)
      val t0 = nowMs
      try {
        // Traced runs count the rows reaching the sink (the noop sink
        // reports none itself) with a public Observation; its name also
        // picks this write's QueryExecution out of the listener's queue.
        val sink = tracer.map(_ => Observation(group))
        val built = build(name)
        val df = sink.fold(built)(o => built.observe(o, count(lit(1)).as("rows")))
        val t1 = nowMs
        df.write.format("noop").mode("overwrite").save()
        val t3 = nowMs
        r.num("t0", t0).num("t1", t1).num("t3", t3)
        for (tr <- tracer; o <- sink) {
          val qe = tr.awaitWrite(group)
          val planEnd = qe.tracker.phases.values.map(_.endTimeMs.toDouble).foldLeft(t1)(math.max)
          r.num("t2", math.min(planEnd, t3))
          PlanShape.record(r, qe.executedPlan, df.queryExecution.executedPlan)
          r.num("sink_rows", o.get("rows").asInstanceOf[Long].toDouble)
        }
      } catch {
        case e: Throwable =>
          r.num("t0", t0).num("t3", nowMs).str("error", s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      tracer.foreach(_ => spark.sparkContext.clearJobGroup())
      records += r.result
    }

    /** Untimed: runs each query to full output once, observing the row
      * count and hash of the rows that reach the sink. This pass also
      * compiles the plans the timed passes run.
      */
    def checkPass(names: Seq[String]): Unit = names.foreach { name =>
      val r = new Json
      r.str("name", name)
      val t0 = nowMs
      try {
        val df = build(name)
        val t1 = nowMs
        val o = Observation()
        observeCheck(df, o).write.format("noop").mode("overwrite").save()
        val m = o.get
        val hash = Option(m("hash")).map(_.asInstanceOf[java.math.BigDecimal].toPlainString)
        r.num("t0", t0).num("t1", t1).num("t2", nowMs)
          .num("rows", m("rows").asInstanceOf[Long].toDouble).str("hash", hash.getOrElse("0"))
      } catch {
        case e: Throwable =>
          r.num("t0", t0).num("t2", nowMs).str("error", s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      checks += r.result
    }
  }

  /** `df` observed with its row count and the exact sum of a 64-bit hash of
    * every row, a value that depends neither on row order nor on
    * partitioning. Map columns are hashed through their key-sorted entries.
    * Columns are renamed by position only when the output repeats a name.
    */
  def observeCheck(df: DataFrame, o: Observation): DataFrame = {
    val named = if (df.columns.distinct.length == df.columns.length) df
      else df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    named.observe(o, count(lit(1)).as("rows"),
      sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("hash"))
  }

  /** Exchange counts read from executed plan trees. */
  object PlanShape {
    private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
    }

    private def shuffles(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[ShuffleExchangeLike])

    /** `ran` is the final plan of the write, after adaptive execution;
      * `initial` is the query's plan before execution, the plan
      * `PlanAudit.shuffleCount` is meant to read, so the tree and text
      * counts are compared on it. */
    def record(r: Json, ran: SparkPlan, initial: SparkPlan): Unit = {
      val all = nodes(ran)
      val cached = all.collect { case c: InMemoryTableScanExec => c.relation.cachedPlan }
        .distinct
      r.num("shuffle_exchanges", all.count(_.isInstanceOf[ShuffleExchangeLike]))
        .num("broadcast_exchanges", all.count(_.isInstanceOf[BroadcastExchangeLike]))
        .num("cached_relations", cached.size)
        .num("cached_inner_shuffles", cached.map(shuffles).sum)
        .num("initial_shuffles", shuffles(initial))
        .num("text_shuffles", graft.PlanAudit.shuffleCount(initial.toString))
    }
  }

  /** Listener that keeps job, stage and per-stage task totals in memory. */
  final class Tracer(spark: SparkSession) extends SparkListener {
    private val jobs = mutable.ArrayBuffer[Json]()
    private val stageJob = mutable.Map[Int, Int]()
    private val stages = mutable.Map[(Int, Int), Json]()
    private val taskSums = mutable.Map[(Int, Int), Array[Double]]()
    private var blockDrops = 0
    private var events = 0L
    // task totals: count, duration, run, cpu, gc, shuffle read, shuffle
    // write, fetch wait, spill (memory + disk), input bytes, input rows
    private val nSums = 11
    spark.sparkContext.addSparkListener(this)

    // The noop write's own QueryExecution, handed over by the listener
    // manager (asynchronously, on the listener bus).
    private val writes = new LinkedBlockingQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "overwrite") writes.put(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    /** The QueryExecution of the write whose query is observed under the
      * name `group`; writes of earlier queries are skipped. */
    @annotation.tailrec
    def awaitWrite(group: String): QueryExecution = {
      val qe = Option(writes.poll(30, TimeUnit.SECONDS)).getOrElse(sys.error(s"no write event for $group"))
      if (qe.logical.exists { case c: CollectMetrics => c.name == group; case _ => false }) qe
      else awaitWrite(group)
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      events += 1
      val group = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      j.stageIds.foreach(s => stageJob(s) = j.jobId)
      jobs += new Json().num("id", j.jobId).str("group", group).num("start", j.time)
        .raw("stages", j.stageIds.mkString("[", ",", "]"))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      events += 1
      jobs.find(_.get("id").contains(j.jobId.toString)).foreach(_.num("end", j.time))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      events += 1
      val i = s.stageInfo
      val r = new Json().num("id", i.stageId).num("attempt", i.attemptNumber())
        .num("job", stageJob.getOrElse(i.stageId, -1).toDouble).num("tasks", i.numTasks)
        .num("submit", i.submissionTime.getOrElse(0L).toDouble).num("complete", i.completionTime.getOrElse(0L).toDouble)
      stages((i.stageId, i.attemptNumber())) = r
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      events += 1
      val s = taskSums.getOrElseUpdate((t.stageId, t.stageAttemptId), new Array[Double](nSums))
      val m = t.taskMetrics
      s(0) += 1
      s(1) += t.taskInfo.duration / 1e3
      if (m != null) {
        s(2) += m.executorRunTime / 1e3
        s(3) += m.executorCpuTime / 1e9
        s(4) += m.jvmGCTime / 1e3
        s(5) += m.shuffleReadMetrics.totalBytesRead / 1e6
        s(6) += m.shuffleWriteMetrics.bytesWritten / 1e6
        s(7) += m.shuffleReadMetrics.fetchWaitTime / 1e3
        s(8) += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
        s(9) += m.inputMetrics.bytesRead / 1e6
        s(10) += m.inputMetrics.recordsRead
      }
    }
    override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = synchronized {
      events += 1
      val info = b.blockUpdatedInfo
      if (info.blockId.isRDD && !info.storageLevel.isValid) blockDrops += 1
    }

    /** Wait until the asynchronous listener bus has delivered everything
      * (no new event for 200 ms and every job ended), for at most 30 s; a
      * job still open then keeps its execution window as its end.
      */
    def drain(): Unit = {
      val deadline = System.nanoTime() + 30000000000L
      var last = -1L
      while ((synchronized(events) != last || synchronized(jobs.exists(_.get("end").isEmpty))) &&
          System.nanoTime() < deadline) {
        last = synchronized(events)
        Thread.sleep(200)
      }
    }

    def toJson: String = synchronized {
      val names = Seq("tasks_done", "task_s", "run_s", "cpu_s", "gc_s", "shuffle_read_mb",
        "shuffle_write_mb", "fetch_wait_s", "spill_mb", "input_mb", "input_rows")
      val st = stages.map { case (k, r) =>
        val s = taskSums.getOrElse(k, new Array[Double](nSums))
        names.zip(s).foreach { case (n, v) => r.num(n, v) }
        r.result
      }
      new Json().raw("jobs", jobs.map(_.result).mkString("[", ",", "]"))
        .raw("stages", st.mkString("[", ",", "]"))
        .num("block_drops", blockDrops).result
    }
  }

  /** Minimal ordered JSON object writer. */
  final class Json {
    private val fields = mutable.LinkedHashMap[String, String]()
    def num(k: String, v: Double): Json = {
      fields(k) = if (v.isNaN || v.isInfinite) "null"
        else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
      this
    }
    def str(k: String, v: String): Json = { fields(k) = quote(v); this }
    def raw(k: String, v: String): Json = { fields(k) = v; this }
    def get(k: String): Option[String] = fields.get(k)
    def result: String = fields.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")
    private def quote(s: String): String = "\"" + String.valueOf(s).flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }
}
