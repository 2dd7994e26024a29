package perfbench

import java.io.{File, PrintWriter}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import graft.SparkEntry
import graft.engine.Tables
import graft.plans.PlanChoice

/** Closed-loop, single-client benchmark of the graft library.
  *
  * One JVM runs one workload: set-up (session, table registration,
  * prewarm, model load), one cold pass, then a fixed number of warm
  * passes capped at `seconds`, then one untimed check pass. Every
  * execution runs the query's own physical plan; timed executions only
  * iterate its rows, as a noop sink does, and the check pass
  * fingerprints them ([[Fingerprint]]). `run.py` compares the
  * fingerprints with the committed expectations and turns the JSON
  * lines this writes into metrics. With `--trace 1` each execution also
  * records its layer breakdown: builder span, Catalyst phases from the
  * `QueryPlanningTracker`, codegen compile time, and the listener's
  * jobs, stages, tasks and stage intervals.
  */
object Harness {

  final case class Cfg(workload: String, seed: Long, seconds: Double,
                       trace: Boolean, out: File, data: String, root: File,
                       threads: Int, passes: Int, queryList: Option[File],
                       budgetS: Double)

  private def parse(args: Array[String]): Cfg = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Cfg(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      new File(m("out")), m("data"), new File(m("root")), m("threads").toInt,
      m("passes").toInt, m.get("queries").map(new File(_)), m("budget").toDouble)
  }

  // ---- JSON lines -------------------------------------------------------

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def js(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => js(x)
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => js(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => q(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case (a, b) => js(Seq(a, b))
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case other => q(other.toString)
  }

  final class Events(f: File) {
    private val w = new PrintWriter(f, "UTF-8")
    def emit(kind: String, fields: (String, Any)*): Unit = synchronized {
      w.println(js(Map("kind" -> kind) ++ fields.toMap)); w.flush()
    }
    def close(): Unit = w.close()
  }

  // ---- workloads --------------------------------------------------------

  type Build = SparkSession => DataFrame
  final case class Query(name: String, family: String, build: Build)

  private def family(name: String): String = name.takeWhile(_.isLetter)

  private def catalogQueries(names: Seq[String], data: String): Seq[Query] = {
    val all = SparkEntry.queries
    names.map { n =>
      val fn = all.getOrElse(n, sys.error(s"unknown query $n"))
      Query(n, family(n), s => fn(s, data))
    }
  }

  /** Pool universe for `learned`: distinct pool lines joining 4 to 7
    * tables, bucketed by table count, the first [[PoolCap]] of each in
    * file order (`make_expected.py` holds an expected COUNT for each). */
  val PoolCap = 200

  def poolStrata(root: File): Map[Int, Vector[(Int, String)]] = {
    val src = scala.io.Source.fromFile(new File(root, "results/r14_pool/train_pool.txt"), "UTF-8")
    val lines = try src.getLines().map(_.trim).toVector finally src.close()
    val from = """(?i)\bFROM\s+(.*?)\s+WHERE\b""".r
    lines.zipWithIndex.filter(_._1.nonEmpty).distinctBy(_._1).flatMap { case (sql, i) =>
      from.findFirstMatchIn(sql).map(_.group(1).split(",").length)
        .filter(n => n >= 4 && n <= 7).map(n => (n, (i, sql.stripSuffix(";"))))
    }.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).take(PoolCap) }
  }

  /** Pool slices for `learned`, per stratum: the measured slice is the
    * first `measured` queries of a fixed shuffle, so every seed times
    * the same queries; the seed shuffles the rest and cuts the other
    * slices (warm-up, refresh) from it, disjoint from the measured one
    * and from each other. */
  def poolSlices(root: File, seed: Long, measured: Int, others: Seq[Int]): Seq[Seq[Query]] = {
    val strata = poolStrata(root).toSeq.sortBy(_._1).map { case (n, xs) =>
      val qs = xs.map { case (i, sql) => Query(s"pool$i", s"${n}way", (s: SparkSession) => s.sql(sql)) }
      val fixed = new scala.util.Random(n).shuffle(qs)
      (fixed.take(measured), new scala.util.Random(seed * 31 + n).shuffle(fixed.drop(measured)))
    }
    val offsets = others.scanLeft(0)(_ + _)
    strata.flatMap(_._1) +: others.indices.map { k =>
      strata.flatMap(_._2.slice(offsets(k), offsets(k + 1)))
    }
  }

  // ---- session + set-up -------------------------------------------------

  private def session(cfg: Cfg, scratch: File, learned: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${cfg.threads}]")
      .config("spark.sql.shuffle.partitions", cfg.threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .config("spark.local.dir", new File(scratch, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getPath)
    if (learned) {
      // chosen plans stay pinned, as in the deployment replay
      b.config("spark.sql.adaptive.enabled", "false")
        .config(PlanChoice.MinInputBytesKey, "0")
        .withExtensions(new graft.engine.GraftExtensions)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // ---- one execution ----------------------------------------------------

  /** An execution running longer than this is cancelled and fails. */
  val TimeoutS = 60

  private val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }
  private var seq = 0L

  /** Run one query to completion and return its event fields; wall
    * time covers builder, planning and execution. The rows are only
    * iterated, or with `check` fingerprinted. */
  def execute(spark: SparkSession, cfg: Cfg, tracer: Option[Tracer],
              qry: Query, check: Boolean): Map[String, Any] = {
    val sc = spark.sparkContext
    seq += 1
    val group = s"perfbench-$seq"
    @volatile var timedOut = false
    sc.setJobGroup(group, qry.name, interruptOnCancel = true)
    val guard = watchdog.schedule((() => { timedOut = true; sc.cancelJobGroup(group) }): Runnable,
      TimeoutS.toLong, java.util.concurrent.TimeUnit.SECONDS)
    tracer.foreach(_.take())
    val gc0 = Jvm.gcMs
    val (cg0, cgc0) = Jvm.codegen
    val t0 = System.nanoTime()
    var t1, t2 = t0
    var e2 = 0L
    var cg2 = 0L
    var qe: org.apache.spark.sql.execution.QueryExecution = null
    val result: Either[String, Option[String]] =
      try {
        val df = qry.build(spark)
        t1 = System.nanoTime()
        qe = df.queryExecution
        qe.executedPlan
        t2 = System.nanoTime()
        e2 = System.currentTimeMillis()
        cg2 = Jvm.codegen._1
        Right(SQLExecution.withNewExecutionId(qe, Some(qry.name)) {
          if (check) Some(Fingerprint.of(qe.toRdd, df.schema))
          else { qe.toRdd.foreach(_ => ()); None }
        })
      } catch {
        case NonFatal(e) =>
          val why = if (timedOut) s"timeout after ${TimeoutS}s"
            else s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          Left(why.take(300))
      } finally {
        guard.cancel(false)
        sc.clearJobGroup()
      }
    val t3 = System.nanoTime()
    val e3 = System.currentTimeMillis()
    val wall = (t3 - t0) / 1e6
    val base = Map[String, Any]("query" -> qry.name, "family" -> qry.family,
      "wall_ms" -> wall, "fp" -> result.toOption.flatten, "err" -> result.left.toOption)
    val traced = tracer match {
      case None => Map.empty[String, Any]
      case Some(tr) =>
        val (cg3, cgc3) = Jvm.codegen
        val w = tr.take()
        val phases = Option(qe).map(_.tracker.phases.map { case (k, v) => k -> v.durationMs }).getOrElse(Map.empty)
        Map[String, Any](
          "build_ms" -> (t1 - t0) / 1e6, "plan_ms" -> (t2 - t1) / 1e6,
          "exec_ms" -> (t3 - t2) / 1e6, "exec_window" -> (e2, e3),
          "phases" -> phases,
          "codegen_ms" -> (cg3 - cg0) / 1e6, "codegen_exec_ms" -> (cg3 - cg2) / 1e6,
          "codegen_n" -> (cgc3 - cgc0),
          "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
          "run_ms" -> w.runMs, "cpu_ms" -> w.cpuMs, "task_gc_ms" -> w.taskGcMs,
          "shuffle_write" -> w.shuffleWrite, "shuffle_read" -> w.shuffleRead,
          "fetch_wait_ms" -> w.fetchWaitMs, "spill" -> w.spill,
          "jvm_gc_ms" -> (Jvm.gcMs - gc0), "stage_intervals" -> w.stageIntervals,
          "job_intervals" -> w.jobIntervals)
    }
    base ++ traced
  }

  /** Drop cached relations and checkpoint blocks between executions, as
    * graft.Bench does, so state does not pile up across a pass. */
  private def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  // ---- main -------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    // exit explicitly: Spark's non-daemon threads must not outlive a failure
    val code = try { run(parse(args)); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def run(cfg: Cfg): Unit = {
    val t00 = System.nanoTime()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val scratch = new File(System.getProperty("java.io.tmpdir"))
    val ev = new Events(new File(cfg.out, "events.jsonl"))
    val learned = cfg.workload == "learned"

    val queries: Seq[Query] = cfg.queryList match {
      case Some(f) =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val names = try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toVector
          finally src.close()
        catalogQueries(names, cfg.data)
      case None => Nil
    }
    // learned, per table count: 4 measured, 1 warm-up, 2 refresh-train
    // and 1 refresh-eval queries (sized to keep a run near 50 s)
    val Seq(measured, warmup, refreshTrain, refreshEval) =
      if (learned) poolSlices(cfg.root, cfg.seed, 4, Seq(1, 2, 1))
      else Seq(queries, Nil, Nil, Nil)

    ev.emit("env",
      "java" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "threads" -> cfg.threads, "workload" -> cfg.workload, "seed" -> cfg.seed,
      "queries" -> measured.map(_.name))

    // ---- set-up: process start until the session is ready ----
    val spark = session(cfg, scratch, learned)
    val sessionS = System.currentTimeMillis() / 1e3 - jvmStartMs / 1e3
    val (_, registerS) = timed(Tables.registerAll(spark, cfg.data))
    val (_, modelS) = timed(if (learned) {
      PlanChoice.installFrom(new File(cfg.root, "results/r18_stable_1000/stable_model").getPath)
    })
    val (_, prewarmS) = timed {
      spark.sql("SELECT count(*) FROM lineitem").collect()
      // JVM and planner warm-up on a slice disjoint from the measured one
      warmup.foreach(wq => execute(spark, cfg, None, wq, check = false))
    }
    ev.emit("setup", "setup_s" -> (System.currentTimeMillis() / 1e3 - jvmStartMs / 1e3),
      "spans" -> Map("engine.session_s" -> sessionS, "engine.register_s" -> registerS,
        "plans.model_load_s" -> modelS, "engine.prewarm_s" -> prewarmS))
    val tracer = if (cfg.trace) {
      val tr = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(tr)
      Some(tr)
    } else None
    var heapPeak = 0.0

    def overBudget: Boolean = (System.nanoTime() - t00) / 1e9 > cfg.budgetS

    def routing(): (Long, Long) = (PlanChoice.bypassCount.get(), PlanChoice.gateDeclineCount.get())

    def runPass(pass: String, idx: Int, qs: Seq[Query], traceThis: Boolean,
                check: Boolean = false): Unit = {
      val order = new scala.util.Random(cfg.seed * 1000003L + idx).shuffle(qs)
      order.foreach { qry =>
        reset(spark)
        PlanChoice.lastChoice.set(None)
        val (b0, d0) = routing()
        val fields = execute(spark, cfg, if (traceThis) tracer else None, qry, check)
        // learned: what the strategy did, from its own counters
        val decision = if (!learned) Map.empty[String, Any] else {
          val (b1, d1) = routing()
          val choice = PlanChoice.lastChoice.get()
          Map("decision" -> (if (choice.isDefined) "routed" else if (d1 > d0) "declined"
            else if (b1 > b0) "bypassed" else "native"),
            "candidates" -> choice.map(_.nCandidates).getOrElse(0))
        }
        ev.emit("exec", (Map("pass" -> pass, "pass_idx" -> idx, "traced" -> traceThis) ++
          fields ++ decision).toSeq: _*)
      }
    }

    // ---- cold pass: first executions (learned: first sight, full sweep) ----
    // live heap with the last query's cached blocks dropped, so the
    // sample does not depend on which query ran last
    def sampleHeap(): Unit = { reset(spark); heapPeak = math.max(heapPeak, Jvm.liveHeapMb()) }
    runPass("cold", 0, measured, cfg.trace)
    sampleHeap()

    // ---- warm passes: a fixed number, closed loop; `seconds` caps the
    // phase once its minimum has run. Pass 1 finishes the JIT warm-up
    // and the report leaves it out. With tracing on, passes 2-5 run
    // traced and untraced in the order ABBA, so the traced run can
    // state its own overhead without a warm-up bias; all five are then
    // the minimum.
    val minPasses = if (cfg.trace) 5 else 2
    val passes = math.max(cfg.passes, minPasses)
    val warmT0 = System.nanoTime()
    var pass = 1
    while (pass <= passes && (pass <= minPasses ||
      ((System.nanoTime() - warmT0) / 1e9 < cfg.seconds && !overBudget))) {
      runPass("warm", pass, measured, cfg.trace && (pass == 2 || pass == 5))
      pass += 1
    }
    sampleHeap()

    // ---- check pass: untimed, each measured query once with its rows
    // fingerprinted, so the checker's cost stays out of every timing ----
    runPass("check", 0, measured, traceThis = false, check = true)

    // ---- learned, traced only: native arm, then the model refresh ----
    if (learned && cfg.trace) {
      spark.conf.set(PlanChoice.EnabledKey, "false")
      runPass("native", 0, measured, cfg.trace)
      val (cost, enumerateS) = timed(graft.planopt.Pipelines.costWorkload(spark,
        (refreshTrain ++ refreshEval).map(x => x.name -> x.build)))
      val (trainSet, evalSet) = cost.splitAt(refreshTrain.size)
      val epochs = 3
      val ((fg, model), trainS) = timed(graft.planopt.Pipelines.train(trainSet, epochs = epochs))
      val (res, evalS) = timed(graft.planopt.Pipelines.evaluate(fg, model, evalSet))
      spark.conf.set(PlanChoice.EnabledKey, "true")
      val pairs = trainSet.map(l => l.plans.size * (l.plans.size - 1) / 2).sum
      ev.emit("refresh", "refresh_s" -> (enumerateS + trainS + evalS),
        "enumerate_s" -> enumerateS, "train_s" -> trainS, "eval_s" -> evalS,
        "candidates" -> cost.map(_.plans.size).sum, "train_pairs" -> pairs,
        "epochs" -> epochs, "ranking_loss" -> res.rankingLoss)
    }

    ev.emit("end", "heap_peak_mb" -> heapPeak,
      "elapsed_s" -> (System.nanoTime() - t00) / 1e9)
    ev.close()
    spark.stop()
    watchdog.shutdownNow()
  }
}
