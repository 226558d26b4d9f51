package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.{Bench, GraftContext, SparkEntry, Tables}

/** One benchmark run inside one JVM: builds the session users get
  * (`GraftContext.buildSession`), registers the tables, runs a cold pass
  * and then steady passes over the workload's queries, and writes what it
  * saw as JSON. It records and does not judge: `perfbench/run.py` turns the
  * record into metrics and checks results against the DuckDB oracle.
  *
  * Usage: `Harness <plan.properties>`; see `perfbench/run.py` for the keys.
  */
object Harness {
  final case class Config(workload: String, dataDir: String,
      queries: Seq[String], sqlPath: Boolean, clients: Int, cores: Int,
      seed: Long, passes: Int, trace: Boolean, setupReps: Int, outDir: String)

  // local properties the listener reads to parent jobs to their query
  // and phase; child threads (the sqlToken worker) inherit them
  val QidKey = "perfbench.qid"
  val PhaseKey = "perfbench.phase"

  // one clock for the benchmark's spans and Spark's event times (epoch ms)
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  /** One query execution. Phase boundaries are epoch ms; a serial query
    * runs construct → plan → execute, a token query submit → fetch. */
  final class Exec(val name: String, val qid: Long, val client: Int) {
    var start, constructEnd, planEnd, submitEnd, end = 0.0
    var rows = 0L
    var error = ""
    var matchesCold = true
    var hash = 0
    // held from the query's end until the pass's results are checked
    var df: DataFrame = null
    var result: Array[Row] = null
  }

  final case class Pass(index: Int, traced: Boolean, wallS: Double,
      jvmGcS: Double, heapPeakMb: Double, cacheRetainedMb: Double,
      execs: Seq[Exec], jobs: Seq[Probe.JobRec], stages: Seq[Probe.StageRec],
      plans: Map[Long, Probe.PlanCounts])

  def main(args: Array[String]): Unit = {
    val cfg = readConfig(args(0))
    Files.createDirectories(Paths.get(cfg.outDir))
    val foreignAtStart = Ambient.foreignJvms()

    // set-up: session + table registration, repeated; the last one stays
    val setups = mutable.ArrayBuffer.empty[(Double, Double)]
    var spark: SparkSession = null
    var ctx: GraftContext = null
    for (rep <- 1 to cfg.setupReps) {
      if (spark != null) spark.stop()
      val t0 = nowMs
      spark = GraftContext.buildSession(s"local[${cfg.cores}]")
      val t1 = nowMs
      ctx = GraftContext(spark)
      Tables.all.foreach(t => ctx.createTable(t, Tables.path(cfg.dataDir, t)))
      setups += (((t1 - t0) / 1e3, (nowMs - t1) / 1e3))
    }
    val sc = spark.sparkContext

    val canaryStart = Ambient.canary(spark, cfg.cores)
    val fns = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    cfg.queries.foreach { q =>
      require(fns.contains(q), s"unknown query $q")
      require(!cfg.sqlPath || oracle.contains(q), s"query $q has no SQL text")
    }
    val qids = new AtomicLong(0L)
    val cold = mutable.Map.empty[String, (StructType, Canon.Table)]

    def runOne(name: String, client: Int): Exec = {
      val e = new Exec(name, qids.incrementAndGet(), client)
      sc.setLocalProperty(QidKey, e.qid.toString)
      try {
        if (cfg.sqlPath) {
          sc.setLocalProperty(PhaseKey, "fetch")
          e.start = nowMs
          val token = ctx.sqlToken(oracle(name))
          e.submitEnd = nowMs
          e.df = ctx.fetch(token)
          e.result = e.df.collect()
          e.end = nowMs
        } else {
          sc.setLocalProperty(PhaseKey, "construct")
          e.start = nowMs
          e.df = fns(name)(spark, cfg.dataDir)
          e.constructEnd = nowMs
          sc.setLocalProperty(PhaseKey, "plan")
          e.df.queryExecution.executedPlan
          e.planEnd = nowMs
          sc.setLocalProperty(PhaseKey, "execute")
          e.result = e.df.collect()
          e.end = nowMs
        }
      } catch {
        case t: Throwable =>
          e.end = nowMs
          e.result = null
          e.error = s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300)
      } finally {
        sc.setLocalProperty(PhaseKey, null)
        sc.setLocalProperty(QidKey, null)
        if (!cfg.sqlPath) graft.operators.Dedup.releaseCaches()
      }
      e
    }

    // after a pass, outside its timing: compare each result with the
    // query's cold-pass result
    def check(e: Exec): Unit = {
      if (e.result != null) {
        e.rows = e.result.length
        val table = Canon(e.result, e.df.schema)
        e.hash = Canon.hash(table)
        cold.get(e.name) match {
          case None => cold(e.name) = (e.df.schema, table)
          case Some((_, first)) => e.matchesCold = Canon.sameWithin(first, table)
        }
      }
      e.df = null
      e.result = null
    }

    // daemon client threads: a failing run must not keep the JVM alive
    val pool = Executors.newFixedThreadPool(cfg.clients, (r: Runnable) => {
      val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
    })
    // round r runs every query once, in an order fixed by the seed
    def round(r: Int): Seq[String] =
      new scala.util.Random(cfg.seed * 1000003L + r).shuffle(cfg.queries)

    def runPass(index: Int, traced: Boolean, order: Seq[String]): Pass = {
      val probe = new Probe
      if (traced) { PerfbenchBus.drain(sc); sc.addSparkListener(probe) }
      val gc0 = Ambient.gcSeconds()
      Ambient.resetHeapPeak()
      val t0 = nowMs
      val execs: Seq[Exec] =
        if (cfg.clients == 1) order.map(runOne(_, 0))
        else {
          val queue = new ConcurrentLinkedQueue[String](order.asJava)
          val done = new ConcurrentLinkedQueue[Exec]()
          val clients = (0 until cfg.clients).map { c =>
            pool.submit(new Runnable {
              def run(): Unit = {
                var q = queue.poll()
                while (q != null) { done.add(runOne(q, c)); q = queue.poll() }
              }
            })
          }
          clients.foreach(_.get())
          done.asScala.toSeq
        }
      val wall = (nowMs - t0) / 1e3
      val gc = Ambient.gcSeconds() - gc0
      val heapPeak = Ambient.heapPeakMb()
      val retained = sc.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1e6
      if (traced) { PerfbenchBus.drain(sc); sc.removeSparkListener(probe) }
      execs.sortBy(_.qid).foreach(check)
      val (jobs, stages, plans) = probe.snapshot()
      Pass(index, traced, wall, gc, heapPeak, retained, execs, jobs, stages, plans)
    }

    val coldPass = runPass(0, traced = false, round(0))
    writeColdResults(cfg, cold)
    // A traced run's steady passes come in pairs of one untraced and one
    // traced pass, in alternating order (u t, t u, u t, ...) so that neither
    // side always gets the later, warmer slot; the difference between them
    // is the tracing overhead. An untraced run with several clients sends
    // all its rounds through one queue, so that no client idles at the end
    // of a round waiting for the others.
    val steady =
      if (cfg.clients > 1 && !cfg.trace)
        Seq(runPass(1, traced = false, (1 to cfg.passes).flatMap(round)))
      else (1 to cfg.passes).map { i =>
        runPass(i, traced = cfg.trace && (i % 4 == 2 || i % 4 == 3), round(i))
      }
    pool.shutdown()
    val canaryEnd = Ambient.canary(spark, cfg.cores)
    val foreignAtEnd = Ambient.foreignJvms()

    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k.startsWith("spark.shuffle.") ||
        k == "spark.master" }
    val out = Json.obj(
      "workload" -> cfg.workload,
      "setup" -> setups.map { case (s, r) =>
        Json.obj("session_s" -> s, "register_s" -> r) },
      "canary_start_s" -> canaryStart, "canary_end_s" -> canaryEnd,
      "foreign_jvms_start" -> foreignAtStart, "foreign_jvms_end" -> foreignAtEnd,
      "confs" -> confs.toSeq.sorted.map { case (k, v) => Json.obj("key" -> k, "value" -> v) },
      "jvm" -> Json.obj(
        "version" -> System.getProperty("java.version"),
        "vm" -> System.getProperty("java.vm.name"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "processors" -> Runtime.getRuntime.availableProcessors),
      "no_oracle" -> cfg.queries.filterNot(oracle.contains),
      "passes" -> (coldPass +: steady).map(passJson))

    Files.write(Paths.get(cfg.outDir, "harness.json"), out.text.getBytes(UTF_8))
    spark.stop()
  }

  private def passJson(p: Pass): Json.Raw = Json.obj(
    "index" -> p.index, "traced" -> p.traced, "wall_s" -> p.wallS,
    "jvm_gc_s" -> p.jvmGcS, "heap_peak_mb" -> p.heapPeakMb,
    "cache_retained_mb" -> p.cacheRetainedMb,
    "execs" -> p.execs.map { e => Json.obj(
      "name" -> e.name, "qid" -> e.qid, "client" -> e.client,
      "start" -> e.start, "construct_end" -> e.constructEnd,
      "plan_end" -> e.planEnd, "submit_end" -> e.submitEnd, "end" -> e.end,
      "rows" -> e.rows, "error" -> e.error, "matches_cold" -> e.matchesCold,
      "hash" -> e.hash) },
    "jobs" -> p.jobs.map { j => Json.obj(
      "id" -> j.id, "qid" -> j.qid, "phase" -> j.phase,
      "execution" -> j.execution, "start" -> j.start, "end" -> j.end) },
    "plans" -> p.plans.toSeq.sortBy(_._1).map { case (id, c) => Json.obj(
      "execution" -> id, "exchanges" -> c.exchanges,
      "broadcast_joins" -> c.broadcastJoins, "skew_splits" -> c.skewSplits) },
    "stages" -> p.stages.map { s => Json.obj(
      "id" -> s.id, "attempt" -> s.attempt, "job" -> s.job,
      "submit" -> s.submit, "end" -> s.end, "tasks" -> s.tasks,
      "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "wait_ms" -> s.waitMs,
      "input_bytes" -> s.inputBytes, "input_records" -> s.inputRecords,
      "shuffle_write_bytes" -> s.shuffleWriteBytes,
      "shuffle_write_ns" -> s.shuffleWriteNs,
      "shuffle_read_bytes" -> s.shuffleReadBytes,
      "fetch_wait_ms" -> s.fetchWaitMs, "memory_spill" -> s.memorySpill,
      "disk_spill" -> s.diskSpill, "peak_exec_mem" -> s.peakExecMem,
      "gc_ms" -> s.gcMs) })

  /** Cold-pass results, for the oracle check in run.py. */
  private def writeColdResults(cfg: Config,
      cold: mutable.Map[String, (StructType, Canon.Table)]): Unit = {
    val w = Files.newBufferedWriter(Paths.get(cfg.outDir, "cold_results.jsonl"), UTF_8)
    try cold.toSeq.sortBy(_._1).foreach { case (name, (schema, table)) =>
      w.write(Canon.toJson(name, schema, table)); w.write('\n')
    } finally w.close()
  }

  private def readConfig(path: String): Config = {
    val p = new java.util.Properties()
    val r = Files.newBufferedReader(Paths.get(path), UTF_8)
    try p.load(r) finally r.close()
    def get(k: String): String =
      Option(p.getProperty(k)).getOrElse(sys.error(s"plan lacks $k"))
    Config(get("workload"), get("data_dir"),
      get("queries").split(',').map(_.trim).filter(_.nonEmpty).toSeq,
      get("sql_path").toBoolean, get("clients").toInt, get("cores").toInt,
      get("seed").toLong, get("passes").toInt, get("trace").toBoolean,
      get("setup_reps").toInt, get("out_dir"))
  }
}

/** Prints every registered query with its oracle SQL (null when it has
  * none) as one JSON object; run.py reads it once per build. */
object ListQueries {
  def main(args: Array[String]): Unit = {
    val oracle = SparkEntry.oracleSql
    val entries = SparkEntry.queries.keys.toSeq.sorted
      .map(n => Json.str(n) + ":" + Json.render(oracle.getOrElse(n, null)))
    println(entries.mkString("{", ",", "}"))
  }
}
