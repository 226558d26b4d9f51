package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.Bench

/** What else is using the machine: a fixed canary query timed at the start and
  * end of a run, foreign Spark JVMs, and this JVM's own GC and heap. */
object Ambient {
  /** Three timed runs of a fixed CPU-bound job, after enough warm-up runs
    * that its code is compiled: the start and end readings then compare. */
  def canary(spark: SparkSession, cores: Int): Seq[Double] = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 4000000L, 1L, cores).selectExpr("sum(hash(id)) AS h").collect()
      (System.nanoTime() - t0) / 1e9
    }
    Seq.fill(6)(once())
    Seq.fill(3)(once())
  }

  /** Pids of other Spark JVMs (see `Bench.foreignSparkJvms`). Another
    * benchmark run and a forked test JVM count as Spark JVMs too. */
  def foreignJvms(): Seq[Long] = try {
    val procs = javaProcs().map { case (pid, ppid, argv) =>
      val extra = argv.exists(a => a == "graft.perfbench.Harness" || a == "sbt.ForkMain")
      (pid, ppid, if (extra) argv :+ "graft.Bench" else argv)
    }
    Bench.foreignSparkJvms(procs, ProcessHandle.current().pid)
  } catch { case _: Exception => Seq.empty }

  private def javaProcs(): Seq[(Long, Long, Seq[String])] = {
    val dirs = Files.list(Paths.get("/proc"))
    try dirs.iterator().asScala.toSeq
      .filter(_.getFileName.toString.forall(_.isDigit))
      .flatMap(d => scala.util.Try(javaProc(d)).toOption.flatten)
    finally dirs.close()
  }

  private def javaProc(d: Path): Option[(Long, Long, Seq[String])] = {
    val argv = new String(Files.readAllBytes(d.resolve("cmdline")), "UTF-8")
      .split('\u0000').toSeq
    if (!argv.headOption.exists(_.contains("java"))) None
    else {
      // field 4 of stat is the ppid; field 2, "(comm)", may hold spaces
      val stat = new String(Files.readAllBytes(d.resolve("stat")), "UTF-8")
      val ppid = stat.substring(stat.lastIndexOf(')') + 2).split(' ')(1).toLong
      Some((d.getFileName.toString.toLong, ppid, argv))
    }
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peaks since [[resetHeapPeak]], MB. */
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
