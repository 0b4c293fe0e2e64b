package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.perfbench.Internals

/** Times one workload's registered rows in one JVM.
  *
  * Usage: Main <dataDir> <rows> <seconds> <trace 0|1> <setups> <warm>
  *             <cores> <resultsDir> <outJson>
  *
  * `rows` is `name:module,...`. The JVM runs with the per-run directory
  * as its working directory, so the persisted stores the probe rows
  * build land there and are rebuilt every run. Each row is timed the
  * way `graft.Bench` times it: the builder call and a full
  * `queryExecution.toRdd` evaluation are inside the window; persistent
  * RDDs and broadcasts are dropped and a GC runs between rows, outside
  * it. `warm` untimed passes run between the set-ups and the timed
  * passes, so the timed ones start from compiled code. Results go to
  * `outJson`; every row's output is written under
  * `resultsDir` during the first set-up, for the oracle check.
  */
object Main extends AdaptiveSparkPlanHelper {
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val par = spark.sparkContext.defaultParallelism
    require(spark.sparkContext.master == s"local[$cores]" && par == cores,
      s"master ${spark.sparkContext.master} runs $par task slots, " +
        s"not the $cores cores this run states")
    spark
  }

  def drain(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    Internals.dropBroadcasts(spark.sparkContext)
    System.gc()
  }

  /** Storage-memory bytes in use plus RDD blocks on disk. */
  def storedBytes(spark: SparkSession): Long = {
    val sc = spark.sparkContext
    sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum +
      sc.getRDDStorageInfo.map(_.diskSize).sum
  }

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  /** Hard-link the generated tables into a fresh directory: the stores
    * and the opened-index cache are keyed by the data directory, so a
    * new directory gives each set-up its own cold stores.
    */
  def linkData(src: Path, dst: Path): String = {
    Files.createDirectories(dst)
    Files.list(src).iterator().asScala.foreach(f =>
      Files.createLink(dst.resolve(f.getFileName), f))
    dst.toString
  }

  def hwmKb(): Long = scala.io.Source.fromFile("/proc/self/status").getLines()
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(dataDir, rowSpec, secondsArg, traceArg, setupsArg, warmArg,
      coresArg, resultsDir, outJson) = args
    val rows = rowSpec.split(",").toSeq.map { s =>
      val Array(n, m) = s.split(":"); (n, m) }
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val queries = graft.SparkEntry.queries
    val missing = rows.map(_._1).filterNot(queries.contains)
    require(missing.isEmpty, s"rows not registered: ${missing.mkString(",")}")

    // ---- set-up: session start + store builds + one warm pass, done
    // `setups` times from cold stores; the last session stays open. The
    // first set-up's warm pass writes each row's output for the oracle
    // check instead of only draining it, so no extra pass is needed.
    var spark: SparkSession = null
    var dir = ""
    val setupS = (1 to setupsArg.toInt).map { i =>
      if (spark != null) spark.stop()
      val d = linkData(Paths.get(dataDir), Paths.get(s"in$i"))
      val t0 = System.nanoTime()
      spark = session(cores)
      for ((name, _) <- rows) {
        drain(spark)
        val r0 = System.nanoTime()
        try {
          val df = queries(name)(spark, d)
          if (i == 1) df.write.parquet(s"$resultsDir/$name")
          else df.queryExecution.toRdd.count()
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] set-up $i: $name failed: $e")
        }
        System.err.println(f"[perfbench] set-up $i $name ${(System.nanoTime() - r0) / 1e9}%.3f s")
      }
      dir = d
      (System.nanoTime() - t0) / 1e9
    }

    // ---- timed passes
    val failures = ArrayBuffer.empty[String]
    val listener = new Trace
    val spans = ArrayBuffer.empty[String]
    val layers = ArrayBuffer.empty[Seq[Trace.RowLayer]]
    val traceGcS = ArrayBuffer.empty[Double]

    def pass(p: Int, traced: Boolean): Seq[(String, Double)] = {
      val runs = ArrayBuffer.empty[Trace.RowRun]
      val g0 = gcMillis()
      val times = rows.map { case (name, module) =>
        drain(spark)
        val stored0 = if (traced) storedBytes(spark) else 0L
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var buildEndMs = startMs
        var t1 = t0
        var df: DataFrame = null
        try {
          df = queries(name)(spark, dir)
          t1 = System.nanoTime(); buildEndMs = System.currentTimeMillis()
          df.queryExecution.toRdd.count()
        } catch { case e: Throwable =>
          if (t1 == t0) { t1 = System.nanoTime(); buildEndMs = System.currentTimeMillis() }
          if (p > 0) failures += name
          System.err.println(s"[perfbench] $name failed: $e")
        }
        val t2 = System.nanoTime()
        val endMs = System.currentTimeMillis()
        if (traced) {
          val plan = if (df == null) None else Some(df.queryExecution.executedPlan)
          def nodes[T](pf: PartialFunction[SparkPlan, T]): Seq[T] =
            plan.map(collectWithSubqueries(_)(pf)).getOrElse(Nil)
          // parquet's vectored reads bypass the Hadoop statistics that
          // task input metrics come from, so the scans' file sizes are
          // recorded beside them
          val scans = nodes { case s: FileSourceScanLike => s }
          runs += Trace.RowRun(p, name, module, startMs, buildEndMs, endMs,
            (t1 - t0) / 1e9, (t2 - t1) / 1e9,
            math.max(0L, storedBytes(spark) - stored0),
            nodes { case e: Exchange => e }.size,
            nodes { case e: ReusedExchangeExec => e }.size,
            scans.size, scans.flatMap(_.metrics.get("filesSize")).map(_.value).sum)
        }
        name -> (t2 - t0) / 1e9
      }
      if (traced) {
        traceGcS += (gcMillis() - g0) / 1e3
        Internals.awaitListeners(spark.sparkContext)
        layers += Trace.attribute(listener, runs.toSeq, spans)
        listener.clear()
      }
      times
    }

    def passes(until: Double, traced: Boolean, from: Int): Seq[Seq[(String, Double)]] = {
      val out = ArrayBuffer.empty[Seq[(String, Double)]]
      val t0 = System.nanoTime()
      while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < until)
        out += pass(from + out.size, traced)
      out.toSeq
    }

    val setupPeakKb = hwmKb()
    // reset VmHWM so the timed phase's own peak can be read too
    try Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    catch { case _: Throwable => }
    // warm passes (numbered 0, so their failures are not counted twice:
    // a failing row fails in the timed passes too)
    for (_ <- 1 to warmArg.toInt) pass(0, traced = false)
    val untraced = passes(if (trace) seconds / 2 else seconds, traced = false, 1)
    val traced = if (trace) {
      spark.sparkContext.addSparkListener(listener)
      val t = passes(seconds / 2, traced = true, untraced.size + 1)
      spark.sparkContext.removeSparkListener(listener)
      t
    } else Nil
    val peakRssKb = hwmKb()

    val oracles = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$resultsDir/oracle_sql.json"),
      rows.map(_._1).filter(oracles.contains)
        .map(n => jsonStr(n) + ":" + jsonStr(oracles(n))).mkString("{", ",", "}"))
    spark.stop()

    // ---- result file
    def passJson(ps: Seq[Seq[(String, Double)]]): String = ps.map(_.map {
      case (n, s) => s"${jsonStr(n)}:$s" }.mkString("{", ",", "}")).mkString("[", ",", "]")
    def layerJson(l: Trace.RowLayer): String = {
      val r = l.run
      Seq("pass" -> r.pass, "row" -> jsonStr(r.row), "module" -> jsonStr(r.module),
        "build_s" -> r.buildS, "exec_s" -> r.execS, "jobs" -> l.jobs,
        "eager_jobs" -> l.eagerJobs, "idle_s" -> l.idleS,
        "task_cpu_s" -> l.taskCpuS, "task_run_s" -> l.taskRunS,
        "tasks" -> l.tasks, "input_bytes" -> l.inputBytes,
        "shuffle_write_bytes" -> l.shuffleBytes, "spill_bytes" -> l.spillBytes,
        "materialized_bytes" -> r.materializedBytes, "exchanges" -> r.exchanges,
        "reused_exchanges" -> r.reusedExchanges, "file_scans" -> r.fileScans,
        "scanned_file_bytes" -> r.scannedFileBytes)
        .map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")
    }
    val out = Seq(
      "master" -> jsonStr(s"local[$cores]"),
      "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "setup_s" -> setupS.mkString("[", ",", "]"),
      "passes" -> passJson(untraced),
      "traced_passes" -> passJson(traced),
      "traced_gc_s" -> traceGcS.mkString("[", ",", "]"),
      "layers" -> layers.map(_.map(layerJson).mkString("[", ",", "]")).mkString("[", ",", "]"),
      "failures" -> failures.map(jsonStr).mkString("[", ",", "]"),
      "peak_rss_mb" -> peakRssKb / 1024.0,
      "setup_peak_rss_mb" -> setupPeakKb / 1024.0,
    ).map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(outJson), out)
    if (trace) Files.writeString(Paths.get(outJson + ".spans"), spans.mkString("", "\n", "\n"))
  }
}
