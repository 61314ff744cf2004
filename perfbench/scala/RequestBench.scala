package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.types.StructType

/** Closed-loop openEO request loop: one client issues `SparkEntry.queries`
  * requests one at a time against a parquet data directory and times each
  * in three phases through public calls only:
  *
  *  - build: the query function call `fn(spark, dir)`, which includes
  *    every eager job it runs (training loops, cache pins);
  *  - plan:  forcing `queryExecution.executedPlan` of the returned frame;
  *  - exec:  the action, `collect()` or a parquet write to a fresh dir.
  *
  * Between requests, outside every timed region, it runs the barrier a
  * service runs: `CacheScope.releaseAll`, `clearCache` and a blocking
  * unpersist of every persisted RDD. No GC is forced between requests; one
  * `System.gc()` runs after each set-up and before each timed pass, outside
  * every timed region. Untimed warm-up passes run between the last set-up
  * and the timed passes.
  *
  * Everything goes to `<out>/events.jsonl`, one JSON object per line; the
  * Python front end (perfbench/run.py) turns it into metrics. With
  * `--trace 1` a SparkListener adds one record per Spark job, attributed to
  * (key, phase) through the job group and a local property; the records
  * stay in memory until the end, and run.py links them into request →
  * phase → job spans.
  *
  * Usage: RequestBench --data DIR --out DIR --keys k1,k2 --action collect|write
  *          --seed N --passes N --warm-passes N --setups N --trace 0|1
  *          [--twins g=t,g=t --twin-rounds N]
  *          [--dump DIR] [--oracle-only] | --self-test
  */
object RequestBench {
  val PhaseProp = "graftbench.phase"

  private def opt(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  // ---------------------------------------------------------------- JSON
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def jval(v: Any): String = v match {
    case null => "null"
    case s: String => jstr(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.fold("null")(jval)
    case m: Map[_, _] =>
      m.map { case (k, x) => jstr(k.toString) + ":" + jval(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(jval).mkString("[", ",", "]")
    case other => jstr(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => jstr(k) + ":" + jval(v) }.mkString("{", ",", "}")

  // ------------------------------------------------------- output hashing
  /** Order-independent fingerprint of a result, in the canonical form of
    * tools/check.py: columns by name, floats to 4 decimals (NaN kept as a
    * value, -0.0 folded into 0.0), rows sorted. Every output is checked
    * against the fingerprint pinned in expected.json, which pin.py checked
    * once against the key's DuckDB oracle. Timestamps and dates render in
    * the JVM time zone, which run.py pins to UTC. */
  def digest(names: Seq[String], rows: Iterator[Row]): (String, Long) = {
    val order = names.indices.sortBy(names(_))
    def norm(v: Any): String = v match {
      case null => "None"
      case d: Double =>
        if (d.isNaN) "NaN"
        else {
          val s = "%.4f".formatLocal(java.util.Locale.ROOT, d)
          if (s == "-0.0000") "0.0000" else s
        }
      case f: Float => norm(f.toDouble)
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted.mkString("{", ",", "}")
      case a: Array[Byte] => a.mkString("b[", ",", "]")
      case other => other.toString
    }
    val lines = rows.map(r => order.map(i => norm(r.get(i))).mkString("\u0001")).toArray
    java.util.Arrays.sort(lines.asInstanceOf[Array[AnyRef]])
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    (md.digest().map(b => f"$b%02x").mkString, lines.length.toLong)
  }

  // -------------------------------------------------------- plan shape
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  sealed trait Output
  final case class Collected(rows: Array[Row], schema: StructType) extends Output
  final case class Written(path: Path) extends Output

  // ------------------------------------------------------------ tracing
  final case class JobRec(key: String, phase: String, jobId: Int,
                          start: Long, @volatile var end: Long, stages: Int)

  /** Per-job counters, attributed to (job group, phase) at job start.
    * Task-level sums are keyed by stage, stage → job, so late task events
    * still land on the right job. */
  final class Tracer extends SparkListener {
    val jobs = scala.collection.concurrent.TrieMap.empty[Int, JobRec]
    val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val counters = scala.collection.concurrent.TrieMap.empty[Int, Array[Double]]
    // counter slots, in this order, per job
    val Names = Seq("tasks", "task_failures", "empty_tasks", "task_cpu_s",
      "sched_wait_s", "input_mb", "output_mb", "shuffle_read_mb",
      "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb", "task_run_s")

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val key = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val phase = props.flatMap(p => Option(p.getProperty(PhaseProp))).getOrElse("")
      jobs.put(e.jobId, JobRec(key, phase, e.jobId, e.time, -1L, e.stageIds.size))
      counters.put(e.jobId, new Array[Double](Names.size))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).flatMap(counters.get).foreach(add(e, _))

    private def add(e: SparkListenerTaskEnd, c: Array[Double]): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      c.synchronized {
        c(0) += 1
        if (e.reason != org.apache.spark.Success) c(1) += 1
        if (m != null) {
          val in = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
          if (in == 0) c(2) += 1
          c(3) += m.executorCpuTime / 1e9
          val dur = info.finishTime - info.launchTime
          c(4) += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime) / 1e3
          c(5) += m.inputMetrics.bytesRead / 1e6
          c(6) += m.outputMetrics.bytesWritten / 1e6
          c(7) += m.shuffleReadMetrics.totalBytesRead / 1e6
          c(8) += m.shuffleWriteMetrics.bytesWritten / 1e6
          c(9) += (m.diskBytesSpilled + m.memoryBytesSpilled) / 1e6
          c(10) = math.max(c(10), m.peakExecutionMemory / 1e6)
          c(11) += m.executorRunTime / 1e3
        }
      }
    }
  }

  // --------------------------------------------------------------- main
  /** Invariants of [[digest]]; exits non-zero on the first failure. */
  def selfTest(): Unit = {
    def d(names: Seq[String], rows: Seq[Seq[Any]]) =
      digest(names, rows.iterator.map(Row.fromSeq))._1
    val base = d(Seq("a", "b"), Seq(Seq(1L, 0.5), Seq(2L, Double.NaN)))
    val checks = Seq(
      "row order" -> (d(Seq("a", "b"), Seq(Seq(2L, Double.NaN), Seq(1L, 0.5))) == base),
      "column order" -> (d(Seq("b", "a"), Seq(Seq(0.5, 1L), Seq(Double.NaN, 2L))) == base),
      "NaN is a value" -> (d(Seq("a", "b"), Seq(Seq(1L, 0.5), Seq(2L, 0.0))) != base),
      "-0.0 equals 0.0" -> (d(Seq("x"), Seq(Seq(-0.0))) == d(Seq("x"), Seq(Seq(0.0)))),
      "4 decimals" -> (d(Seq("x"), Seq(Seq(1.00001))) == d(Seq("x"), Seq(Seq(1.0)))),
      "values matter" -> (d(Seq("x"), Seq(Seq(1.0))) != d(Seq("x"), Seq(Seq(1.001)))))
    checks.foreach { case (name, ok) =>
      println(s"${if (ok) "ok  " else "FAIL"} digest: $name")
    }
    if (checks.exists(!_._2)) sys.exit(1)
  }

  /** Seconds a fixed single-threaded integer loop takes: how fast the host
    * ran next to a pass, to tell a slow host apart from a slow program. */
  def hostProbeS(): Double = {
    val t = System.nanoTime()
    var x = 1L; var i = 0
    while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42L) println(x)
    (System.nanoTime() - t) / 1e9
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--self-test")) { selfTest(); return }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val dataRoot = opt(args, "--data").getOrElse(sys.error("--data DIR required"))
    val outDir = Paths.get(opt(args, "--out").getOrElse(sys.error("--out DIR required")))
    Files.createDirectories(outDir)
    // records stay buffered in memory and reach the file when it closes
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    def emit(line: String): Unit = lines += line

    if (args.contains("--oracle-only")) {
      // Dump the DuckDB oracle SQL of the named keys (for pinning).
      val keys = opt(args, "--keys").get.split(",").toSeq
      val oracle = graft.SparkEntry.oracleSql
      keys.foreach(k => emit(obj("type" -> "oracle", "key" -> k, "sql" -> oracle.get(k))))
      emit(obj("type" -> "twins", "pairs" -> twinPairs(oracle)))
      Files.write(outDir.resolve("events.jsonl"), lines.asJava, UTF_8)
      return
    }

    val keys = opt(args, "--keys").getOrElse(sys.error("--keys required")).split(",").toSeq
    val action = opt(args, "--action").getOrElse("collect")
    val seed = opt(args, "--seed").map(_.toLong).getOrElse(1L)
    val passes = opt(args, "--passes").map(_.toInt).getOrElse(1).max(1)
    val warmPasses = opt(args, "--warm-passes").map(_.toInt).getOrElse(0).max(0)
    val twinRounds = opt(args, "--twin-rounds").map(_.toInt).getOrElse(1).max(1)
    val setups = opt(args, "--setups").map(_.toInt).getOrElse(1).max(1)
    val traced = opt(args, "--trace").contains("1")
    val twins: Seq[(String, String)] = opt(args, "--twins").toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty)
      .map { p => val Array(g, t) = p.split("="); g -> t }
    val cpus = Runtime.getRuntime.availableProcessors()
    // Spark runs tasks on half the cores: the JIT compiler threads, which
    // stay busy through every pass, and the driver thread get the rest
    // instead of preempting task threads
    val cores = (cpus / 2).max(1)
    val queries = graft.SparkEntry.queries
    val unknown = (keys ++ twins.flatMap { case (g, t) => Seq(g, t) }).filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(",")}")

    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def cpuS: Double = osBean.getProcessCpuTime / 1e9
    def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
    val jit = ManagementFactory.getCompilationMXBean
    def jitS: Double = jit.getTotalCompilationTime / 1e3
    // CPU of the JVM's Java threads (main, task and service threads): the
    // process CPU without the JIT compiler and GC worker threads, whose share
    // is large and still falling while the timed passes run. A thread that
    // ends inside a pass takes its CPU time with it; Spark's pooled task
    // threads live far longer than a pass.
    val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    def appCpuS: Double =
      threads.getThreadCpuTime(threads.getAllThreadIds).filter(_ > 0).sum / 1e9
    // Epoch-aligned monotonic seconds, comparable with listener event times.
    val epochOffset = System.currentTimeMillis() / 1e3 - System.nanoTime() / 1e9
    def now: Double = System.nanoTime() / 1e9 + epochOffset

    def newSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graftbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        // room for every generated class of a workload: with Spark's default
        // of 100 entries a graph_batch pass evicts and recompiles about 120
        // classes, and the JIT load of compiling them again swamps the pass
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.local.dir", outDir.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", outDir.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    def barrier(spark: SparkSession): Unit = {
      graft.core.CacheScope.releaseAll()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    var dataDir = dataRoot // re-pointed at a fresh link by every set-up
    var writeSeq = 0
    def deleteTree(p: Path): Unit = if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally all.close()
    }

    final case class Req(key: String, build: Double, plan: Double, exec: Double,
                         start: Double, end: Double, gc: Double,
                         pins: Int, storageMb: Double, planNodes: Int,
                         exchanges: Int,
                         error: String, barrier: Double, output: Option[Output],
                         hash: String = "", rows: Long = -1L, schema: String = "")

    /** One request, timed in three phases, then the barrier. Its output is
      * kept for [[verify]], which runs after the pass. */
    def request(spark: SparkSession, key: String): Req = {
      val sc = spark.sparkContext
      val fn = queries(key)
      val g0 = gcS
      sc.setJobGroup(key, key, interruptOnCancel = false)
      var pins = 0; var storage = 0.0; var nNodes = 0; var nEx = 0
      var err: String = null
      var output: Option[Output] = None
      val t0 = now
      var t1 = t0; var t2 = t0; var t3 = t0
      try {
        sc.setLocalProperty(PhaseProp, "build")
        val df = fn(spark, dataDir)
        t1 = now
        pins = graft.core.CacheScope.size
        sc.setLocalProperty(PhaseProp, "plan")
        df.queryExecution.executedPlan
        t2 = now
        sc.setLocalProperty(PhaseProp, "exec")
        output = Some(action match {
          case "collect" =>
            Collected(df.collect(), df.schema)
          case "write" =>
            writeSeq += 1
            val p = outDir.resolve("writes").resolve(f"$key-$writeSeq%05d")
            df.write.parquet(p.toString)
            Written(p)
        })
        t3 = now
        sc.setLocalProperty(PhaseProp, null)
        val shape = nodes(df.queryExecution.executedPlan)
        nNodes = shape.size
        nEx = shape.count(_.isInstanceOf[ShuffleExchangeLike])
        storage = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      } catch {
        case e: Throwable =>
          err = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"
          if (t1 == t0) t1 = now
          if (t2 == t0) t2 = t1
          if (t3 == t0) t3 = now
      } finally {
        sc.setLocalProperty(PhaseProp, null)
        sc.clearJobGroup()
      }
      val r = Req(key, t1 - t0, t2 - t1, t3 - t2, t0, t3, gcS - g0, pins,
        storage, nNodes, nEx, err, 0.0, output)
      val b0 = now
      barrier(spark)
      r.copy(barrier = now - b0)
    }

    /** Digest a request's output (reading a written one back) and drop it,
      * outside every timed region; `keep` leaves the output in a directory,
      * for pinning against the oracle. */
    def verify(spark: SparkSession, r: Req, keep: Option[Path]): Req =
      try {
        val (rows, schema) = r.output match {
          case Some(Collected(rs, sch)) =>
            keep.foreach { k =>
              spark.createDataFrame(java.util.Arrays.asList(rs: _*), sch)
                .coalesce(1).write.mode("overwrite").parquet(k.toString)
            }
            (rs, sch)
          case Some(Written(p)) =>
            val back = spark.read.parquet(p.toString)
            val out = (back.collect(), back.schema)
            keep match {
              case Some(k) => deleteTree(k); Files.createDirectories(k.getParent); Files.move(p, k)
              case None => deleteTree(p)
            }
            out
          case None => return r
        }
        val (h, n) = digest(schema.fieldNames.toSeq, rows.iterator)
        r.copy(hash = h, rows = n, schema = schema.simpleString, output = None)
      } catch {
        case e: Throwable =>
          r.copy(error = s"output check: ${e.getClass.getName}: ${e.getMessage}", output = None)
      }

    def reqJson(kind: String, pass: Int, r: Req, more: (String, Any)*): String = obj(Seq[(String, Any)](
      "type" -> kind, "pass" -> pass, "key" -> r.key, "build_s" -> r.build,
      "plan_s" -> r.plan, "exec_s" -> r.exec, "start" -> r.start, "end" -> r.end,
      "gc_s" -> r.gc, "pins" -> r.pins,
      "storage_mb" -> r.storageMb, "plan_nodes" -> r.planNodes,
      "plan_exchanges" -> r.exchanges, "hash" -> r.hash, "rows" -> r.rows,
      "schema" -> r.schema, "barrier_s" -> r.barrier, "error" -> r.error) ++ more: _*)

    // ---- set-up: session up + one warm request per key, `setups` times.
    // Every set-up but the last stops its session; the last one's session
    // serves the timed loop. The first set-up is charged from JVM start.
    // Each set-up reads the data through its own link, so the per-(JVM,
    // directory) fixture caches of the query objects are rebuilt each time
    // and every set-up pays for the fixtures its workload builds.
    var spark: SparkSession = null
    val dump = opt(args, "--dump").map(Paths.get(_))
    (1 to setups).foreach { rep =>
      if (spark != null) spark.stop()
      val s0 = if (rep == 1) jvmStartMs / 1e3 else now
      spark = newSession()
      val s1 = now
      val link = outDir.resolve(s"data-$rep")
      Files.deleteIfExists(link)
      dataDir = Files.createSymbolicLink(link, Paths.get(dataRoot).toAbsolutePath).toString
      val warm = keys.map(request(spark, _))
      emit(obj("type" -> "setup", "rep" -> rep, "session_s" -> (s1 - s0),
        "warm_s" -> warm.map(r => r.end - r.start).sum, "wall_s" -> (now - s0)))
      warm.foreach { r =>
        emit(reqJson("warm", rep, verify(spark, r, dump.filter(_ => rep == 1).map(_.resolve(r.key)))))
      }
      System.gc()
    }

    // ---- untimed warm-up passes on the served session, so the timed passes
    // start past the steepest part of the JIT warm-up
    val rnd = new scala.util.Random(seed)
    (1 to warmPasses).foreach { pass =>
      rnd.shuffle(keys).map(request(spark, _))
        .foreach(r => emit(reqJson("warmpass", pass, verify(spark, r, None))))
    }

    // ---- timed closed loop: a fixed number of seed-permuted passes. A
    // traced run alternates untraced and traced passes, so it reports the
    // tracing overhead on the same JVM.
    val tracer = new Tracer
    (1 to passes).foreach { pass =>
      val tracing = traced && pass % 2 == 0
      if (tracing) spark.sparkContext.addSparkListener(tracer)
      val order = rnd.shuffle(keys)
      System.gc()
      val hp = hostProbeS()
      val p0 = now; val c0 = appCpuS; val pc0 = cpuS; val g0 = gcS; val j0 = jitS
      val reqs = order.map(request(spark, _))
      emit(obj("type" -> "pass", "pass" -> pass, "traced" -> tracing, "n" -> order.size,
        "wall_s" -> (now - p0), "cpu_s" -> (appCpuS - c0), "process_cpu_s" -> (cpuS - pc0),
        "gc_s" -> (gcS - g0), "jit_s" -> (jitS - j0), "host_probe_s" -> hp))
      if (tracing) {
        Thread.sleep(300) // let the listener bus drain before detaching
        spark.sparkContext.removeSparkListener(tracer)
      }
      reqs.foreach(r => emit(reqJson("req", pass, verify(spark, r, None))))
    }

    // ---- traced only: each graph key against its direct twin, alternating,
    // after one untimed request of each that builds its own fixtures
    if (traced && twins.nonEmpty) {
      twins.flatMap { case (g, t) => Seq(g, t) }.distinct
        .foreach(k => verify(spark, request(spark, k), None))
      (1 to twinRounds).foreach { round =>
        twins.foreach { case (g, t) =>
          Seq(g, t).foreach { k =>
            emit(reqJson("twin", round, verify(spark, request(spark, k), None), "pair" -> g))
          }
        }
      }
    }

    // ---- trace records: jobs with their (key, phase) and counters
    tracer.jobs.values.toSeq.sortBy(_.jobId).foreach { j =>
      emit(obj(Seq[(String, Any)]("type" -> "job", "key" -> j.key, "phase" -> j.phase,
        "job" -> j.jobId, "start" -> j.start / 1e3, "end" -> j.end / 1e3,
        "stages" -> j.stages) ++ tracer.Names.zip(tracer.counters(j.jobId).synchronized {
          tracer.counters(j.jobId).toSeq
        }): _*))
    }

    val conf = spark.conf.getAll.filterNot { case (k, _) =>
      k.contains("password") || k.contains("secret") || k.startsWith("spark.app.") ||
        k == "spark.driver.host" || k == "spark.driver.port" || k == "spark.executor.id"
    }
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    val hwmKb = status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(-1.0)
    emit(obj("type" -> "end", "passes" -> passes, "peak_rss_mb" -> hwmKb / 1024,
      "cpus" -> cpus, "cores" -> cores, "codegen_s" -> CodeGenerator.compileTime / 1e9,
      "codegen_classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "spark_version" -> spark.version,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "conf" -> conf.toMap))
    spark.stop()
    Files.write(outDir.resolve("events.jsonl"), lines.asJava, UTF_8)
  }

  /** Direct twins of the `process_graph*` keys: the non-graph keys that
    * share a graph key's oracle SQL. */
  def twinPairs(oracle: Map[String, String]): Seq[Seq[String]] = {
    val graphs = oracle.keys.filter(_.startsWith("process_graph")).toSeq.sorted
    graphs.flatMap { g =>
      oracle.collect { case (k, sql) if !k.startsWith("process_graph") && sql == oracle(g) => k }
        .toSeq.sorted.headOption.map(t => Seq(g, t))
    }
  }
}
