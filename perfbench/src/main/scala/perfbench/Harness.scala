package perfbench

import java.io.{ByteArrayOutputStream, File, OutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.spark.storage.StorageLevel

/** The measuring JVM of the benchmark. `run.py` builds it, chooses the
  * inputs and turns its records into metrics.
  *
  * `java perfbench.Harness key=value ...` with
  *   workload  registry_mix | lake_chains | fingerprint | setup
  *   data      input table directory
  *   work      scratch directory for lakes (inside the checkout)
  *   out       JSON-lines file the records are written to, at exit
  *   units     timed registry passes, or timed chain ops
  *   trace     1 registers the listeners (per-layer run), 0 does not
  *   cores     local[N] and Sessions' shuffle width
  *   setups    session set-ups to time; the last one is kept
  *   ids       registry ids in run order (registry_mix, fingerprint)
  *
  * The harness calls the program only through its public functions:
  * `Sessions.local`, the registry functions, `Pipelines.run`,
  * `Pipelines.bronzeFromEvents`, `Tables` and `CorpusPipeline.run`. */
object Harness {
  private val records = mutable.ArrayBuffer.empty[Map[String, Any]]
  private def emit(r: Map[String, Any]): Unit = records.synchronized(records += r)

  private val threads = ManagementFactory.getThreadMXBean
  /** CPU time of each of the JVM's Java threads, less the JIT compiler
    * threads. Process CPU in a fresh JVM is mostly C2 compiling, which
    * still runs during the timed ops and swings with the host; GC threads
    * are not Java threads (their time is `jvm.gc_s`). */
  private def cpuByThread: Map[Long, Long] = threads.getAllThreadIds.iterator.flatMap { id =>
    val info = threads.getThreadInfo(id)
    val ns = threads.getThreadCpuTime(id)
    if (info == null || ns < 0 || info.getThreadName.contains("CompilerThread")) None
    else Some(id -> ns)
  }.toMap

  /** CPU time the Java threads spent since `before`. A thread that ended
    * in between is left out (Spark's idle task threads end after 60 s). */
  private def cpuSince(before: Map[Long, Long]): Long =
    cpuByThread.iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val data = a("data")
    val work = a("work")
    val units = a.getOrElse("units", "1").toInt
    val trace = a.getOrElse("trace", "0") == "1"
    val cores = a("cores")
    val setups = a.getOrElse("setups", "3").toInt
    val ids = a.get("ids").filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil)
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    emit(Map("kind" -> "jvm", "main_after_start_ms" -> (mainMs - startMs)))

    try {
      val spark = setUp(data, cores, setups)
      emitEnv(spark, cores)
      val tracer = if (trace) Some(new Trace(new File(work).getAbsolutePath)) else None
      tracer.foreach { t =>
        // QueryExecutionListener first: see Trace on the pairing order
        spark.listenerManager.register(t)
        spark.sparkContext.addSparkListener(t)
        CompileLog.attach()
      }
      workload match {
        case "registry_mix" => registry(spark, data, ids, cores.toInt, units)
        case "fingerprint" => registry(spark, data, ids, cores.toInt, 0)
        case "setup" => // set-up only: the build's class-data archive run
        case "lake_chains" => chains(spark, work, data, units)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      // Spark's ContextCleaner drops unreachable cached blocks (local
      // checkpoints, broadcasts) only after a GC has found them, and
      // asynchronously: the first GC alone left ~200 MB where the second
      // and later ones settle at ~100 MB
      val mem = ManagementFactory.getMemoryMXBean
      val rounds = (1 to 3).map { _ =>
        System.gc()
        Thread.sleep(250)
        mem.getHeapMemoryUsage.getUsed / 1048576.0
      }
      emit(Map("kind" -> "heap", "used_after_gc_mb" -> rounds.last, "rounds_mb" -> rounds,
        "max_mb" -> mem.getHeapMemoryUsage.getMax / 1048576.0,
        "persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size))
      spark.stop() // drains the listener bus before the trace is read
      tracer.foreach(t => t.records().foreach(emit))
      emit(Map("kind" -> "done"))
    } finally {
      val json = new ObjectMapper().registerModule(DefaultScalaModule)
      Files.write(Paths.get(a("out")), records.map(json.writeValueAsString)
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Times `n` fresh sessions, each with the same warm-up op; keeps the
    * last one. */
  private def setUp(data: String, cores: String, n: Int): SparkSession = {
    var spark: SparkSession = null
    (1 to n).foreach { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.util.Sessions.local(cores)
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      warmUp(spark, data)
      val t2 = System.nanoTime()
      emit(Map("kind" -> "setup", "rep" -> i,
        "session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9))
    }
    spark
  }

  /** A fixed small op that touches scan, shuffle, join and codegen. */
  private def warmUp(spark: SparkSession, data: String): Unit = {
    val ev = graft.util.Tables.events(spark, data)
    ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
      .join(ev.select(col("user_id"), col("event_type")).distinct(), "user_id")
      .write.format("noop").mode("overwrite").save()
  }

  private def emitEnv(spark: SparkSession, cores: String): Unit = {
    val rt = ManagementFactory.getRuntimeMXBean
    val memTotalKb = scala.util.Try {
      scala.io.Source.fromFile("/proc/meminfo").getLines()
        .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    }.getOrElse(0L)
    emit(Map("kind" -> "env",
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "mem_total_mb" -> memTotalKb / 1024.0,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "master" -> spark.sparkContext.master,
      "cores" -> cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "codegen_cache_max_entries" -> spark.conf.get("spark.sql.codegen.cache.maxEntries"),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "jvm_args" -> rt.getInputArguments.asScala.toSeq))
  }

  /** Per-op probe: wall, process CPU, GC and codegen deltas, under the op's
    * own job tag. */
  private def measured[T](spark: SparkSession, tag: String)(body: => T)
      : (Either[Throwable, T], Map[String, Any]) = {
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    val c0 = CompileLog.compiles; val cm0 = CompileLog.microsTotal.sum()
    val g0 = gcMs; val cpu0 = cpuByThread; val t0 = System.nanoTime()
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime(); val cpuNs = cpuSince(cpu0); val g1 = gcMs
    val c1 = CompileLog.compiles; val cm1 = CompileLog.microsTotal.sum()
    sc.clearJobTags()
    (res, Map("tag" -> tag, "ok" -> res.isRight,
      "error" -> res.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}".take(500)),
      "wall_s" -> (t1 - t0) / 1e9, "cpu_s" -> cpuNs / 1e9,
      "gc_s" -> (g1 - g0) / 1e3, "compiles" -> (c1 - c0),
      "compile_ms" -> (cm1 - cm0) / 1e3))
  }

  /** Probe fields read from process-wide counters: meaningless for ops that
    * overlap, so concurrent checks drop them. */
  private val processWide = Seq("cpu_s", "gc_s", "compiles", "compile_ms")

  /** Runs the tasks on `threads` threads and waits for all. A task's
    * exception (only a fatal one can escape `measured`) is rethrown here,
    * so it ends the run. */
  private def inParallel(threads: Int, tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() }))
      .foreach { f =>
        try f.get() catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      }
    finally pool.shutdown()
  }

  // ---- registry_mix -------------------------------------------------------

  private def registry(spark: SparkSession, data: String, ids: Seq[String],
      cores: Int, passes: Int): Unit = {
    val fns = graft.SparkEntry.queries
    val unknown = ids.filterNot(fns.contains)
    require(unknown.isEmpty, s"unknown registry ids: ${unknown.mkString(",")}")
    // Two untimed passes over the distinct ids, each on `cores` threads
    // with one job tag per id. The first persists each id's frame and runs
    // it to the `noop` sink, as the timed ops do: it compiles the timed
    // plans' generated classes into a cold cache (its count is the timed
    // working set) and JITs them. The second is the correctness pass: it
    // fingerprints the cached rows, so the queries are not run again, and
    // unpersists them. Only the passes' codegen totals are kept.
    val c0 = CompileLog.compiles
    val t0 = System.nanoTime()
    val frames = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    inParallel(cores, ids.distinct.map { id => () =>
      val (_, probe) = measured(spark, s"check.$id") {
        val df = fns(id)(spark, data).persist(StorageLevel.MEMORY_AND_DISK)
        frames.put(id, df)
        df.write.format("noop").mode("overwrite").save()
      }
      emit(Map("kind" -> "warm", "id" -> id) ++ (probe -- processWide))
    })
    val c1 = CompileLog.compiles
    val t1 = System.nanoTime()
    inParallel(cores, ids.distinct.map { id => () =>
      val (res, probe) = measured(spark, s"check.$id") {
        val df = Option(frames.get(id)).getOrElse(sys.error("the noop pass failed"))
        try fingerprint(df) finally df.unpersist(blocking = true)
      }
      emit(Map("kind" -> "check", "id" -> id) ++ (probe -- processWide) ++
        res.toOption.getOrElse(Map.empty[String, Any]))
    })
    emit(Map("kind" -> "check_pass", "warm_wall_s" -> (t1 - t0) / 1e9,
      "wall_s" -> (System.nanoTime() - t1) / 1e9, "compiles" -> (c1 - c0),
      "fingerprint_compiles" -> (CompileLog.compiles - c1)))
    System.gc() // the check pass's garbage is collected outside the timed phase
    // whole passes over the ids in the seeded order
    var n = 0
    (1 to passes).foreach { pass =>
      ids.foreach { id =>
        n += 1
        var buildS = 0.0
        val (_, probe) = measured(spark, s"op$n") {
          val t0 = System.nanoTime()
          val df = fns(id)(spark, data)
          buildS = (System.nanoTime() - t0) / 1e9
          df.write.format("noop").mode("overwrite").save()
        }
        emit(Map("kind" -> "op", "id" -> id, "pass" -> pass, "build_s" -> buildS) ++ probe)
      }
    }
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Row count plus an order-independent content hash: the exact sum and
    * the xor of per-row xxhash64 values (map columns hashed via JSON,
    * which xxhash64 does not accept). */
  def fingerprint(df: DataFrame): Map[String, Any] = {
    val n = df.schema.length
    val renamed = df.toDF((0 until n).map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .head()
    Map("rows" -> r.getLong(0),
      "hash_sum" -> (if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString),
      "hash_xor" -> (if (r.isNullAt(2)) 0L else r.getLong(2)),
      "columns" -> df.columns.toSeq)
  }

  // ---- chains -------------------------------------------------------------

  /** One untimed check of each chain, then `ops` timed ops. An op is one
    * platform run: the market chain, then the corpus chain. Every chain run
    * writes to a fresh lake root, which is measured and then deleted. The
    * two checks run concurrently, each with its own thread, job tags and
    * stdout capture: the chains are latency-bound and independent. The
    * checks also warm the JIT and the codegen cache for the timed ops. */
  private def chains(spark: SparkSession, work: String, data: String,
      ops: Int): Unit = {
    def chain(name: String, markers: Markers, root: Path): Seq[Any] =
      try Console.withOut(markers.stream) {
        markers.begin()
        val s = if (name == "market") marketChain(spark, data, root.toString)
          else corpusChain(spark, data, root.toString)
        s.productIterator.toSeq
      } finally markers.finish()

    inParallel(2, Seq("market", "corpus").map { name => () =>
      val root = Paths.get(work, s"check-$name").toAbsolutePath
      deleteTree(root)
      val markers = new Markers(spark, s"check.$name.${name.head}")
      val (res, probe) = measured(spark, s"check.$name")(chain(name, markers, root))
      emit(Map("kind" -> "check", "id" -> name, "summary" -> res.toOption,
        "markers" -> markers.lines) ++ (probe -- processWide))
      deleteTree(root)
    })

    (1 to ops).foreach { rep =>
      val tag = s"op$rep"
      val root = Paths.get(work, s"lake-$rep").toAbsolutePath
      deleteTree(root)
      System.gc()
      val market = new Markers(spark, s"$tag.m")
      val corpus = new Markers(spark, s"$tag.c")
      var walls = Seq.empty[Double]
      val (res, probe) = measured(spark, tag) {
        val t0 = System.nanoTime()
        val m = chain("market", market, root.resolve("market"))
        val t1 = System.nanoTime()
        val c = chain("corpus", corpus, root.resolve("corpus"))
        walls = Seq((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
        Seq(m, c)
      }
      emit(Map("kind" -> "op", "id" -> "chains", "summary" -> res.toOption,
        "chain_walls" -> walls, "lake_bytes" -> dirBytes(root),
        "markers" -> Map("market" -> market.lines, "corpus" -> corpus.lines)) ++ probe)
      deleteTree(root)
    }
  }

  private def marketChain(spark: SparkSession, data: String, root: String): Product = {
    import spark.implicits._
    val mapping = Seq.empty[(String, String)].toDF("from_id", "to_id")
    graft.Pipelines.run(spark, graft.Pipelines.bronzeFromEvents(spark, data), mapping, root)
  }

  private def corpusChain(spark: SparkSession, data: String, root: String): Product =
    graft.CorpusPipeline.run(spark, graft.util.Tables.documents(spark, data), root,
      compactTargetBytes = Some(64L * 1024 * 1024))

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

/** Timestamps the lines a chain prints and switches the thread's step job
  * tag to `<prefix>k` at each `step k/N` line. The chain runs on this
  * thread, so every job it submits after a marker carries that step's tag.
  * `begin` opens step 0: reading the chain's input before its first line. */
final class Markers(spark: SparkSession, prefix: String) {
  val lines = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var stepTag: Option[String] = None
  private val Step = """.*step (\d+)/(\d+).*""".r
  private val buf = new ByteArrayOutputStream()

  def begin(): Unit = onLine("begin")

  private def onLine(line: String): Unit = {
    val sc = spark.sparkContext
    stepTag.foreach(sc.removeJobTag)
    stepTag = line match {
      case Step(k, _) => Some(s"$prefix$k")
      case "begin" => Some(s"${prefix}0")
      case _ if line.contains("completed successfully") => None
      case _ => stepTag
    }
    stepTag.foreach(sc.addJobTag)
    lines += Map("line" -> line, "ns" -> System.nanoTime(),
      "ms" -> System.currentTimeMillis(), "step_tag" -> stepTag)
    System.err.println(line)
  }

  val stream = new PrintStream(new OutputStream {
    override def write(b: Int): Unit =
      if (b == '\n') { onLine(buf.toString("UTF-8")); buf.reset() } else buf.write(b)
  }, true, "UTF-8")

  def finish(): Unit = {
    stream.flush()
    if (buf.size() > 0) { onLine(buf.toString("UTF-8")); buf.reset() }
    stepTag.foreach(spark.sparkContext.removeJobTag)
    stepTag = None
  }
}
