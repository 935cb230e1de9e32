package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

import graft.{Graft, SparkEntry, Tables}
import graft.streaming.RecordStream

/** The benchmark's load generator: one JVM, one client thread, closed loop.
  *
  * It drives the engine only through its public entry points
  * (`Graft.session`, `SparkEntry.allDefs` / `QueryDef.run`, the
  * `RecordStream` Kinesis surface) and times each layer from outside, around
  * the calls into it. The run has two phases:
  *
  *  1. set-up: the session, the fixture relations and an untimed warm-up
  *     pass that fingerprints every query's result (and builds the engine's
  *     memos). Set-up time is measured from the process launch
  *     (`--launch-epoch-ns`, taken by the caller) to the end of that pass,
  *     so JVM start counts;
  *  2. timed passes over the query list until `--seconds` have elapsed,
  *     at least three. Passes keep getting faster for several passes after
  *     the warm-up (the JIT is still compiling), so the count is made odd:
  *     the median pass then sits at the same place in that trend in every
  *     run, and runs of the same code agree. With `--trace 1` the first two passes are
  *     untraced, then traced and untraced passes alternate, ending untraced
  *     (at least four passes), so each traced pass is compared with the
  *     untraced passes on either side of it, and never with the first timed
  *     pass, which reads the slowest.
  *
  * It writes raw samples as JSON (`--out`) and spans as JSON lines
  * (`--spans`); `run.py` turns them into metrics.
  */
object Harness {
  /** The capped backlog drain: the whole two-shard events log read through
    * the native Kinesis-like source at a fixed per-shard cap, decoded, and
    * its good side appended to a memory sink with an AvailableNow trigger.
    */
  val DrainName = "kinesis_drain"

  def drain(spark: SparkSession, dir: String, cap: Long): DataFrame = {
    val records = RecordStream.kinesisSource(spark, dir, cap)
    val (good, _) = RecordStream.splitDeadLetter(RecordStream.decodePayload(records))
    RecordStream.runToMemory(spark, good, DrainName, "append", availableNow = true)
  }

  /** Row count and an order-independent hash of a result: the sum and xor
    * of a 64-bit hash of each row's JSON rendering. Columns are renamed by
    * position first so that duplicate names cannot make the row ambiguous.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(to_json(struct(named.columns.map(col).toSeq: _*)))
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .head()
    val total = if (r.isNullAt(1)) "0" else r.getDecimal(1).toString
    val xor = if (r.isNullAt(2)) 0L else r.getLong(2)
    (r.getLong(0), f"$total:$xor%016x")
  }

  /** A fixed pure-JVM loop, timed as a CPU reference for the host. It does
    * not touch the engine; its result is recorded, never used to scale.
    */
  def cpuCanary(): Double = {
    val runs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var acc = 0L
      var i = 0
      while (i < 30000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += x & 1023
        i += 1
      }
      canarySink = acc // kept, so the loop cannot be optimized away
      (System.nanoTime() - t0) / 1e9
    }
    runs.sorted.apply(1)
  }
  @volatile private var canarySink = 0L

  private def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.map { p =>
        try if (Files.isRegularFile(p)) Files.size(p) else 0L
        catch { case _: java.io.IOException => 0L }
      }.sum
      finally walk.close()
    }

  private def secs(ns: Long): Double = ns / 1e9

  private def epochNs(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val order = Files.readAllLines(Paths.get(opt("queries"))).asScala.map(_.trim).filter(_.nonEmpty).toSeq
    val dir = Paths.get(opt("data")).toAbsolutePath.toString
    val launchNs = opt("launch-epoch-ns").toLong
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val drainCap = opt("drain-cap").toLong

    // 1. set-up: a session and the fixture relations. The engine's memos
    // (staged shard logs, graph edges, index tables) are built by the first
    // query that needs them, in the warm-up pass.
    val sessionT0 = System.nanoTime()
    val spark = Graft.session(s"local[$cores]", "perfbench")
    Tables.all.foreach(t => if (t == "events") Tables.events(spark, dir) else Tables.load(spark, dir, t))
    val sessionS = secs(System.nanoTime() - sessionT0)
    val sc = spark.sparkContext
    val scratchRoot = Paths.get(System.getProperty("java.io.tmpdir"))
    val defs = SparkEntry.allDefs.map(d => d.name -> d).toMap
    val unknown = order.filterNot(n => n == DrainName || defs.contains(n))
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    def build(name: String): DataFrame =
      if (name == DrainName) drain(spark, dir, drainCap) else defs(name).run(spark, dir)

    // Bench's between-query cleanup: cached frames and temp views (memory
    // sinks among them) would otherwise pile up across the loop.
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.catalog.listTables().collect().filter(_.isTemporary)
        .foreach(t => spark.catalog.dropTempView(t.name))
    }
    def tempViews(): Int = spark.catalog.listTables().collect().count(_.isTemporary)

    // the warm-up pass, with result fingerprints
    val warmT0 = System.nanoTime()
    val checks = order.map { name =>
      val t0 = System.nanoTime()
      val r = try {
        val (rows, hash) = fingerprint(build(name))
        Map("query" -> name, "rows" -> rows, "hash" -> hash)
      } catch {
        case NonFatal(e) => Map("query" -> name, "error" -> e.toString)
      }
      cleanup()
      r + ("warm_s" -> secs(System.nanoTime() - t0))
    }
    val warmupS = secs(System.nanoTime() - warmT0)
    val setupS = (epochNs() - launchNs) / 1e9

    // 2. timed passes, after the warm-up's garbage is collected
    System.gc()
    Thread.sleep(500)
    val tracer = new Tracer(spark)
    val baseNs = System.nanoTime()
    val baseUs = System.currentTimeMillis() * 1000
    def us(ns: Long): Long = baseUs + (ns - baseNs) / 1000

    val execs = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val minPasses = if (trace) 4 else 3
    val stopParity = if (trace) 0 else 1 // the pass count a run may stop at
    var pass = 0
    while (pass < minPasses || System.nanoTime() < deadline || pass % 2 != stopParity) {
      val traced = trace && pass >= 2 && pass % 2 == 0
      if (traced) tracer.attach()
      val passSpan = tracer.newId()
      val passT0 = System.nanoTime()
      var passSum = 0.0
      order.zipWithIndex.foreach { case (name, i) =>
        val qid = s"p$pass.q$i"
        val scratch0 = if (traced) dirBytes(scratchRoot) else 0L
        val persisted0 = sc.getPersistentRDDs.size
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val compileNs0 = CodeGenerator.compileTime
        sc.setLocalProperty(Tracer.QidKey, qid)
        val t0 = System.nanoTime()
        var t1 = -1L
        val error = try {
          val df = build(name)
          t1 = System.nanoTime()
          df.write.mode("overwrite").format("noop").option(Tracer.QidKey, qid).save()
          None
        } catch { case NonFatal(e) => Some(e.toString) }
        val t2 = System.nanoTime()
        sc.setLocalProperty(Tracer.QidKey, null)
        if (t1 < 0) t1 = t2
        passSum += secs(t2 - t0)
        execs += Map("pass" -> pass, "query" -> name, "construct_s" -> secs(t1 - t0),
          "write_s" -> secs(t2 - t1), "total_s" -> secs(t2 - t0), "traced" -> traced) ++
          error.map(e => "error" -> e)
        if (traced) {
          val querySpan = tracer.newId()
          val plan = tracer.awaitWritePlan(qid)
          val execStartUs = plan.map(_._2 * 1000).getOrElse(us(t1)) max us(t1)
          tracer.record(Span(querySpan, passSpan, qid, "query", name, us(t0), us(t2), Map(
            "ok" -> error.isEmpty,
            "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0),
            "compile_ns" -> (CodeGenerator.compileTime - compileNs0),
            "exchanges" -> plan.map(_._3).getOrElse(0L),
            "temp_views" -> tempViews(),
            "cached_frames" -> (sc.getPersistentRDDs.size - persisted0),
            "scratch_written_bytes" -> math.max(0L, dirBytes(scratchRoot) - scratch0))))
          tracer.record(Span(tracer.newId(), querySpan, qid, "construct", name, us(t0), us(t1), Map.empty))
          plan.foreach { case (startMs, endMs, _) =>
            tracer.record(Span(tracer.newId(), querySpan, qid, "plan", name,
              math.max(startMs * 1000, us(t1)), math.min(endMs * 1000, us(t2)), Map.empty))
          }
          tracer.record(Span(tracer.newId(), querySpan, qid, "exec", name,
            math.min(execStartUs, us(t2)), us(t2), Map.empty))
        }
        cleanup()
      }
      val passT1 = System.nanoTime()
      if (traced) {
        Thread.sleep(200) // let the listener bus deliver the pass's last events
        tracer.detach()
        tracer.record(Span(passSpan, -1L, null, "pass", s"pass $pass", us(passT0), us(passT1), Map.empty))
      }
      passes += Map("pass" -> pass, "traced" -> traced, "sum_s" -> passSum, "wall_s" -> secs(passT1 - passT0))
      pass += 1
    }

    val scratchRetained = dirBytes(scratchRoot)
    val canary = cpuCanary()
    // Spark's ContextCleaner frees shuffle and broadcast state only after a
    // GC has cleared the weak references to it, so collect, give the
    // cleaner time, and collect again; then read the heap left after the
    // last collection.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapLive = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def j(v: Any): Any = v match {
      case m: Map[_, _] => m.map { case (k, x) => k.toString -> j(x) }.asJava
      case s: Seq[_] => s.map(j).asJava
      case o: Option[_] => o.map(j).orNull
      case x => x
    }
    val spansOut = Files.newBufferedWriter(Paths.get(opt("spans")))
    try tracer.all.sortBy(_.startUs).foreach { s =>
      spansOut.write(mapper.writeValueAsString(j(Map("id" -> s.id, "parent" -> s.parent,
        "qid" -> Option(s.qid), "layer" -> s.layer, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> s.attrs))))
      spansOut.write("\n")
    } finally spansOut.close()
    val result = Map(
      "env" -> Map(
        "cores" -> cores,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "local_dir" -> sc.getConf.get("spark.local.dir", System.getProperty("java.io.tmpdir")),
        "scratch_root" -> scratchRoot.toString,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "cpu_canary_s" -> canary),
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "warmup_s" -> warmupS,
      "checks" -> checks,
      "passes" -> passes.toSeq,
      "execs" -> execs.toSeq,
      "heap_live_mb" -> heapLive / 1048576.0,
      "scratch_retained_mb" -> scratchRetained / 1048576.0)
    mapper.writeValue(Paths.get(opt("out")).toFile, j(result))
    spark.stop()
  }
}
