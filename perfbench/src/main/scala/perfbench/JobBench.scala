package perfbench

import java.io.{File, FileInputStream, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.security.MessageDigest
import java.util.zip.GZIPInputStream

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Main, SparkEntry}
import graft.jobs.{Jobs, Sinks}

/** Runs the production job dispatch `graft.Main.run` on generated
  * inputs and writes one JSON line per setup and per rep.
  *
  * Every rep gets a fresh root directory for its targets, warehouse and
  * Spark local dir, and a fresh session (started and warmed up outside
  * the timed part); the root is deleted when the rep ends. A traced rep
  * replays the job's step loop from `Jobs.pipelines`, `perTermPipelines`
  * and `preSteps` instead of calling `Main.run`, so that each step gets
  * its own span and job group.
  *
  *   JobBench --workload W --data DIR --work DIR --date YYYY-MM-DD
  *            --cores N --seconds S --mode plain|trace
  *            [--traced-reps K] --out FILE [--conf key=value ...]
  *
  * `--mode plain` runs reps for about `--seconds` (see [[Workload]]).
  * `--mode trace` runs a plain rep, the traced reps (`--traced-reps`,
  * default 1) and another plain rep. Measured reps follow the setup-only
  * cycles, so the first one runs on a JVM as cold as a user's fresh
  * `spark-submit` after its first query.
  */
object JobBench {

  /** A workload: the jobs run back to back, the number of targets, and
    * the seconds budgeted per rep. A plain run makes
    * `max(1, seconds / repSeconds)` reps, a count that does not depend on
    * how fast the host runs, so a slower or faster rep never changes how
    * many reps a median is taken over. */
  final case class Workload(jobs: Seq[String], targets: Int, repSeconds: Double)

  val workloads: Map[String, Workload] = Map(
    "reference_extract" -> Workload(
      Seq("upload_advisors", "upload_recent_refresh", "upload_snapshot"), 3, 12.5),
    "curate_corpus" -> Workload(Seq("curate_corpus"), 1, 25.0),
    "maintain_indexes" -> Workload(Seq("maintain_indexes"), 1, 25.0))

  final case class Opts(workload: String, data: String, work: String,
                        date: String, cores: Int, seconds: Double,
                        mode: String, tracedReps: Int,
                        out: String, conf: Seq[(String, String)])

  def parse(args: Array[String]): Opts = {
    val kv = mutable.LinkedHashMap.empty[String, String]
    val conf = mutable.ArrayBuffer.empty[(String, String)]
    args.grouped(2).foreach {
      case Array("--conf", c) =>
        val i = c.indexOf('='); conf += (c.take(i) -> c.drop(i + 1))
      case Array(k, v) if k.startsWith("--") => kv(k.drop(2)) = v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }
    def get(k: String) = kv.getOrElse(k, sys.error(s"--$k is required"))
    Opts(get("workload"), get("data"), get("work"), get("date"),
      get("cores").toInt, get("seconds").toDouble, get("mode"),
      kv.getOrElse("traced-reps", "1").toInt,
      get("out"), conf.toSeq)
  }

  // ---- small JSON writer -------------------------------------------------
  def js(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(js).mkString("[", ",", "]")
  }

  // ---- process-level probes ---------------------------------------------
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def cpuNs: Long = os.getProcessCpuTime

  /** Peak live heap: the most heap in use right after any collection
    * since the last reset. The pools' own peak usage is not used: with
    * a fixed-size heap it reads the heap's capacity, not the job. */
  @volatile private var livePeakB = 0L
  @volatile var collections = 0L
  private val heapPoolNames = heapPools.map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: javax.management.NotificationEmitter =>
      emitter.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPoolNames(pool) => u.getUsed }.sum
          synchronized { livePeakB = math.max(livePeakB, after); collections += 1 }
        }, null, null)
    case _ => ()
  }
  def resetHeapPeak(): Unit = synchronized {
    livePeakB = heapPools.map(_.getUsage.getUsed).sum
    collections = 0
  }
  def heapPeakB: Long = synchronized(livePeakB)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Each landed extract of one target: key → (sha256 of the
    * decompressed CSV, rows, gzip bytes, sha256 of its lines sorted). A
    * key is the directory that holds the committed part files. The
    * sorted digest only tells a reordering from other differences. */
  def landed(target: File): Map[String, (String, Long, Long, String)] = {
    val byKey = mutable.TreeMap.empty[String, mutable.ArrayBuffer[File]]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(walk)
      else if (f.getName.startsWith("part-")) {
        val key = target.toPath.relativize(f.getParentFile.toPath).toString
        byKey.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += f
      }
    walk(target)
    byKey.map { case (key, parts) =>
      val csv = new java.io.ByteArrayOutputStream()
      var bytes = 0L
      parts.sortBy(_.getName).foreach { p =>
        bytes += p.length
        val in = new GZIPInputStream(new FileInputStream(p), 1 << 16)
        try in.transferTo(csv) finally in.close()
      }
      val text = csv.toByteArray
      val lines = new String(text, "UTF-8").split("\n", -1).dropRight(1)
      def sha(b: Array[Byte]) =
        MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
      key -> (sha(text), text.count(_ == '\n').toLong, bytes,
        sha(lines.sorted.mkString("\n").getBytes("UTF-8")))
    }.toMap
  }

  // ---- sessions ------------------------------------------------------------
  def startSession(o: Opts, root: File): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"graft-${o.workload}")
      // the settings graft.Main.main builds its session with
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // per-rep isolation, so every rep starts from the same state
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(root, "local").getAbsolutePath)
    o.conf.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** Warm-up: the parquet scan, join, aggregate, sort and gzip CSV write
    * paths every workload uses, on the generated inputs but outside the
    * program's code. */
  def warmUp(spark: SparkSession, o: Opts, root: File): Unit = {
    val l = spark.read.parquet(s"${o.data}/lineitem.parquet")
    val ord = spark.read.parquet(s"${o.data}/orders.parquet")
    l.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority", "l_returnflag")
      .agg(sum("l_quantity").as("q"), countDistinct("o_custkey").as("c"))
      .orderBy("o_orderpriority", "l_returnflag")
      .coalesce(1).write.mode("overwrite").option("compression", "gzip")
      .csv(new File(root, "warmup").getAbsolutePath)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = workloads.getOrElse(o.workload,
      sys.error(s"unknown workload ${o.workload}; known: ${workloads.keys.mkString(", ")}"))
    val out = new PrintWriter(o.out, "UTF-8")
    def emit(m: collection.Map[String, Any]): Unit = { out.println(js(m)); out.flush() }
    val work = new File(o.work)
    var serial = 0

    /** Starts a session on a fresh root and records the setup time. */
    def setUp(): (SparkSession, File) = {
      serial += 1
      val root = new File(work, s"rep-$serial")
      deleteTree(root)
      root.mkdirs()
      val t0 = System.nanoTime()
      val spark = startSession(o, root)
      warmUp(spark, o, root)
      val s = (System.nanoTime() - t0) / 1e9
      emit(Map("kind" -> "setup", "setup_s" -> s))
      (spark, root)
    }
    def tearDown(spark: SparkSession, root: File): Unit = {
      spark.stop()
      deleteTree(root)
    }

    def rep(kind: String): Unit = {
      val traced = kind == "traced"
      val (spark, root) = setUp()
      try {
        val targets = (0 until w.targets).map(i => new File(root, s"target-$i"))
        val targetPaths = targets.map(_.getAbsolutePath)
        val tracer = if (traced) Some(new Tracer(spark, o)) else None
        System.gc()
        resetHeapPeak()
        val c0 = cpuNs
        val t0 = System.nanoTime()
        val results = w.jobs.flatMap { job =>
          tracer match {
            case Some(t) => t.runJob(job, targetPaths)
            case None => Main.run(spark, job, o.data, targetPaths, o.date)
          }
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (cpuNs - c0) / 1e9
        val heap = heapPeakB
        System.gc()
        val retained = heapPools.map(_.getUsage.getUsed).sum
        val blocksLeft = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
        val land = targets.map(t => t.getName -> landed(t)).toMap
        emit(Map(
          "kind" -> kind,
          "job_wall_s" -> wall, "cpu_s" -> cpu, "heap_peak_b" -> heap,
          "collections" -> collections, "heap_retained_b" -> retained,
          "cache_blocks_left" -> blocksLeft,
          "deliveries" -> results.map { case (e, t, ok) =>
            Map("extract" -> e, "target" -> new File(t).getName, "ok" -> ok) },
          "landed" -> land.map { case (t, m) =>
            t -> m.map { case (k, (sha, rows, bytes, sorted)) =>
              k -> Map("sha256" -> sha, "rows" -> rows, "bytes" -> bytes,
                "sorted_sha256" -> sorted) } },
          "spans" -> tracer.map(_.spans(land(targets.head.getName))).getOrElse(Seq.empty)))
      } finally tearDown(spark, root)
    }

    try {
      o.mode match {
        case "plain" =>
          // two setup-only cycles first, so that setup_s is a median of
          // at least three setups
          (1 to 2).foreach { _ => val (spark, root) = setUp(); tearDown(spark, root) }
          (1 to math.max(1, (o.seconds / w.repSeconds).toInt)).foreach(_ => rep("rep"))
        case "trace" =>
          // the first rep is colder than the rest, so tracing overhead
          // is taken against a plain rep after the traced ones
          rep("rep")
          (1 to o.tracedReps).foreach(_ => rep("traced"))
          rep("rep")
        case m => sys.error(s"unknown mode $m")
      }
    } finally out.close()
  }

  final case class Span(id: Int, parent: Int, job: String, step: String,
                        key: Option[String], start: Long)

  /** Replays `Jobs.run`'s step loop with one span per step. */
  final class Tracer(spark: SparkSession, o: Opts) {
    private val sc = spark.sparkContext
    private val meter = new Meter
    sc.addSparkListener(meter)
    spark.listenerManager.register(meter)

    private val spansOut = mutable.ArrayBuffer.empty[(Span, mutable.LinkedHashMap[String, Any])]
    private var nextId = 1

    /** Runs `body` as phase `phase` of span `s`; returns its value and
      * adds its wall time and counters to the span's record. */
    private def phase[T](s: Span, rec: mutable.LinkedHashMap[String, Any],
                         phase: String)(body: => T): T = {
      val group = s"${s.id}:$phase"
      PerfbenchBus.drain(sc)
      meter.openPhase(group)
      sc.setJobGroup(group, s"${s.job}/${s.step}/$phase", interruptOnCancel = false)
      val t0 = System.nanoTime()
      val t0ms = System.currentTimeMillis()
      try body
      finally {
        val wall = (System.nanoTime() - t0) / 1e9
        val t1ms = System.currentTimeMillis()
        sc.clearJobGroup()
        PerfbenchBus.drain(sc)
        meter.openPhase("-")
        val c = meter.take(group)
        rec(s"${phase}_s") = wall
        if (phase == "fanout") {
          // the part of the fan-out during which no Spark job ran
          val busy = union(c.jobSpans.toSeq.map { case (a, b) =>
            (math.max(a, t0ms), math.min(b, t1ms)) })
          rec("driver_s") = math.max(0.0, wall - busy / 1e3)
        }
        if (phase == "build") rec("eager_jobs") = c.jobs
        def add(k: String, v: Double): Unit =
          rec(k) = rec.get(k).map(_.asInstanceOf[Double]).getOrElse(0.0) + v
        add("jobs", c.jobs.toDouble)
        add("stages", c.stages.toDouble)
        add("tasks", c.tasks.toDouble)
        add("task_cpu_s", c.taskCpuNs / 1e9)
        add("task_run_s", c.taskRunMs / 1e3)
        add("gc_s", c.gcMs / 1e3)
        add("shuffle_write_b", c.shuffleWriteB.toDouble)
        add("shuffle_read_b", c.shuffleReadB.toDouble)
        add("spill_b", c.spillB.toDouble)
        add("source_jobs", c.sourceJobs.toDouble)
        add("source_load_s", c.sourceJobMs / 1e3)
        add("plan_s", c.planMs / 1e3)
        add("exchanges", c.exchanges.toDouble)
        add("queries", c.queries.toDouble)
        add("failed_queries", c.failedQueries.toDouble)
      }
    }

    private def union(iv: Seq[(Long, Long)]): Long = {
      var total = 0L
      var end = Long.MinValue
      iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > end) { total += b - a; end = b }
        else if (b > end) { total += b - end; end = b }
      }
      total
    }

    private def span[T](parent: Int, job: String, step: String, key: Option[String])
                       (body: (Span, mutable.LinkedHashMap[String, Any]) => T): T = {
      val s = Span(nextId, parent, job, step, key, System.nanoTime())
      nextId += 1
      val rec = mutable.LinkedHashMap.empty[String, Any]
      spansOut += (s -> rec)
      try body(s, rec)
      finally {
        rec("wall_s") = (System.nanoTime() - s.start) / 1e9
        rec("cache_blocks_left") =
          sc.getRDDStorageInfo.map(_.numCachedPartitions).sum.toDouble
      }
    }

    /** One extract: build the frame, then fan it out. */
    private def extract(jobSpan: Int, job: String, step: String, key: String,
                        targets: Seq[String], buildPhase: String)
                       (build: => DataFrame): Seq[(String, String, Boolean)] =
      span(jobSpan, job, step, Some(key)) { (s, rec) =>
        val df = phase(s, rec, buildPhase)(build)
        val res = phase(s, rec, "fanout")(Sinks.fanOut(df, targets, key))
        rec("deliveries") = res.size.toDouble
        rec("failed") = res.count(!_._2).toDouble
        res.map { case (t, ok) => (step, t, ok) }
      }

    def runJob(job: String, targets: Seq[String]): Seq[(String, String, Boolean)] =
      span(0, job, "job", None) { (js, _) =>
        val date = o.date
        val keyFor: String => String =
          if (job == "upload_advisors") Sinks.advisorsKey(date, _)
          else Sinks.dailyKey(date, _)
        val pre = Jobs.preSteps.get(job).toSeq.flatMap { case (name, step) =>
          extract(js.id, job, name, keyFor(name), targets, "maintain") {
            step(spark, o.data, date)
          }
        }
        val flat = Jobs.pipelines(job).flatMap { case (query, name) =>
          extract(js.id, job, name, keyFor(name), targets, "build") {
            SparkEntry.queries(query)(spark, o.data)
          }
        }
        val termQueries = Jobs.perTermPipelines.getOrElse(job, Seq.empty)
        val terms =
          if (termQueries.isEmpty) Seq.empty
          else span(js.id, job, "current-terms", None) { (s, rec) =>
            phase(s, rec, "terms")(Jobs.currentTermIds(spark, o.data))
          }
        val perTerm = for {
          term <- terms
          (dir, file, q) <- termQueries
          r <- extract(js.id, job, s"$file-$term",
            Sinks.termKey(date, dir, file, term), targets, "build") {
            q(spark, o.data, term)
          }
        } yield r
        pre ++ flat ++ perTerm
      }

    /** Span records, with rows and landed bytes of one target. */
    def spans(oneTarget: Map[String, (String, Long, Long, String)])
        : Seq[collection.Map[String, Any]] =
      spansOut.toSeq.map { case (s, rec) =>
        val l = s.key.flatMap(oneTarget.get)
        mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent,
          "job" -> s.job, "step" -> s.step, "key" -> s.key.orNull,
          "rows" -> l.map(_._2.toDouble).getOrElse(0.0),
          "landed_b" -> l.map(_._3.toDouble).getOrElse(0.0),
          "sha256" -> l.map(_._1).orNull,
          "sorted_sha256" -> l.map(_._4).orNull) ++ rec
      }
  }
}
