package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** JVM side of the benchmark. `perfbench/run.py` launches it with `key=value`
  * arguments and reads back the JSON file named by `out=`.
  *
  * Modes:
  *  - `etl_full`:  OsmEtlJob.runTimed on a snapshot, then PostgisLoadJob.load
  *                 into a fresh embedded Derby (region-slice mode): one cold
  *                 iteration, then `warm` more in the same JVM.
  *  - `query_mix`: a warm session runs a key sequence through
  *                 SparkEntry.queries; the first pass over the distinct keys
  *                 is set-up, the rest is the timed closed loop.
  *
  * With `trace=1` every call into a layer runs inside a [[Tracer]] span and
  * the Spark counters of the tasks it ran are attributed to that span.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val kv = args.drop(1).map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cores = kv("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$mode")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", kv("local_dir"))
      .config("spark.sql.warehouse.dir", kv("local_dir") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = System.currentTimeMillis()
    val tracer = new Tracer(spark, cores, kv.getOrElse("run_id", "0"), kv.getOrElse("trace", "0") == "1")
    val out = mutable.LinkedHashMap[String, Any]("ready_ms" -> readyMs, "cores" -> cores)
    try {
      mode match {
        case "etl_full"  => etlFull(spark, kv, tracer, out)
        case "query_mix" => queryMix(spark, kv, tracer, out)
        case other       => throw new IllegalArgumentException(s"unknown mode $other")
      }
      if (tracer.enabled) {
        tracer.drain()
        out("layers") = tracer.layerCounters()
        out("non_task_s") = tracer.nonTaskSeconds()
        tracer.writeSpans(kv("spans"))
      }
      out("rss_peak_mb") = vmHwmMb()
      Files.write(Paths.get(kv("out")), Json.obj(out).getBytes(UTF_8))
    } finally spark.stop()
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Read-back queries over a freshly written lake: one aggregate per lake
    * table, the numbers the DuckDB check recomputes from the snapshot. They
    * run once per iteration, outside every timing and span. */
  val ReadBack: Seq[(String, String)] = Seq(
    "ways" -> """SELECT count(*) AS n, sum(n_points) AS n_points,
                |  sum(bbox.minx) AS minx, sum(bbox.maxy) AS maxy,
                |  sum(octet_length(wkb)) AS wkb_bytes, count(DISTINCT region) AS regions
                |FROM t""".stripMargin,
    "relations" -> """SELECT count(*) AS n, sum(n_member_ways) AS members,
                     |  sum(n_points) AS n_points, sum(minx) AS minx, sum(maxy) AS maxy FROM t""".stripMargin,
    "areas" -> """SELECT count(*) AS n, CAST(sum(round(area * 20000)) AS BIGINT) AS shoe,
                 |  sum(octet_length(polygon_wkb)) AS wkb_bytes FROM t""".stripMargin,
    "layers" -> """SELECT count(*) AS n, count_if(layer = 'heavy') AS heavy,
                  |  count(DISTINCT node_id) AS nodes FROM t""".stripMargin)

  private def readBack(spark: SparkSession, lake: String): Map[String, Any] =
    ReadBack.map { case (t, sql) =>
      spark.read.parquet(s"$lake/$t").createOrReplaceTempView("t")
      val row = spark.sql(sql).collect().head
      t -> row.schema.fieldNames.zipWithIndex.map { case (f, i) => f -> row.get(i) }.toMap
    }.toMap

  /** Per-table lake footprint: rows from the job, bytes and files on disk. */
  private def lakeStats(lake: String, counts: Seq[(String, Long)]): Map[String, Any] = {
    val files = Files.walk(Paths.get(lake)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
    Map("rows" -> counts.map(_._2).sum, "bytes" -> files.map(Files.size).sum, "files" -> files.size,
        "tables" -> counts.toMap)
  }

  /** Traced runs only: read every input through a no-op sink, once. */
  private def scanSources(tables: Seq[() => DataFrame], tracer: Tracer,
                          out: mutable.LinkedHashMap[String, Any]): Unit =
    if (tracer.enabled) {
      val t0 = System.nanoTime()
      tables.foreach(df => tracer.span("sources.scan")(df().write.format("noop").mode("overwrite").save()))
      out("scan_s") = seconds(t0)
    }

  private def etlInputs(spark: SparkSession, dir: String): Seq[() => DataFrame] =
    Seq("lineitem", "part", "orders", "customer", "nation", "region").map(t => () => graft.T(spark, dir, t))

  /** The weekly full rebuild, repeated in one JVM: the first (cold)
    * iteration pays JVM warm-up, codegen and JIT like every weekly
    * `spark-submit`; `warm` warm iterations follow, and a traced run adds
    * one traced iteration. Each iteration writes a fresh lake and loads a
    * fresh Derby database, both deleted before the next iteration starts. */
  def etlFull(spark: SparkSession, kv: Map[String, String], tracer: Tracer,
              out: mutable.LinkedHashMap[String, Any]): Unit = {
    val snap = kv("snap")
    def iteration(i: Int, traced: Boolean): Map[String, Any] = {
      val lake = s"${kv("lake")}/$i"
      val url = graft.operators.JdbcIO.freshEmbeddedDerby("perfbench_pg")
      val span = if (traced) tracer else Tracer.off
      val it = mutable.LinkedHashMap[String, Any]("traced" -> traced)
      val t0 = System.nanoTime()
      val (counts, stages) = span.span("plans.etl") {
        graft.plans.OsmEtlJob.runTimed(spark, snap, lake, kv("date"))
      }
      val t1 = System.nanoTime()
      val loaded = span.span("load.jdbc") {
        graft.plans.PostgisLoadJob.load(spark, lake, url, region = Some("bench"))
      }
      val t2 = System.nanoTime()
      it ++= Seq("job_s" -> (t2 - t0) / 1e9, "etl_s" -> (t1 - t0) / 1e9, "load_s" -> (t2 - t1) / 1e9,
                 "stages" -> stages.toMap, "lake" -> lakeStats(lake, counts),
                 "load_rows" -> loaded.map(_._2).sum)
      // what the serving database holds, counted over JDBC, not what the job returned
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        it("db_rows") = graft.plans.PostgisLoadJob.LakeTables.map { t =>
          val rs = conn.createStatement().executeQuery(
            s"""SELECT COUNT(*) FROM osm_$t WHERE "load_region" = 'bench'""")
          rs.next(); t -> rs.getLong(1)
        }.toMap
      } finally conn.close()
      it("readback") = readBack(spark, lake)
      dropDerby(url)
      deleteTree(Paths.get(lake))
      it.toMap
    }
    val iterations = mutable.ArrayBuffer(iteration(0, traced = false))
    for (_ <- 1 to kv("warm").toInt) iterations += iteration(iterations.size, traced = false)
    if (tracer.enabled) iterations += iteration(iterations.size, traced = true)
    out("iterations") = iterations.toSeq
    scanSources(etlInputs(spark, snap), tracer, out)
  }

  /** Shut an embedded Derby database down and delete its directory. */
  private def dropDerby(url: String): Unit = {
    val db = url.stripPrefix("jdbc:derby:").takeWhile(_ != ';')
    try java.sql.DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true")
    catch { case _: java.sql.SQLException => () } // Derby signals a clean shutdown this way
    deleteTree(Paths.get(db).getParent)
  }

  private def deleteTree(root: java.nio.file.Path): Unit =
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def queryMix(spark: SparkSession, kv: Map[String, String], tracer: Tracer,
               out: mutable.LinkedHashMap[String, Any]): Unit = {
    val data = kv("data")
    val seq = Files.readAllLines(Paths.get(kv("keys")), UTF_8).asScala.map(_.trim).filter(_.nonEmpty).toSeq
    val queries = graft.SparkEntry.queries
    val results = kv("results")
    // in a traced run every other pass of the loop is traced, so the same
    // run yields the tracing overhead over the same keys; the set-up pass
    // is never traced
    def runKey(k: String, traced: Boolean): (Array[Row], org.apache.spark.sql.types.StructType, Double, Double) = {
      def span[A](name: String)(body: => A): A = if (traced) tracer.span(name)(body) else body
      val t0 = System.nanoTime()
      val df: DataFrame = span("operators.build")(queries(k)(spark, data))
      val t1 = System.nanoTime()
      val rows = span("operators.exec")(df.collect())
      val t2 = System.nanoTime()
      graft.Caches.drain()
      spark.catalog.clearCache()
      (rows, df.schema, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    // set-up: the first pass pays codegen and one-time layout builds; its
    // result is the reference each timed execution must reproduce, and is
    // dumped (outside the timed sum) for the DuckDB oracle check
    val first = mutable.LinkedHashMap.empty[String, Array[Row]]
    val passS = mutable.LinkedHashMap.empty[String, Double]
    seq.distinct.foreach { k =>
      val (rows, schema, b, e) = runKey(k, traced = false)
      passS(k) = b + e
      first(k) = rows
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$results/$k")
    }
    val oracle = graft.SparkEntry.oracleSql
    Files.write(Paths.get(s"$results/oracle_sql.json"),
      Json.obj(first.keys.map(k => k -> oracle(k)).toMap).getBytes(UTF_8))
    out("first_pass_s") = passS
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val loop0 = System.nanoTime()
    val pool = seq.distinct.size
    seq.zipWithIndex.foreach { case (k, i) =>
      val traced = tracer.enabled && (i / pool) % 2 == 0
      val (rows, _, b, e) = runKey(k, traced)
      samples += Map("key" -> k, "build_s" -> b, "exec_s" -> e, "traced" -> traced,
                     "same" -> Same.rows(rows, first(k)))
    }
    out("loop_s") = (System.nanoTime() - loop0) / 1e9
    out("samples") = samples.toSeq
    scanSources((() => graft.T.events(spark, data)) +: Seq("region", "nation", "customer",
      "supplier", "part", "orders", "lineitem", "documents", "embeddings")
      .map(t => () => graft.T(spark, data, t)), tracer, out)
    // layouts the operators wrote under their scratch roots (graft.Scratch)
    out("scratch_bytes") = Files.walk(Paths.get(sys.props("java.io.tmpdir"))).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.contains("/graft_")).map(Files.size).sum
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Value equality of two collected results, tolerant to the last bits of a
  * floating-point sum whose order may differ between executions. */
object Same {
  def rows(a: Array[Row], b: Array[Row]): Boolean =
    a.length == b.length && a.indices.forall(i => value(a(i), b(i)))

  def value(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Row, y: Row) => x.length == y.length && (0 until x.length).forall(i => value(x.get(i), y.get(i)))
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x: scala.collection.Map[_, _], y: scala.collection.Map[_, _]) =>
      x.size == y.size && x.forall { case (k, v) => y.asInstanceOf[scala.collection.Map[Any, Any]].get(k).exists(value(v, _)) }
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.iterator.zip(y.iterator).forall { case (p, q) => value(p, q) }
    case (x: Double, y: Double) => close(x, y)
    case (x: Float, y: Float) => close(x.toDouble, y.toDouble)
    case _ => a == b
  }

  private def close(x: Double, y: Double): Boolean =
    x == y || (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def obj(m: scala.collection.Map[String, Any]): String =
    m.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case m: scala.collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case s: scala.collection.Iterable[_] => s.map(value).mkString("[", ",", "]")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case d: java.math.BigDecimal => d.toPlainString
    case n: Number => n.toString
    case o => str(o.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Spans around calls into the program's layers, plus a listener that
  * attributes every finished task to the span whose thread submitted its
  * job (via a local property, so attribution survives the asynchronous
  * listener bus). Spans stay in memory and are written out at exit. */
object Tracer {
  /** A tracer that records nothing, for the untraced iterations of a traced run. */
  val off: Tracer = new Tracer(null, 1, "", enabled = false)
}

final class Tracer(spark: SparkSession, cores: Int, runId: String, val enabled: Boolean) {
  private lazy val sc = spark.sparkContext
  private val Prop = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, startMs: Long, startNs: Long) {
    var endMs = 0L
    var endNs = 0L
    def wallS: Double = (endNs - startNs) / 1e9
  }

  final class Counters {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, schedDelayMs, fetchWaitMs = 0L
    var shuffleWrite, shuffleRead, spill, inputBytes, inputRows = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val counters = new java.util.concurrent.ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private def of(span: Int): Counters = counters.computeIfAbsent(span, _ => new Counters)
  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt)

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach(s => of(s).synchronized(of(s).jobs += 1))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach { s =>
        stageSpan.put(e.stageInfo.stageId, s)
        of(s).synchronized(of(s).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val c = of(s)
        val info = e.taskInfo
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          if (!info.successful) c.failedTasks += 1
          c.intervals += ((info.launchTime, info.finishTime))
          if (m != null) {
            c.runMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
            c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.spill += m.diskBytesSpilled + m.memoryBytesSpilled
            c.inputBytes += m.inputMetrics.bytesRead
            c.inputRows += m.inputMetrics.recordsRead
          }
        }
      }
  })

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id),
                   System.currentTimeMillis(), System.nanoTime())
      spans += s
      val saved = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, s.id.toString)
      stack ::= s
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Prop, saved)
      }
    }

  /** Block until the listener bus has delivered every event. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListenerBus(sc)

  private def layer(s: Span): String = s.name.takeWhile(_ != '.')

  /** Counters summed per layer (each task counts once, in its innermost span). */
  def layerCounters(): Map[String, Map[String, Double]] =
    spans.groupBy(layer).map { case (l, ss) =>
      val cs = ss.flatMap(s => Option(counters.get(s.id))).toSeq
      def sum(f: Counters => Long): Double = cs.map(f).sum.toDouble
      val wall = ss.filter(s => s.parent < 0 || layer(spans(s.parent)) != l).map(_.wallS).sum
      val run = sum(_.runMs) / 1e3
      l -> Map(
        "wall_s" -> wall,
        "jobs" -> sum(_.jobs), "stages" -> sum(_.stages), "tasks" -> sum(_.tasks),
        "failed_tasks" -> sum(_.failedTasks),
        "executor_run_s" -> run, "executor_cpu_s" -> sum(_.cpuNs) / 1e9, "gc_s" -> sum(_.gcMs) / 1e3,
        "scheduler_delay_s" -> sum(_.schedDelayMs) / 1e3,
        "shuffle_fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
        "shuffle_write_bytes" -> sum(_.shuffleWrite), "shuffle_read_bytes" -> sum(_.shuffleRead),
        "spill_bytes" -> sum(_.spill), "input_bytes" -> sum(_.inputBytes),
        "input_rows" -> sum(_.inputRows),
        "slot_busy_ratio" -> (if (wall > 0) run / (wall * cores) else 0.0))
    }

  /** Wall time of the top-level spans around the program's own calls
    * (plans, load, operators) during which no task of theirs ran: planning,
    * code generation, scheduling and driver-side work. */
  def nonTaskSeconds(): Double = {
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).toSeq.flatMap(subtree)
    spans.filter(s => s.parent < 0 && Set("plans", "load", "operators")(layer(s))).map { top =>
      val iv = subtree(top).flatMap(s => Option(counters.get(s.id)))
        .flatMap(c => c.synchronized(c.intervals.toList))
        .map { case (a, b) => (math.max(a, top.startMs), math.min(b, top.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var busy = 0L
      var curA = -1L
      var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { busy += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      busy += curB - curA
      math.max(0.0, top.wallS - busy / 1e3)
    }.sum
  }

  def writeSpans(path: String): Unit = {
    val lines = spans.map(s => Json.obj(mutable.LinkedHashMap[String, Any](
      "run_id" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS)))
    Files.write(Paths.get(path), lines.asJava, UTF_8)
  }
}
