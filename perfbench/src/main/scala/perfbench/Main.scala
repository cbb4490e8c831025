package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Properties
import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.functions.col

import graft.{GraftSession, JobRunner, SparkEntry}
import graft.operators.Reconcile
import graft.sources.{JdbcSink, PartitionedLake}

/** Root under which the relocated registry writes lake and stream state. */
object Scratch {
  def root: String = sys.props("perfbench.scratch")
}

/** One unit of work the client submits: a registry query, or one refresh
  * of the medallion pipeline (`JobRunner.runDay` then `JdbcSink.load`). */
final case class Step(name: String, sf: String, refresh: Option[Refresh] = None)

/** One refresh: bronze reads events and silver/gold read orders, which
  * cover disjoint calendars in the catalog (events 2024-01-01..30, orders
  * 1995-01-01..2001-08-01), so each refresh runs bronze for an event day
  * and silver + gold for an order day, then serves that gold day. */
final case class Refresh(eventDay: String, orderDay: String)

/** The workloads and their seed-ordered step lists. The lists are trimmed
  * so that one closed-loop pass fits the benchmark's run length on four
  * cores; each keeps the queries that exercise its layers (see README). */
object Workloads {
  val headline: Seq[String] = Seq(
    "q07_agg_full", "q08_filter_pushdown", "q09_join_broadcast",
    "q10_join_multiway", "q11_window", "q14_events_hourly", "q15_sessionize",
    "q21_dedup_exact", "q42_explode_words", "q85_tfidf")
  // driver finishers (Theil-Sen, PQ Lloyd), pins and GlobalOrder
  val finishers: Seq[String] = Seq(
    "q320_theil_sen", "q235_span_dedup", "q207_pq_index", "q416_quantile_norm")
  val lake: Seq[String] = Seq(
    "q04_delete_insert", "q98_time_travel", "q289_bloom_refresh")
  val streams: Seq[String] = Seq("q121_exactly_once_sink", "q219_stream_components")
  /** Medallion jobs of the refresh: bronze, silver, gold. */
  val refreshJobs: Seq[(String, String)] = Seq(
    "bronze" -> "q01_bronze_flatten", "silver" -> "q02_silver_category",
    "gold" -> "q06_jdbc_sink")
  /** Warm-up before timing: one small query loads the parquet reader,
    * shuffle and codegen paths. */
  val warm: Seq[String] = Seq("q07_agg_full")

  private def day(first: String, span: Int, rnd: Random): String =
    java.time.LocalDate.parse(first).plusDays(rnd.nextInt(span).toLong).toString

  def steps(workload: String, seed: Long): Seq[Step] = {
    val rnd = new Random(seed)
    workload match {
      case "analytics" => rnd.shuffle(headline ++ finishers).map(Step(_, "sf0.1"))
      case "fixed_floor" => rnd.shuffle(headline ++ finishers).map(Step(_, "sf0.001"))
      case "lake_refresh" =>
        val days = Iterator.continually(
          Refresh(day("2024-01-01", 30, rnd), day("1995-01-01", 2404, rnd)))
          .scanLeft(Seq.empty[Refresh])((acc, r) =>
            if (acc.exists(a => a.eventDay == r.eventDay || a.orderDay == r.orderDay)) acc
            else acc :+ r)
          .dropWhile(_.size < 2).next()
        // the first refresh runs again last: the idempotent backfill
        val refresh = (days :+ days.head).map(r =>
          Step(s"refresh_${r.eventDay}_${r.orderDay}", "sf0.1", Some(r)))
        refresh ++ Seq(Step("q36_partition_prune", "sf0.1")) ++
          rnd.shuffle(lake).map(Step(_, "sf0.1")) ++
          rnd.shuffle(streams).map(Step(_, "sf0.1"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}

object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  /** Set-ups per run; `setup_s` is their median. */
  private val Setups = 3
  /** Watchdog: a step with no result after this long counts as failed. */
  private val StepTimeoutS = 90L

  private def fail(code: Int, msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.exit(code)
    throw new IllegalStateException(msg)
  }

  private def reason(t: Throwable): String = {
    val c = Option(t.getCause).filter(_ => t.isInstanceOf[ExecutionException]).getOrElse(t)
    s"${c.getClass.getName}: ${Option(c.getMessage).getOrElse("").take(400)}"
  }

  private def bytesUnder(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  private def vmHwmKb(): Long =
    try {
      val lines = Files.readAllLines(Paths.get("/proc/self/status"))
      var kb = -1L
      lines.forEach { l =>
        if (l.startsWith("VmHWM:")) kb = l.split("\\s+")(1).toLong
      }
      kb
    } catch { case _: Exception => -1L }

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, fail(2, s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val data = opt("data")
    val work = opt("work")
    val out = opt("out")
    val dump = opts.get("dump")
    val nproc = Runtime.getRuntime.availableProcessors
    System.setProperty("perfbench.scratch", s"$work/scratch")

    val steps = try Workloads.steps(workload, seed)
      catch { case e: IllegalArgumentException => fail(2, e.getMessage) }
    // exact keys only: a prefix match could silently pick another query
    val registry = SparkEntry.queries
    val needed = steps.filter(_.refresh.isEmpty).map(_.name) ++
      Workloads.refreshJobs.map(_._2) ++ Workloads.warm
    val missing = needed.distinct.filterNot(registry.contains)
    if (missing.nonEmpty) fail(3, s"steps not in SparkEntry.queries: ${missing.mkString(", ")}")
    for (sf <- steps.map(_.sf).distinct :+ "sf0.001")
      if (!new File(s"$data/$sf/lineitem.parquet").exists())
        fail(2, s"no generated tables under $data/$sf")

    val spans = new Spans
    val runSpan = spans.begin("run", "workload" -> workload, "seed" -> seed)
    def timed[T](name: String)(body: => T): T = {
      val id = spans.begin(name)
      try body finally spans.end(id)
    }

    // --- set-up: session + warm-up, `Setups` times; the first counts from
    // JVM start, the rest from stopping the previous session
    val setupS = mutable.ArrayBuffer[Double]()
    val sessionS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 0 until Setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 0) spans.now - (System.currentTimeMillis() - jvmStart) / 1e3 else spans.now
      spark = timed("session")(GraftSession.local("perfbench", nproc))
      spark.sparkContext.setLogLevel("ERROR")
      sessionS += spans.now - t0
      timed("warm") {
        Workloads.warm.foreach(q =>
          registry(q)(spark, s"$data/sf0.001").queryExecution.toRdd.foreach(_ => ()))
      }
      setupS += spans.now - t0
    }
    // serving database and the refresh's lake root, fresh per run
    val url = "jdbc:derby:memory:perfbench;create=true"
    val props = new Properties()
    val lakeRoot = s"$work/lake"
    val goldCols = Seq("o_orderkey", "c_name", "nation", "o_totalprice", "date_id")
    if (steps.exists(_.refresh.nonEmpty)) {
      val c = java.sql.DriverManager.getConnection(url, props)
      try {
        val st = c.createStatement()
        st.executeUpdate("CREATE SCHEMA SERVE")
        st.executeUpdate("CREATE TABLE SERVE.GOLD (" + goldCols.zip(Seq("BIGINT",
          "VARCHAR(64)", "VARCHAR(32)", "DOUBLE", "VARCHAR(10)"))
          .map { case (c, t) => s""""$c" $t""" }.mkString(", ") + ")")
        st.close()
      } finally c.close()
    }
    val jobs = Workloads.refreshJobs.map { case (n, q) =>
      n -> JobRunner.Job(n, (s: SparkSession, d: String) => registry(q)(s, d)) }.toMap
    // rows each job committed per day, as runDay reported them
    val committed = mutable.Map[(String, String), Long]()

    // --- one step: build (registry call or runDay), plan, consume or load
    val planInfo = mutable.Map[Int, Map[String, Any]]()
    val lastDf = mutable.LinkedHashMap[String, DataFrame]()
    def runStep(step: Step, stepSpan: Int): Map[String, Any] = {
      val dir = s"$data/${step.sf}"
      def phase[T](name: String)(body: => T): T = {
        val id = spans.begin(name)
        spark.sparkContext.setJobGroup(s"pb-$id", s"${step.name}:$name", interruptOnCancel = true)
        try body finally {
          spans.end(id)
          spark.sparkContext.clearJobGroup()
        }
      }
      step.refresh match {
        case Some(r) =>
          phase("build") {
            for ((day, names) <- Seq(r.eventDay -> Seq("bronze"), r.orderDay -> Seq("silver", "gold")))
              JobRunner.runDay(spark, dir, lakeRoot, day, names.map(jobs))
                .foreach { case (job, n) => committed((job, day)) = n }
          }
          phase("load") {
            val gold = PartitionedLake.read(spark, JobRunner.tablePath(lakeRoot, "gold"))
              .filter(col("date_id") === r.orderDay)
              .select(goldCols.map(c => if (c == "date_id") col(c).cast("string").as(c) else col(c)): _*)
            JdbcSink.load(gold, url, "SERVE", "GOLD", "date_id", r.orderDay, props, nproc)
          }
          Map.empty
        case None =>
          val df = phase("build")(registry(step.name)(spark, dir))
          val qe = df.queryExecution
          phase("plan")(qe.executedPlan)
          // consumed like graft.Bench (every row of toRdd, all columns),
          // folding a 64-bit hash of each row into the result check
          val schema = qe.executedPlan.schema
          val parts = phase("consume")(spark.sparkContext.runJob(qe.toRdd,
            (it: Iterator[InternalRow]) => {
              val proj = UnsafeProjection.create(schema)
              var n = 0L
              var h = 0L
              it.foreach { row =>
                val u = proj(row)
                n += 1
                h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
              }
              (n, h)
            }))
          if (traced) {
            val ph = qe.tracker.phases
            def sec(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
            planInfo(stepSpan) = Map("analysis_s" -> sec("analysis"),
              "optimization_s" -> sec("optimization"), "planning_s" -> sec("planning")) ++
              Tracer.planShape(qe.executedPlan)
          }
          if (dump.nonEmpty) lastDf(step.name) = df
          Map("n_rows" -> parts.map(_._1).sum, "row_hash" -> parts.map(_._2).sum)
      }
    }

    // --- one attempt of a step on the step thread; a watchdog turns a hang
    // into a counted failure and stops any stream it left running
    def newPool() = Executors.newSingleThreadExecutor((r: Runnable) => {
      val t = new Thread(r, "perfbench-step"); t.setDaemon(true); t
    })
    var pool = newPool()
    def attempt(step: Step, id: Int): Either[String, Map[String, Any]] = {
      val fut = pool.submit(new Callable[Map[String, Any]] {
        def call(): Map[String, Any] = runStep(step, id)
      })
      try Right(fut.get(StepTimeoutS, TimeUnit.SECONDS))
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelAllJobs()
          spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
          pool.shutdownNow()
          pool.awaitTermination(30, TimeUnit.SECONDS)
          pool = newPool()
          Left(s"timeout: no result after ${StepTimeoutS}s")
        case e: ExecutionException => Left(reason(e))
      } finally spans.end(id)
    }

    // --- warm pass, untimed: the workload's registry queries once at
    // sf0.001, so the measured passes do not time first-use code
    // generation and JIT compilation of the same plans
    if (dump.isEmpty) timed("warm_pass") {
      for (step <- steps if step.refresh.isEmpty)
        attempt(step.copy(sf = "sf0.001"), spans.begin("warm_step", "step" -> step.name))
    }
    val tracer = if (traced) Some(new Tracer(spark, spans)) else None
    tracer.foreach(_.attach())

    // --- measured passes: one client, closed loop, each step waits for
    // the previous result
    val attempts = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[(Double, Double)]()
    val workloadSpan = spans.begin("workload")
    tracer.foreach(_.startMeasure())
    val measureStart = spans.now
    var pass = 0
    while (pass == 0 || (dump.isEmpty && spans.now - measureStart < seconds)) {
      val p0 = spans.now
      for (step <- steps) {
        val id = spans.begin("step", "step" -> step.name, "pass" -> pass)
        val result = attempt(step, id)
        attempts += Map("step" -> step.name, "pass" -> pass, "span" -> id,
          "ok" -> result.isRight, "error" -> result.left.toOption) ++
          result.getOrElse(Map.empty)
      }
      passes += ((p0, spans.now))
      pass += 1
    }
    spans.end(workloadSpan)
    pool.shutdownNow()
    val traceOut = tracer.map(_.finish()).getOrElse(Map.empty)

    // --- output checks outside the timed passes: the refresh's committed
    // counts and served rows against the registry frames they come from
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = Reconcile.fingerprint(df, df.columns.toSeq.map(c => col(s"`${c.replace("`", "``")}`"))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val checks = mutable.ArrayBuffer[Map[String, Any]]()
    val refreshed = steps.flatMap(_.refresh).distinct
    if (refreshed.nonEmpty) {
      val dir = s"$data/sf0.1"
      val orderDays = refreshed.map(_.orderDay)
      def perDay(q: String, days: Seq[String]): Map[String, Long] =
        registry(q)(spark, dir).filter(col("date_id").isin(days: _*))
          .groupBy("date_id").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      val direct = Workloads.refreshJobs.flatMap { case (job, q) =>
        val days = if (job == "bronze") refreshed.map(_.eventDay) else orderDays
        val got = perDay(q, days)
        days.map(d => (job, d) -> got.getOrElse(d, 0L))
      }.toMap
      val served = fingerprint(spark.read.jdbc(url, "SERVE.GOLD", props)
        .select(goldCols.map(col): _*).filter(col("date_id").isin(orderDays: _*)))
      val gold = fingerprint(registry("q06_jdbc_sink")(spark, dir)
        .select(goldCols.map(col): _*)
        .filter(col("date_id").isin(orderDays: _*)))
      checks += Map("step" -> "refresh", "ok" -> (served == gold && committed == direct),
        "detail" -> s"served=$served gold=$gold committed=$committed direct=$direct")
    }
    // --- expectation mode: Reconcile fingerprints and a parquet dump of
    // each query step for the DuckDB oracle cross-check
    dump.foreach { d =>
      for ((name, df) <- lastDf) {
        val (n, fp) = fingerprint(df)
        checks += Map("step" -> name, "n_rows" -> n, "xor_fp" -> fp)
        df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
      }
      val oracle = SparkEntry.oracleSql.filter { case (k, _) => lastDf.contains(k) }
      Files.writeString(Paths.get(s"$d/oracle_sql.json"), json.writeValueAsString(oracle))
    }

    spans.end(runSpan)
    val record = Map(
      "env" -> Map("workload" -> workload, "seed" -> seed, "nproc" -> nproc,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark" -> spark.version, "java" -> sys.props("java.version"),
        "traced" -> traced, "seconds" -> seconds, "commit" -> opts.getOrElse("commit", "")),
      "steps" -> steps.map(s => Map("name" -> s.name, "sf" -> s.sf)),
      "setup_s" -> setupS, "session_s" -> sessionS,
      "passes" -> passes.map { case (a, b) => Seq(a, b) },
      "attempts" -> attempts, "checks" -> checks,
      "plans" -> planInfo.map { case (k, v) => k.toString -> v },
      "stored_b" -> (bytesUnder(Scratch.root) + bytesUnder(lakeRoot)),
      "vm_hwm_kb" -> vmHwmKb(),
      "spans" -> spans.all,
      "trace" -> traceOut)
    Files.writeString(Paths.get(out), json.writeValueAsString(record))
    spark.stop()
    System.exit(0)
  }
}
