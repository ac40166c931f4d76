package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.{Dsl, Graft, GraftQuery, SparkEntry, Tables}

/** JVM side of the benchmark: one client in a closed loop drives the
  * library through its public entry points (`Graft.session`,
  * `SparkEntry` queries, `Graft.pgSql`, `Graft.catalog`,
  * `Graft.dml.mergeIntoTable`) and writes every sample to
  * `<out>/result.json`. `perfbench/run.py` makes the inputs, starts
  * this program, checks the outputs and turns the samples into metrics.
  *
  * Arguments: --workload W --data DIR --inputs FILE --out DIR
  * --seconds S --trace 0|1 --cores N --setups K
  */
object Main {

  final case class OpRecord(name: String, round: Int, startNs: Long,
      durNs: Long, ok: Boolean, error: String, fields: Map[String, Any])

  /** What a workload does; `op` runs one timed operation and returns
    * the fields to record with it (untimed checks happen in `after`). */
  trait Workload {
    def setup(spark: SparkSession): Unit
    def round(r: Int): Seq[String]
    /** The operations of untimed warm-up round `r`. */
    def warmup(r: Int): Seq[String] = round(r)
    def op(spark: SparkSession, name: String): Any
    def after(spark: SparkSession, name: String, out: Any): Map[String, Any]
    def finish(spark: SparkSession): Map[String, Any]
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val outDir = opt("out")
    val seconds = opt("seconds").toDouble
    val tracer = new Tracer(opt("trace") == "1")
    val cores = opt("cores").toInt
    val setups = opt.getOrElse("setups", "3").toInt
    val inputs = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new File(opt("inputs")), classOf[java.util.Map[String, Any]])
      .asScala.toMap
    val work: Workload = opt("workload") match {
      case "corpus_sweep" =>
        new QueryWorkload(opt("data"), inputs, outDir, tracer)
      case "pg_dialect" => new PgWorkload(opt("data"), inputs, tracer)
      case "ingest_merge" => new IngestWorkload(opt("data"), inputs, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val loadStart = Counters.loadavg()

    // Set-up is repeated: session start plus the workload's table set-up,
    // torn down between repetitions; the last session stays for the run.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to setups).foreach { k =>
      val t0 = System.nanoTime()
      spark = Graft.session(s"local[$cores]", "graft-perfbench")
      work.setup(spark)
      setupS += (System.nanoTime() - t0) / 1e9
      if (k < setups) {
        Tables.unpin()
        Graft.catalog.reset()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }
    val listener = new ExecListener
    if (tracer.enabled) spark.sparkContext.addSparkListener(listener)
    val w0 = System.nanoTime()
    val warmupRounds = inputs("warmup_rounds").asInstanceOf[Int]
    val warmupOps = (0 until warmupRounds).flatMap { r =>
      work.warmup(r).map { n =>
        val s = System.nanoTime()
        val ok = try { work.op(spark, n); true } catch { case _: Throwable => false }
        Map("name" -> n, "dur_ms" -> (System.nanoTime() - s) / 1e6, "ok" -> ok)
      }
    }
    val warmupS = (System.nanoTime() - w0) / 1e9

    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val gc0 = (Counters.gcCount, Counters.gcMs)
    val t0 = System.nanoTime()
    var round = 0
    // Whole rounds only, so every run attempts the same mix of operations;
    // a workload with a fixed number of timed rounds ignores --seconds.
    val timedRounds = inputs("timed_rounds").asInstanceOf[Int]
    def more = if (timedRounds > 0) round < timedRounds
      else round == 0 || (System.nanoTime() - t0) / 1e9 < seconds
    while (more) {
      work.round(round).foreach { name =>
        tracer.setOp(ops.size)
        val c0 = (Counters.compiles, Counters.compileNs)
        val s = System.nanoTime()
        var err = ""
        val out =
          try tracer.span("op")(work.op(spark, name))
          catch { case e: Throwable => err = errorClass(e); null }
        val dur = System.nanoTime() - s
        val layerFields =
          if (!tracer.enabled) Map.empty[String, Any]
          else Map("compiles" -> (Counters.compiles - c0._1),
            "compile_ns" -> (Counters.compileNs - c0._2)) ++ phases(out)
        val checked =
          if (err.nonEmpty) Map.empty[String, Any]
          else try work.after(spark, name, out)
          catch { case e: Throwable => Map("check_error" -> errorClass(e)) }
        ops += OpRecord(name, round, s - t0, dur, err.isEmpty, err,
          layerFields ++ checked)
      }
      round += 1
    }
    val timedNs = System.nanoTime() - t0
    val gc1 = (Counters.gcCount, Counters.gcMs)
    val finish = work.finish(spark)
    val loadEnd = Counters.loadavg()

    val extra = mutable.LinkedHashMap.empty[String, Any]
    if (tracer.enabled) {
      Counters.drain(spark.sparkContext)
      extra("spans") = tracer.spans.toSeq ++ jobSpans(listener, tracer)
      extra("exec") = execTotals(listener, tracer)
    }
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> opt("workload"),
      "setup_s" -> setupS.toSeq,
      "warmup_s" -> warmupS,
      "warmup_ops" -> warmupOps,
      "timed_s" -> timedNs / 1e9,
      "rounds" -> round,
      "gc_count" -> (gc1._1 - gc0._1),
      "gc_ms" -> (gc1._2 - gc0._2),
      "loadavg" -> Seq(loadStart, loadEnd),
      "machine" -> machine(spark, cores),
      "ops" -> ops.toSeq.map(o => Map("name" -> o.name, "round" -> o.round,
        "start_ms" -> o.startNs / 1e6, "dur_ms" -> o.durNs / 1e6,
        "ok" -> o.ok, "error" -> o.error) ++ o.fields),
      "finish" -> finish) ++ extra
    record("retained_heap_mb") = Counters.retainedHeapMb()
    Tables.unpin()
    spark.stop()
    Files.writeString(Paths.get(outDir, "result.json"), Json(record))
  }

  def errorClass(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.nextOption()
      .getOrElse("")
    s"${e.getClass.getSimpleName}: ${msg.take(300)}"
  }

  /** Catalyst phase durations recorded by the query's planning tracker. */
  def phases(out: Any): Map[String, Any] = out match {
    case (df: org.apache.spark.sql.Dataset[_], _) =>
      df.queryExecution.tracker.phases.map { case (k, v) =>
        s"phase_$k" -> v.durationMs }
    case _ => Map.empty
  }

  def machine(spark: SparkSession, cores: Int): Map[String, Any] = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    Map("nproc" -> Runtime.getRuntime.availableProcessors,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jvm" -> System.getProperty("java.vm.version"),
      "jvm_flags" -> rt.getInputArguments.asScala.toSeq,
      "spark" -> spark.version,
      "master" -> s"local[$cores]")
  }

  private def nsAt(ms: Long, t0: Long, epoch0: Long): Long =
    t0 + (ms - epoch0) * 1000000L

  /** Jobs and stages as spans, each under the deepest span of the
    * operation that was open when it was submitted. */
  def jobSpans(l: ExecListener, tr: Tracer): Seq[Span] = {
    val (refNs, refMs) = (System.nanoTime(), System.currentTimeMillis())
    def ns(ms: Long) = nsAt(ms, refNs, refMs)
    val opSpans = tr.spans.filter(_.endNs > 0).toSeq
    val out = mutable.ArrayBuffer.empty[Span]
    var id = tr.spans.size
    l.synchronized {
      l.jobs.values.foreach { j =>
        val start = ns(j.startMs)
        val owner = opSpans.filter(s => s.startNs <= start && start <= s.endNs)
          .sortBy(s => s.endNs - s.startNs).headOption
        owner.foreach { o =>
          val jid = id; id += 1
          val end = if (j.endMs > 0) ns(j.endMs) else start
          out += Span(jid, o.id, o.op, "job", start, math.max(start, end))
          j.stages.flatMap(l.stages.get).filter(_.submitMs > 0).foreach { s =>
            out += Span(id, jid, o.op, "stage", ns(s.submitMs),
              math.max(ns(s.submitMs), ns(math.max(s.endMs, s.submitMs))))
            id += 1
          }
        }
      }
    }
    out.toSeq
  }

  /** Task totals of the stages that ran inside the timed operations. */
  def execTotals(l: ExecListener, tr: Tracer): Map[String, Any] = {
    val (refNs, refMs) = (System.nanoTime(), System.currentTimeMillis())
    val opSpans = tr.spans.filter(s => s.name == "op" && s.endNs > 0)
    def inOp(ms: Long) = {
      val n = nsAt(ms, refNs, refMs)
      opSpans.exists(s => s.startNs <= n && n <= s.endNs)
    }
    l.synchronized {
      val jobs = l.jobs.values.filter(j => inOp(j.startMs)).toSeq
      val stages = jobs.flatMap(_.stages).distinct.flatMap(l.stages.get)
        .filter(_.tasks > 0)
      Map("jobs" -> jobs.size, "stages" -> stages.size,
        "tasks" -> stages.map(_.tasks).sum,
        "failed_tasks" -> stages.map(_.failed).sum,
        "task_ms" -> stages.map(_.runMs).sum,
        "task_wait_ms" -> stages.map(_.waitMs).sum,
        "input_bytes" -> stages.map(_.inputBytes).sum,
        "shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum,
        "shuffle_read_bytes" -> stages.map(_.shuffleRead).sum,
        "spill_bytes" -> stages.map(_.spill).sum,
        "output_bytes" -> stages.map(_.outputBytes).sum)
    }
  }

  def strings(m: Map[String, Any], k: String): Seq[String] =
    m(k).asInstanceOf[java.util.List[String]].asScala.toSeq

  /** Rows as JSON-ready values. */
  def rowValues(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq.map(plain))

  private def plain(v: Any): Any = v match {
    case r: Row => r.toSeq.map(plain)
    case s: scala.collection.Seq[_] => s.map(plain)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> plain(x) }
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.bigDecimal.toPlainString
    case t: java.sql.Timestamp => t.toString
    case t: java.time.temporal.TemporalAccessor => t.toString
    case d: java.sql.Date => d.toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case x => x
  }
}

/** Every round runs the same operations, each round in its own order
  * drawn from the run's seed. */
final class SeededRounds(ops: Seq[String], in: Map[String, Any]) {
  private val rng = new scala.util.Random(in("seed").asInstanceOf[Int])
  private val made = mutable.ArrayBuffer.empty[Seq[String]]

  def apply(r: Int): Seq[String] = {
    while (made.size <= r) made += rng.shuffle(ops)
    made(r)
  }
}

/** corpus_sweep: `SparkEntry` entries, each built through its `run`
  * function and collected. Each distinct result of an entry
  * is written once, as parquet, for the oracle comparison. */
final class QueryWorkload(dataDir: String, in: Map[String, Any],
    outDir: String, tr: Tracer) extends Main.Workload {
  private val byName: Map[String, GraftQuery] =
    SparkEntry.all.map(q => q.name -> q).toMap
  /** The round's entries: every `stride`-th corpus entry and the named
    * ones. Each round runs them in a seeded order. */
  private val entries: Seq[String] = {
    val always = Main.strings(in, "always").toSet
    val stride = in("stride").asInstanceOf[Int]
    SparkEntry.all.map(_.name).zipWithIndex
      .collect { case (n, i) if i % stride == 0 || always(n) => n }
  }
  private val order = new SeededRounds(entries, in)
  /** Warm-up entries, none of them in the timed round: every third
    * stride, half a stride off. They pay the JVM's and the session's
    * shared first-query costs, which would otherwise land on whichever
    * timed entries the seed puts first. */
  private val warmupEntries: Seq[String] = {
    val stride = in("stride").asInstanceOf[Int]
    SparkEntry.all.map(_.name).zipWithIndex
      .collect { case (n, i) if i % (3 * stride) == stride / 2 => n }
      .filterNot(entries.contains)
  }
  private val seen = mutable.Map.empty[String, mutable.ArrayBuffer[String]]

  def setup(spark: SparkSession): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    Tables.registerAll(spark, dataDir)
    // One scan-join-aggregate over the two smallest tables, so Spark's
    // own first-query cost lands in set-up and not on whichever entry
    // the seed puts first.
    spark.table("nation")
      .join(spark.table("region"), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name")).count().collect()
    Files.writeString(Paths.get(outDir, "oracle_sql.json"),
      Json(SparkEntry.oracleSql))
  }

  def round(r: Int): Seq[String] = order(r)

  override def warmup(r: Int): Seq[String] = warmupEntries

  def op(spark: SparkSession, name: String): Any = {
    val q = byName(name)
    val df = tr.span("build")(q.run(spark, dataDir))
    if (tr.enabled) tr.span("plan")(df.queryExecution.executedPlan)
    val rows = tr.span("execute")(df.collect())
    (df, rows)
  }

  def after(spark: SparkSession, name: String, out: Any): Map[String, Any] = {
    val (df, rows) = out.asInstanceOf[(DataFrame, Array[Row])]
    val print = rows.map(_.toString).sorted.mkString("\n")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(print.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val prior = seen.getOrElseUpdate(name, mutable.ArrayBuffer.empty)
    val k = prior.indexOf(digest) match {
      case -1 =>
        prior += digest
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/results/${prior.size - 1}/$name")
        prior.size - 1
      case i => i
    }
    Map("result" -> k, "rows" -> rows.length)
  }

  def finish(spark: SparkSession): Map[String, Any] = Map.empty
}

/** pg_dialect: generated PG statements through `Graft.pgSql`. */
final class PgWorkload(dataDir: String, in: Map[String, Any], tr: Tracer)
    extends Main.Workload {
  private val stmts: Map[String, String] =
    in("statements").asInstanceOf[java.util.Map[String, String]].asScala.toMap
  private val order = new SeededRounds(stmts.keys.toSeq.sorted, in)

  def setup(spark: SparkSession): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    Tables.registerAll(spark, dataDir)
  }

  def round(r: Int): Seq[String] = order(r)

  def op(spark: SparkSession, name: String): Any = {
    val pg = stmts(name)
    if (tr.enabled) tr.span("translate")(graft.sql.PgDialect.translate(pg))
    val df = tr.span("build")(Graft.pgSql(spark, pg))
    if (tr.enabled) tr.span("plan")(df.queryExecution.executedPlan)
    (df, tr.span("execute")(df.collect()))
  }

  def after(spark: SparkSession, name: String, out: Any): Map[String, Any] = {
    val rows = out.asInstanceOf[(DataFrame, Array[Row])]._2
    Map("values" -> Main.rowValues(rows), "chars" -> stmts(name).length)
  }

  def finish(spark: SparkSession): Map[String, Any] = Map.empty
}

/** ingest_merge: colocated orders/lineitem and a reference customer
  * table made through `Graft.catalog`; each operation merges one
  * generated batch into orders and then runs one colocated read. A
  * round runs each read shape once, in a seeded order. */
final class IngestWorkload(dataDir: String, in: Map[String, Any], tr: Tracer)
    extends Main.Workload {
  private val batches = Main.strings(in, "batches")
  private val order =
    new SeededRounds(Seq("segment_status", "priority_revenue"), in)
  private var nextBatch = 0
  private val createMs = mutable.ArrayBuffer.empty[Double]
  private val tables = Seq("bm_lineitem", "bm_orders", "bm_customer")

  def setup(spark: SparkSession): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    // The session's default 10 MB broadcast limit would broadcast orders
    // at this scale and bypass the colocated layout; the catalog's own
    // colocation tests turn it off the same way. Reference tables stay
    // broadcast through their hint.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def timed(f: => Any): Unit = {
      val s = System.nanoTime(); f; createMs += (System.nanoTime() - s) / 1e6
    }
    val read = (t: String) => spark.read.parquet(s"$dataDir/$t.parquet")
    timed(Graft.catalog.createDistributedTable(spark, read("lineitem"),
      "bm_lineitem", "l_orderkey"))
    timed(Graft.catalog.createDistributedTable(spark, read("orders"),
      "bm_orders", "o_orderkey", colocateWith = Some("bm_lineitem")))
    timed(Graft.catalog.createReferenceTable(spark, read("customer"),
      "bm_customer"))
    nextBatch = 0
  }

  def round(r: Int): Seq[String] = order(r)

  private def readQuery(spark: SparkSession, name: String): DataFrame = {
    val o = Graft.catalog.table(spark, "bm_orders")
    val l = Graft.catalog.table(spark, "bm_lineitem")
    val c = Graft.catalog.table(spark, "bm_customer")
    val joined = o.join(l, o("o_orderkey") === l("l_orderkey"))
    name match {
      case "segment_status" =>
        joined.join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("c_mktsegment"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(Dsl.cents(col("l_extendedprice"))).as("ep_cents"),
            sum(Dsl.cents(col("o_totalprice"))).as("tp_cents"))
      case "priority_revenue" =>
        joined.filter(col("l_discount") >= 0.05)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(Dsl.cents(col("l_extendedprice")) *
              Dsl.oneMinusCents(col("l_discount"))).as("rev"),
            max(Dsl.cents(col("o_totalprice"))).as("max_tp"))
    }
  }

  def op(spark: SparkSession, name: String): Any = {
    val batch = spark.read.parquet(batches(nextBatch % batches.size))
    nextBatch += 1
    val cols = batch.columns.map(c => c -> col(s"s.$c")).toMap
    tr.span("merge")(Graft.dml.mergeIntoTable(spark, "bm_orders", batch,
      "o_orderkey", Graft.dml.MergeClauses(
        matchedUpdate = Map("o_totalprice" -> col("s.o_totalprice"),
          "o_orderstatus" -> col("s.o_orderstatus")),
        notMatchedInsert = Some(cols))))
    val df = tr.span("build")(readQuery(spark, name))
    if (tr.enabled) tr.span("plan")(df.queryExecution.executedPlan)
    (df, tr.span("execute")(df.collect()))
  }

  /** The orders ⋈ lineitem join node of the executed plan, whatever its
    * strategy, and the shuffle and broadcast exchanges below it. The
    * colocated join must move no data: it must exist and need none. */
  private def joinExchanges(df: DataFrame): (String, Int) = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def uses(keys: Seq[Expression], c: String) =
      keys.exists(_.references.exists(_.name == c))
    val joins = graft.plans.PlanChecks.nodesOf(plan).collect {
      case j: BaseJoinExec if uses(j.leftKeys ++ j.rightKeys, "o_orderkey") &&
          uses(j.leftKeys ++ j.rightKeys, "l_orderkey") => j
    }
    joins.headOption match {
      case None => ("missing", -1)
      case Some(j) => (j.nodeName, graft.plans.PlanChecks.nodesOf(j).count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      })
    }
  }

  def after(spark: SparkSession, name: String, out: Any): Map[String, Any] = {
    val (df, rows) = out.asInstanceOf[(DataFrame, Array[Row])]
    val (join, exchanges) = joinExchanges(df)
    Map("values" -> Main.rowValues(rows), "batches_applied" -> nextBatch,
      "read_join" -> join, "read_exchanges" -> exchanges)
  }

  def finish(spark: SparkSession): Map[String, Any] = {
    val o = Graft.catalog.table(spark, "bm_orders")
    val state = o.agg(count(lit(1)), sum(col("o_orderkey")),
      sum(Dsl.cents(col("o_totalprice"))),
      sum(when(col("o_orderstatus") === "F", 1).otherwise(0))).collect()
    val files = tables.map { t =>
      val dir = new File(new java.net.URI(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(t)).toString))
      Option(dir.listFiles()).getOrElse(Array.empty[File])
        .count(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    }.sum
    Map("state" -> Main.rowValues(state).head,
      "batches_applied" -> nextBatch,
      "table_bytes" -> tables.map(Graft.catalog.totalRelationSize(spark, _)).sum,
      "table_files" -> files,
      "create_ms" -> createMs.toSeq)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => apply(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case s: String => str(s)
    case sp: Span => apply(Map("id" -> sp.id, "parent" -> sp.parent,
      "op" -> sp.op, "name" -> sp.name, "start_ns" -> sp.startNs,
      "end_ns" -> sp.endNs))
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
