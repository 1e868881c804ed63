package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{BenchHarness, SparkEntry}
import graft.operators.{TaxiFsm, TaxiPosition}
import graft.queries.TaxiQueries
import graft.sources.TaxiText

/** One operation of a workload: build the DataFrame (the builders may run
  * eager `ckpt`/`collect` jobs), execute it to a result, check the result.
  */
trait Op {
  def name: String
  def build(spark: SparkSession): DataFrame
  def exec(df: DataFrame): Any
  /** None when correct, else what was wrong. */
  def check(result: Any): Option[String]
}

/** Order-free, duplicate-counting digest of a result: row count plus the
  * sum of one xxhash64 per row over all columns in name order, doubles
  * and floats rendered to 10 significant digits first (so last-bit float
  * drift does not change it). `-0.0 + 0.0` folds negative zero.
  */
object Digest {
  def of(df: DataFrame): String = {
    val cols = df.schema.fields.sortBy(_.name).toIndexedSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType) + lit(0.0))
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    s"${r.getLong(0)}:$s"
  }
}

/** A `SparkEntry` ledger row, checked against its recorded digest. */
final class LedgerOp(val name: String, sfDir: String, expected: Option[String]) extends Op {
  private val fn = SparkEntry.queries(name)
  def build(spark: SparkSession): DataFrame = fn(spark, sfDir)
  def exec(df: DataFrame): Any = Digest.of(df)
  def check(result: Any): Option[String] = expected match {
    case Some(e) if e == result => None
    case Some(e) => Some(s"digest $result, expected $e")
    case None => Some(s"digest $result, no expected digest recorded")
  }
}

/** Exercise 2: segments -> positions -> trips -> daily revenue, then the
  * grand total over the daily rows read back, as the reference's driver
  * does. Both are checked to the cent against the oracle.
  */
final class Ex2(segments: String, expectedDaily: Map[String, BigDecimal], expectedTotal: BigDecimal) {
  @volatile private var dailyRows: Array[Row] = Array.empty

  private def cents(v: Double): BigDecimal =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)

  val daily: Op = new Op {
    def name = "ex2_daily"
    def build(spark: SparkSession): DataFrame =
      TaxiQueries.dailyRevenue(TaxiQueries.reconstructTrips(spark, TaxiText.readSegments(spark, segments)))
    def exec(df: DataFrame): Any = { dailyRows = df.collect(); dailyRows }
    def check(result: Any): Option[String] = {
      val got = result.asInstanceOf[Array[Row]].map(r => r.getString(0) -> cents(r.getDouble(1))).toMap
      if (got == expectedDaily) None
      else {
        val bad = (got.keySet ++ expectedDaily.keySet).toSeq.sorted
          .filter(d => got.get(d) != expectedDaily.get(d)).take(3)
        Some(s"${got.size} days vs ${expectedDaily.size} expected; first differences: " +
          bad.map(d => s"$d ${got.get(d)} vs ${expectedDaily.get(d)}").mkString(", "))
      }
    }
  }

  val total: Op = new Op {
    def name = "ex2_total"
    def build(spark: SparkSession): DataFrame = {
      val schema = StructType(Seq(StructField("date", StringType), StructField("daily_revenue", DoubleType)))
      TaxiQueries.totalRevenue(spark.createDataFrame(dailyRows.toSeq.asJava, schema))
    }
    def exec(df: DataFrame): Any = df.head().getDouble(0)
    def check(result: Any): Option[String] = {
      val got = cents(result.asInstanceOf[Double])
      if (got == expectedTotal) None else Some(s"total $got, expected $expectedTotal")
    }
  }

  val ops: Seq[Op] = Seq(daily, total)
}

final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean, root: Path,
    rows: Seq[String], sfDir: String, digests: Map[String, String],
    segments: String, expected: String, spawnMs: Long,
    spans: String, record: String)

object Main {
  val MinPasses = 3
  /** Untimed passes in set-up. The first pass of a JVM pays for class
    * loading and code generation; the next two are still up to a third
    * slower than the ones after them while the JIT compiles the hot code.
    */
  val WarmPasses = 3
  /** Untraced (false) and traced (true) passes of a traced run, in an order
    * whose mean position is the same for both, so a run's speed-up over its
    * passes does not read as tracing overhead.
    */
  val TraceOrder = Seq(false, true, true, false, true, false, false, true)

  private def die(code: Int, msg: String): Nothing = {
    System.err.println(s"[graftbench] $msg")
    System.out.flush()
    sys.exit(code)
  }

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String, d: String = "") = m.getOrElse(k, d)
    val digests =
      if (get("digests").isEmpty) Map.empty[String, String]
      else Files.readAllLines(Paths.get(get("digests"))).asScala
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\t")).collect { case Array(k, v) => k -> v }.toMap
    Args(get("workload"), get("seed", "0").toLong, get("seconds", "10").toDouble,
      get("trace", "0") == "1", Paths.get(get("root", ".")).toAbsolutePath,
      get("rows").split(",").toSeq.filter(_.nonEmpty), get("sf"), digests,
      get("segments"), get("expected"), get("spawn-ms", "0").toLong,
      get("spans"), get("record"))
  }

  /** Refuse to time stale classes: the stamp written after compiling must
    * be newer than every source it compiled.
    */
  def guardFreshClasses(root: Path): Unit = {
    val stamp = root.resolve(".bench_build/classes.stamp")
    if (!Files.exists(stamp)) die(3, s"refusing to time: no build stamp at $stamp")
    val built = Files.getLastModifiedTime(stamp).toMillis
    val dirs = Seq(root.resolve("src/main/scala"), root.resolve("perfbench/src"))
    val newer = dirs.flatMap { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.filter(p => p.toString.endsWith(".scala") &&
        Files.getLastModifiedTime(p).toMillis > built).toList
      finally s.close()
    }
    if (newer.nonEmpty) die(3, s"refusing to time: classes older than ${newer.head}")
  }

  /** `spark.graft.ckpt.disable` turns every ckpt into an identity and voids
    * the frozen-block contracts the ledger relies on: audit-only.
    */
  def guardCkpt(spark: SparkSession): Unit =
    if (spark.conf.getOption("spark.graft.ckpt.disable").contains("true") ||
        sys.props.get("spark.graft.ckpt.disable").contains("true"))
      die(3, "refusing to time: spark.graft.ckpt.disable is set (plan-audit only)")

  def ops(a: Args): Seq[Op] = a.workload match {
    case "ex2_revenue" =>
      val lines = Files.readAllLines(Paths.get(a.expected)).asScala.map(_.split("\t"))
      val daily = lines.collect { case Array(d, v) if d.head.isDigit => d -> BigDecimal(v) }.toMap
      val total = lines.collectFirst { case Array("TOTAL", v) => BigDecimal(v) }
        .getOrElse(die(2, s"no TOTAL line in ${a.expected}"))
      new Ex2(a.segments, daily, total).ops
    case "ledger" =>
      val names = a.rows.map { r =>
        SparkEntry.queries.keys.find(_ == r).getOrElse(die(2, s"unknown ledger row $r"))
      }
      new scala.util.Random(a.seed).shuffle(names).map(n => new LedgerOp(n, a.sfDir, a.digests.get(n)))
    case w => die(2, s"unknown workload '$w'")
  }

  def confirmInputs(a: Args): Unit = {
    val need = a.workload match {
      case "ex2_revenue" => Seq(a.segments, a.expected)
      case _ => Seq(a.sfDir)
    }
    need.foreach(p => if (!Files.exists(Paths.get(p))) die(2, s"missing input $p"))
  }

  final case class PassResult(wallS: Double, attempted: Int, failed: Int, opS: Seq[(String, Double)])

  /** Run every op once, one after another on this thread. */
  def pass(spark: SparkSession, ops: Seq[Op], tr: Option[Tracer]): PassResult = {
    val t0 = System.nanoTime()
    var failed = 0
    val opS = ops.map { op =>
      val o0 = System.nanoTime()
      val span = tr.map(_.open("op", op.name))
      try {
        val df = Tracer.phase(tr, "build", op.name)(op.build(spark))
        val res = Tracer.phase(tr, "exec", op.name)(op.exec(df))
        op.check(res).foreach { why =>
          failed += 1
          System.err.println(s"[graftbench] ${op.name}: wrong result: $why")
        }
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[graftbench] ${op.name}: failed: $e")
      } finally for (s <- span; t <- tr) t.close(s)
      op.name -> (System.nanoTime() - o0) / 1e9
    }
    PassResult((System.nanoTime() - t0) / 1e9, ops.size, failed, opS)
  }

  /** Heap still in use after full collections: what the program holds live.
    * The first collection lets Spark's ContextCleaner see the RDDs,
    * shuffles and broadcasts no longer referenced; it drops their blocks on
    * its own thread, and the second collection frees what those held.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    guardFreshClasses(a.root)
    if (a.record.nonEmpty) { Record.run(a); sys.exit(0) }
    val bootS = (System.currentTimeMillis() - a.spawnMs) / 1e3
    val workOps = ops(a)
    // One cold session start, the inputs check and the untimed warm passes.
    val t0 = System.nanoTime()
    val spark = BenchHarness.session("graftbench")
    guardCkpt(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    confirmInputs(a)
    val passes = ArrayBuffer.fill(WarmPasses)(pass(spark, workOps, None))
    val warmS = (System.nanoTime() - t1) / 1e9
    // The same tiny query last for every op order, so what the last op
    // leaves reachable (its query execution, plans and broadcasts) does
    // not depend on which op the seed put last.
    spark.range(1).count()
    val liveMb = liveHeapMb()
    val timed = ArrayBuffer[PassResult]()
    var traceMetrics = Map.empty[String, Double]
    if (!a.trace) {
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      while (timed.size < MinPasses || System.nanoTime() < deadline) timed += pass(spark, workOps, None)
    } else {
      // Untraced and traced passes alternate; the listeners are only
      // registered for the traced ones. The per-layer metrics come from the
      // last traced pass.
      val tr = Tracer.create(spark)
      var lastWl: Span = null
      val walls = TraceOrder.map { traced =>
        if (!traced) false -> pass(spark, workOps, None)
        else {
          tr.register()
          val wl = tr.open("workload", a.workload)
          val p = pass(spark, workOps, Some(tr))
          tr.close(wl)
          tr.drain()
          tr.unregister()
          lastWl = wl
          true -> p
        }
      }
      timed ++= walls.map(_._2)
      tr.register()
      val extra = a.workload match {
        case "ex2_revenue" => Ex2Layers.measure(spark, tr, a.segments)
        case _ => Map.empty[String, Double]
      }
      tr.drain()
      def med(traced: Boolean) = {
        val xs = walls.collect { case (`traced`, p) => p.wallS }.sorted
        (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2
      }
      val untraced = walls.collect { case (false, p) => p.wallS }
      traceMetrics = tr.metrics(lastWl, spark.sparkContext.defaultParallelism) ++ extra ++ Map(
        "trace.overhead_frac" -> (med(true) / med(false) - 1.0),
        "trace.noise_frac" -> ((untraced.max - untraced.min) / med(false)),
        "trace.spans" -> tr.spanCount.toDouble)
      if (a.spans.nonEmpty) tr.writeSpans(Paths.get(a.spans))
    }
    val all = passes ++ timed
    val rss = peakRssMb()
    def arr(xs: Iterable[Double]) = xs.map(x => f"$x%.6f").mkString("[", ",", "]")
    def opJson(p: PassResult) = p.opS.map { case (k, v) => f""""$k":$v%.6f""" }.mkString("{", ",", "}")
    val tm = traceMetrics.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v.toString }
      .mkString("{", ",", "}")
    val jvm = System.getProperty("java.vm.name") + " " + System.getProperty("java.runtime.version")
    println("BENCH-JVM " +
      s"""{"boot_s":$bootS,"session_s":$sessionS,"warm_s":$warmS,"live_heap_mb":$liveMb,""" +
      s""""pass_s":${arr(timed.map(_.wallS))},"warm_pass_s":${arr(passes.map(_.wallS))},""" +
      s""""warm_op_s":${opJson(passes.head)},""" +
      s""""op_s":${timed.map(opJson).mkString("[", ",", "]")},""" +
      s""""attempted":${all.map(_.attempted).sum},"failed":${all.map(_.failed).sum},""" +
      s""""peak_rss_mb":$rss,"jvm":"$jvm","cores":${spark.sparkContext.defaultParallelism},""" +
      s""""shuffle_partitions":"${spark.conf.get("spark.sql.shuffle.partitions")}",""" +
      s""""ops":${workOps.map("\"" + _.name + "\"").mkString("[", ",", "]")},"trace":$tm}""")
    System.out.flush()
    spark.stop()
    sys.exit(0)
  }
}

/** Exercise-2 layer split for the traced run: prefix timings of the same
  * pipeline (parse only, positions, trips, daily), each consumed by count(),
  * and the FSM kernel over an in-memory pre-sorted sample, no Spark.
  */
object Ex2Layers {
  /** Mirrors `TaxiQueries.positionsDf`: accepted positions with epoch ts. */
  private def positions(seg: DataFrame): DataFrame =
    TaxiQueries.segmentsToPositions(seg)
      .withColumn("ts", graft.functions.Geo.tsToEpoch(col("tsS")))
      .filter(col("ts").isNotNull)
      .select("taxi", "ts", "tsS", "latS", "longS", "status")

  def measure(spark: SparkSession, tr: Tracer, segments: String): Map[String, Double] = {
    import spark.implicits._
    // Each prefix is a plan of its own: one untimed run to compile and warm
    // it, then the faster of two traced runs.
    def timed[T](name: String)(body: => T): (T, Double, Int) = {
      body
      (1 to 2).map { _ =>
        val s = tr.open("prefix", name)
        val t0 = System.nanoTime()
        val r = Tracer.phase(Some(tr), "exec", name)(body)
        val dt = (System.nanoTime() - t0) / 1e9
        tr.close(s)
        (r, dt, s.id)
      }.minBy(_._2)
    }
    // Prefixes are consumed by count(): every filter that decides whether a
    // row survives still runs, and a hashing consumer would cost more than
    // the small later stages it is subtracted from.
    val segIn = spark.read.text(segments).count()
    val (nSeg, tParse, _) = timed("parse")(TaxiText.readSegments(spark, segments).count())
    val (nPos, tPos, _) = timed("positions")(positions(TaxiText.readSegments(spark, segments)).count())
    val (nTrips, tTrips, tripsSpan) = timed("trips")(
      TaxiQueries.reconstructTrips(spark, TaxiText.readSegments(spark, segments)).count())
    val (_, tDaily, _) = timed("daily")(TaxiQueries.dailyRevenue(
      TaxiQueries.reconstructTrips(spark, TaxiText.readSegments(spark, segments))).collect())
    tr.drain()

    // FSM kernel: the same positions, sorted in the exchange's key order.
    val sample = positions(TaxiText.readSegments(spark, segments)).as[TaxiPosition].collect()
      .sortBy(p => (p.taxi, p.tsS, p.latS, p.longS, p.status))
    val reps = ArrayBuffer[Double]()
    var kernelTrips = 0
    val until = System.nanoTime() + 1500000000L
    while (reps.size < 3 || System.nanoTime() < until) {
      val t0 = System.nanoTime()
      kernelTrips = TaxiFsm.sessionizePartition(sample.iterator).size
      reps += (System.nanoTime() - t0) / 1e9
    }
    val med = reps.sorted.apply(reps.size / 2)
    if (kernelTrips != nTrips)
      System.err.println(s"[graftbench] FSM kernel gave $kernelTrips trips, Spark $nTrips")

    val st = tr.stagesUnder(tripsSpan)
    val fsmStage = if (st.isEmpty) None else Some(st.maxBy(_.shuffleRead))
    Map(
      "sources.parse_s" -> tParse,
      "sources.segments_in" -> segIn.toDouble,
      "sources.segments_kept" -> nSeg.toDouble,
      "functions.positions_s" -> (tPos - tParse),
      "functions.positions_out" -> nPos.toDouble,
      "functions.kept_frac" -> nPos.toDouble / (2.0 * nSeg),
      "plans.trips_s" -> (tTrips - tPos),
      "plans.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "plans.sort_s" -> st.map(_.sortMs).sum / 1e3,
      "plans.spill_bytes" -> st.map(_.spill).sum.toDouble,
      "plans.fetch_wait_s" -> st.map(_.fetchWaitMs).sum / 1e3,
      "plans.fsm_stage_task_s" -> fsmStage.map(_.runMs / 1e3).getOrElse(0.0),
      "queries.daily_s" -> (tDaily - tTrips),
      "operators.fsm_positions_per_s" -> sample.length / med,
      "operators.trips_out" -> nTrips.toDouble)
  }
}
