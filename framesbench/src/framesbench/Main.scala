package framesbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.sources.Csv

/** JVM side of the benchmark: one SparkSession, one closed-loop client.
  * Writes a raw JSON record of everything it measured; `run.py` turns it
  * into metrics and checks the outputs against the stored digests.
  *
  * Usage: Main bench <workload> <seconds> <trace 0|1> <inputs> <runDir> <out.json>
  *        Main oracle <out.json>   (every operation's oracle SQL, for make_oracle.py)
  */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "bench" :: w :: secs :: trace :: inputs :: runDir :: out :: Nil =>
      bench(w, secs.toDouble, trace == "1", inputs, runDir, out)
    case "oracle" :: out :: Nil => oracle(out)
    case _ => sys.error(s"bad arguments: ${args.mkString(" ")}")
  }

  private val cores = Runtime.getRuntime.availableProcessors()

  private def session(runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("framesbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def now(): Double = System.nanoTime() / 1e9

  // ---------------------------------------------------------------------
  // Passes.
  // ---------------------------------------------------------------------

  final case class OpRec(name: String, wall: Double, ok: Boolean, error: String, span: Long)
  final case class PassRec(kind: String, wall: Double, ops: Seq[OpRec], span: Long)

  private def runPass(
      ctx: Ctx, ops: Seq[Op], kind: String, checkDir: Option[String],
      tracer: Option[Tracer]): PassRec = {
    ctx.state.clear()
    val pass = tracer.map(_.open("pass", kind, 0L))
    var verifyTime = 0.0
    val t0 = now()
    val recs = ops.map { op =>
      val span = tracer.map(_.open("op", op.name, pass.get.id))
      val o0 = now()
      val err =
        try {
          op.body(ctx).foreach { df =>
            checkDir match {
              case Some(d) => df.write.mode("overwrite").parquet(s"$d/${op.name}")
              case None => df.write.format("noop").mode("overwrite").save()
            }
          }
          ""
        } catch { case NonFatal(e) => s"${e.getClass.getName}: ${e.getMessage}" }
      val wall = now() - o0
      span.foreach(s => tracer.get.close(s))
      for (d <- checkDir; v <- op.verify if err.isEmpty) {
        val v0 = now()
        v(ctx).write.mode("overwrite").parquet(s"$d/${op.name}")
        verifyTime += now() - v0
      }
      if (err.nonEmpty) System.err.println(s"[framesbench] ${op.name} failed: $err")
      OpRec(op.name, wall, err.isEmpty, err, span.map(_.id).getOrElse(0L))
    }
    val wall = now() - t0 - verifyTime
    pass.foreach(s => tracer.get.close(s))
    PassRec(kind, wall, recs, pass.map(_.id).getOrElse(0L))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // ---------------------------------------------------------------------
  // Layer probes (traced runs): timed direct calls into sources and
  // functions, each the median of three repetitions.
  // ---------------------------------------------------------------------

  private def timed(reps: Int)(f: => Unit): Double =
    median((1 to reps).map { _ => val t0 = now(); f; now() - t0 })

  private def probes(spark: SparkSession, ctx: Ctx): Seq[(String, Double)] = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def bytes(p: String): Long = {
      val s = Files.walk(Paths.get(p))
      try s.filter(f => f.toString.endsWith(".csv")).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
    var cols = Csv.inferSchemaDistributed(spark, ctx.csvLineitem)
    val infer = timed(3) {
      cols = Csv.inferSchemaDistributed(spark, ctx.csvLineitem)
      Csv.inferSchema(ctx.csvLineitem)
    }
    val read = timed(3)(noop(Csv.readTableWith(spark, ctx.csvLineitem, cols)))
    val li = spark.read.parquet(s"${ctx.inputs}/lineitem.parquet")
    val write = timed(3)(Csv.writeCsv(li, s"${ctx.scratch}/probe_csv"))
    val csvMb = bytes(ctx.csvLineitem) / 1048576.0

    // functions: each public column function over the documents (or
    // embeddings) replicated 20x, folded to one number so nothing prunes it
    val t = graft.Tables(spark, ctx.inputs)
    val docs = t.documents(fan = false).crossJoin(spark.range(20)).select(col("text"))
    val vecs = t.embeddings.crossJoin(spark.range(20)).select(col("embedding"))
    val ref = t.embeddings.orderBy(col("vec_id")).head.getSeq[Float](1).map(_.toDouble)
    def fold(df: DataFrame, c: org.apache.spark.sql.Column): Unit = df.select(sum(c)).collect()
    Seq(
      "sources.csv_infer_s" -> infer,
      "sources.csv_read_s" -> read,
      "sources.csv_write_s" -> write,
      "sources.csv_mb_per_s" -> csvMb / read,
      "functions.bpeTokens_s" -> timed(3)(fold(docs, size(TextFunctions.bpeTokens(col("text"))))),
      "functions.wordShingles_s" ->
        timed(3)(fold(docs, size(TextFunctions.wordShingles(col("text"), 3)))),
      "functions.textStats_s" ->
        timed(3)(fold(docs, TextFunctions.textStats(col("text")).getField("n_tokens"))),
      "functions.cosine_s" ->
        timed(3)(fold(vecs, VectorFunctions.cosine(col("embedding"), typedLit(ref)))))
  }

  // ---------------------------------------------------------------------
  // One benchmark run.
  // ---------------------------------------------------------------------

  def bench(
      workload: String, seconds: Double, trace: Boolean,
      inputs: String, runDir: String, out: String): Unit = {
    val ops = Ops.workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(runDir)
    val sessionStart = (System.currentTimeMillis() - jvmStart) / 1000.0
    val ctx = Ctx(spark, inputs, s"$runDir/scratch")
    val checkDir = s"$runDir/check"

    // first pass after session start writes every output: the check pass
    val cold = runPass(ctx, ops, "cold", Some(checkDir), None)
    // warm-up until pass time stops falling: the median of the last four
    // passes is within 3% of the median of the four before. Pass time falls
    // for tens of seconds (JIT, and a host that speeds up under load), so
    // single-pass comparisons stop on noise, and a rise is a burst of host
    // load, not the end of warm-up; capped at `seconds`
    val warm = mutable.ArrayBuffer.empty[PassRec]
    val warmUntil = now() + seconds
    def settled: Boolean = warm.size >= 8 && {
      val w = warm.map(_.wall).toSeq
      math.abs(median(w.takeRight(4)) / median(w.slice(w.size - 8, w.size - 4)) - 1) < 0.03
    }
    while (!settled && now() < warmUntil) warm += runPass(ctx, ops, "warmup", None, None)
    // timed passes; a traced run alternates untraced and traced passes
    // (the listener is registered for the traced ones only) so the tracing
    // overhead is measured on equally warm code
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val timed = mutable.ArrayBuffer.empty[PassRec]
    val traced = mutable.ArrayBuffer.empty[PassRec]
    val until = now() + seconds * (if (trace) 2 else 1)
    do {
      timed += runPass(ctx, ops, "timed", None, None)
      tracer.foreach { t =>
        spark.sparkContext.addSparkListener(t)
        traced += runPass(ctx, ops, "traced", None, tracer)
        t.drain()
        spark.sparkContext.removeSparkListener(t)
      }
    } while (now() < until)

    // traced runs: probe-only operations (a checked run, then a timed one),
    // then the layer probes
    val pops = if (trace) Ops.probeOps.getOrElse(workload, Nil) else Nil
    val probePasses =
      if (pops.isEmpty) Nil
      else Seq(runPass(ctx, pops, "probe_check", Some(checkDir), None),
        runPass(ctx, pops, "probe", None, None))
    val layer = if (trace) probes(spark, ctx) else Nil

    val hwmKb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(-1.0)
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    def passJson(p: PassRec) = Json.obj(
      "kind" -> p.kind, "wall_s" -> p.wall, "span" -> p.span,
      "ops" -> p.ops.map(o => Json.obj("name" -> o.name, "wall_s" -> o.wall, "ok" -> o.ok,
        "error" -> o.error, "span" -> o.span)))
    val rec = Json.obj(
      "workload" -> workload,
      "all_ops" -> Ops.workloads.map { case (k, v) => k -> v.map(_.name) },
      "probe_ops" -> Ops.probeOps.map { case (k, v) => k -> v.map(_.name) },
      "session" -> Json.obj(
        "master" -> spark.sparkContext.master,
        "cores" -> cores,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "jvm_flags" -> jvmArgs.filterNot(_.startsWith("--add-opens")),
        "spark_version" -> spark.version),
      "session_s" -> sessionStart,
      "check_dir" -> checkDir,
      "passes" -> (Seq(cold) ++ warm ++ timed ++ traced ++ probePasses).map(passJson),
      "spans" -> tracer.map(_.spans).getOrElse(Nil).map(s => Json.obj(
        "id" -> s.id, "kind" -> s.kind, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.start, "end_ms" -> s.end, "counts" -> s.counts)),
      "probes" -> Json.Obj(layer),
      "vmhwm_kb" -> hwmKb)
    Files.writeString(Paths.get(out), Json.write(rec))
    spark.stop()
  }

  /** Every operation's oracle SQL, for make_oracle.py. */
  def oracle(out: String): Unit = {
    val all = Ops.workloads.toSeq ++ Ops.probeOps.toSeq
    val sql = all.sortBy(_._1).flatMap { case (w, ops) =>
      ops.map(op => op.name -> Json.obj("workload" -> w, "sql" -> op.oracle))
    }
    Files.writeString(Paths.get(out), Json.write(Json.Obj(sql)))
  }
}
